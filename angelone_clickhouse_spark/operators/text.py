"""Text analysis over the ``documents`` table (north star: "text
analysis"): token statistics, quality scoring, corpus rollups,
language-ID, and winnowing fingerprints.

Everything except language-ID is built-in column/higher-order
functions (JVM, codegen). Language-ID is an Arrow-batched pandas UDF —
a character-trigram profile scorer (the classic n-gram heuristic; cf.
Cavnar & Trenkle 1994) with deterministic, code-declared profiles, so
it needs no model artifact.
"""

from __future__ import annotations

import pandas as pd
from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F
from pyspark.sql.functions import pandas_udf
from pyspark.sql.types import StringType

from angelone_clickhouse_spark.materialize import (
    checkpoint_sized as _checkpoint_sized,
)
from angelone_clickhouse_spark.operators.dedup import DEEP_GROUP_BOUND
from angelone_clickhouse_spark.operators.pipeline import FP_WINDOW
from angelone_clickhouse_spark.functions.exact import avg_fixed
from angelone_clickhouse_spark.sources.tables import load_table

STOPWORDS = ("a", "the", "of", "and", "in", "to")
_STOP_SQL = "(" + ", ".join(f"'{s}'" for s in STOPWORDS) + ")"


def text_token_stats(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Per-document token counting (whitespace tokenization — the
    documents fixture is single-space word soup)."""
    docs = load_table(spark, sf_dir, "documents")
    w = F.split("text", " ")
    return docs.select(
        "doc_id",
        F.size(w).alias("n_tokens"),
        F.size(F.array_distinct(w)).alias("n_distinct_tokens"),
        F.length("text").alias("text_len"),
        F.round(
            (F.length("text") - F.size(w) + 1) / F.size(w), 6
        ).alias("avg_token_len"),
    )


def text_quality(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Quality heuristics: stopword ratio, type-token ratio, length
    gate — the standard cheap pre-filters of an LLM data pipeline."""
    docs = load_table(spark, sf_dir, "documents")
    w = F.split("text", " ")
    n = F.size(w)
    n_stop = F.size(F.expr(f"filter(split(text, ' '), x -> x IN {_STOP_SQL})"))
    ttr = F.size(F.array_distinct(w)) / n
    stop_ratio = n_stop / n
    return docs.select(
        "doc_id",
        F.round(stop_ratio, 6).alias("stopword_ratio"),
        F.round(ttr, 6).alias("type_token_ratio"),
        (
            (n >= 10)
            & (stop_ratio <= 0.5)
            & (ttr >= 0.2)
        ).alias("passes_quality"),
    )


def text_lang_stats(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Corpus rollup by (lang, source)."""
    docs = load_table(spark, sf_dir, "documents")
    return docs.groupBy("lang", "source").agg(
        F.count(F.lit(1)).alias("n_docs"),
        F.sum("n_chars").alias("total_chars"),
        avg_fixed("n_chars", "avg_chars"),
    )


# --- language ID (pandas UDF) ----------------------------------------------
# Tiny code-declared trigram profiles; deterministic and dependency-free.
_LANG_PROFILES = {
    "en": ["the", "and", "ing", "ion", "ent"],
    "es": ["que", "ión", "los", "ent", "ado"],
    "fr": ["les", "ent", "ion", "que", "des"],
    "de": ["der", "ein", "ich", "sch", "und"],
    "zh": [],  # CJK handled by codepoint-range check below
}


@pandas_udf(StringType())
def _langid_udf(texts: pd.Series) -> pd.Series:
    def predict(t: str) -> str:
        if t is None or not t:
            return "und"
        cjk = sum(1 for ch in t[:200] if "一" <= ch <= "鿿")
        if cjk > len(t[:200]) * 0.2:
            return "zh"
        low = t.lower()
        scores = {
            lang: sum(low.count(tri) for tri in tris)
            for lang, tris in _LANG_PROFILES.items()
            if tris
        }
        best = max(scores, key=lambda k: (scores[k], k))
        return best if scores[best] > 0 else "und"

    return texts.map(predict)


def text_langid(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Heuristic n-gram language ID vs the labeled lang column.
    The Arrow-batched pandas UDF is the operator; the DuckDB oracle
    re-derives the identical heuristic in SQL (trigram occurrence
    counts via replace-length arithmetic, CJK codepoint-range check,
    max-by-(score, lang) tie-break), giving the Python path a true
    value-level differential."""
    docs = load_table(spark, sf_dir, "documents")
    pred = docs.select("doc_id", "lang", _langid_udf("text").alias("pred_lang"))
    return pred.groupBy("lang", "pred_lang").agg(F.count(F.lit(1)).alias("n_docs"))


def _langid_oracle_sql() -> str:
    """SQL spelling of _langid_udf.predict. Occurrence count of a
    trigram = (len - len(replace(low, tri, ''))) / 3 — replace removes
    non-overlapping matches left-to-right exactly like str.count."""

    def score(lang: str) -> str:
        terms = " + ".join(
            f"(length(low) - length(replace(low, '{tri}', ''))) // 3"
            for tri in _LANG_PROFILES[lang]
        )
        return f"({terms}) AS s_{lang}"

    langs_desc = sorted(
        (lang for lang, tris in _LANG_PROFILES.items() if tris), reverse=True
    )
    # max by (score, lang): scan langs in DESCENDING name order with >=
    # so ties resolve to the lexicographically greatest language,
    # matching python's max(scores, key=lambda k: (scores[k], k))
    best_cases = []
    for i, lang in enumerate(langs_desc[:-1]):
        others = langs_desc[i + 1 :]
        cond = " AND ".join(f"s_{lang} >= s_{o}" for o in others)
        best_cases.append(f"WHEN {cond} THEN '{lang}'")
    best_lang = (
        "CASE " + " ".join(best_cases) + f" ELSE '{langs_desc[-1]}' END"
    )
    best_score = f"greatest({', '.join('s_' + L for L in langs_desc)})"
    return f"""
WITH scored AS (
  SELECT doc_id, lang,
         CASE WHEN text IS NULL OR text = '' THEN NULL
              ELSE lower(text) END AS low,
         length(regexp_replace(substring(text, 1, 200),
                               '[^\\x{{4E00}}-\\x{{9FFF}}]', '', 'g'))
           AS cjk,
         length(substring(text, 1, 200)) AS head_len
  FROM documents
),
s AS (
  SELECT doc_id, lang, low, cjk, head_len,
         {", ".join(score(L) for L in langs_desc)}
  FROM scored
),
pred AS (
  SELECT doc_id, lang,
         CASE WHEN low IS NULL THEN 'und'
              WHEN cjk > head_len * 0.2 THEN 'zh'
              WHEN {best_score} > 0 THEN {best_lang}
              ELSE 'und' END AS pred_lang
  FROM s
)
SELECT lang, pred_lang, count(*) AS n_docs
FROM pred
GROUP BY lang, pred_lang
"""


def text_fingerprint(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Winnowing document fingerprints (Schleimer et al., SIGMOD'03):
    rolling window minimum over shingle hashes, built entirely from
    higher-order array functions.

    The shingle hash is the md5 HEX STRING, minimized
    lexicographically: both engines implement md5 identically and
    ASCII-hex string order is engine-independent, which makes the
    whole op DuckDB-oracle-checkable (xxhash64 exists only in Spark).
    Short docs (<3 words) yield no shingles — the guard prevents a
    descending sequence() fabricating bogus shingles."""
    from angelone_clickhouse_spark.operators.dedup import (
        spread_low_parallelism,
    )

    # the per-doc md5+rolling-min stage is map-side CPU: spread a
    # below-cores scan first (single-row-group fixture files scan as
    # ONE partition — see dedup.spread_low_parallelism)
    docs = spread_low_parallelism(
        load_table(spark, sf_dir, "documents").select("doc_id", "text"),
        "doc_id",
        barrier=True,
    )
    # split ONCE into a materialized column: a split() inside the
    # transform lambda re-tokenizes the document per shingle index
    # (O(words^2) — measured ~2x query cost at sf0.1)
    hashed = docs.select(
        "doc_id", F.split("text", " ").alias("w")
    ).select(
        "doc_id",
        F.expr(
            "CASE WHEN size(w) >= 3 THEN "
            "transform(sequence(0, size(w) - 3), "
            "i -> md5(concat_ws(' ', w[i], w[i+1], w[i+2])))"
            " ELSE CAST(array() AS ARRAY<STRING>) END"
        ).alias("hs"),
    ).filter(F.size("hs") >= FP_WINDOW)
    fp = F.array_distinct(
        F.expr(
            f"transform(sequence(0, size(hs) - {FP_WINDOW}), "
            f"i -> array_min(slice(hs, i + 1, {FP_WINDOW})))"
        )
    )
    return hashed.select(
        "doc_id",
        F.size(fp).alias("n_fingerprints"),
        F.size("hs").alias("n_shingles"),
    )


# BPE-pretokenizer-style split (GPT-2 pretokenizer, simplified to the
# RE2/Java-common subset): letter runs | digit runs | single symbol.
# Alternation is leftmost-first in both engines, so counts agree.
BPE_RE = "[a-zA-Z]+|[0-9]+|[^a-zA-Z0-9 ]"


def text_tokenize_regex(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Regex (BPE-pretokenizer-ish) token counting, rolled up per
    event type over ``events.props`` — the documents fixture is
    single-space word soup where a regex tokenizer degenerates to
    whitespace counts, while the JSON props strings exercise the
    letter/digit/symbol alternation for real.

    Whitespace-tokenizer counterpart: ``text_token_stats``. Map-side
    regexp_count + one partial-aggregated shuffle on event_type.
    """
    ev = load_table(spark, sf_dir, "events")
    n_tok = F.regexp_count("props", F.lit(BPE_RE))
    n_word = F.regexp_count("props", F.lit("[a-zA-Z]+"))
    n_num = F.regexp_count("props", F.lit("[0-9]+"))
    return (
        ev.select("event_type", n_tok.alias("t"), n_word.alias("w"),
                  n_num.alias("n"))
        .groupBy("event_type")
        .agg(
            F.count(F.lit(1)).alias("n_rows"),
            F.sum("t").alias("n_tokens"),
            F.sum("w").alias("n_word_tokens"),
            F.sum("n").alias("n_number_tokens"),
            F.sum(F.col("t") - F.col("w") - F.col("n")).alias(
                "n_symbol_tokens"
            ),
        )
    )


FUZZY_PREFIX_LEN = 30
FUZZY_MAX_DIST = 8
FUZZY_BLOCK_CHARS = 50  # n_chars bucket width for blocking
FUZZY_NSEG = FUZZY_MAX_DIST + 1  # PassJoin pigeonhole: tau+1 segments
# Equal-length strings: insertions == deletions, so ins+del <= tau
# bounds EACH by tau/2 — an untouched segment's start shifts by at
# most the net indels before it, i.e. by +-tau/2, not +-tau.
FUZZY_SHIFT = FUZZY_MAX_DIST // 2


def _fuzzy_seg_bounds() -> list[tuple[int, int, int]]:
    """(seg_idx, start, length) 1-based partition of the full-length
    prefix into FUZZY_NSEG contiguous segments (longer segments
    first)."""
    base, rem = divmod(FUZZY_PREFIX_LEN, FUZZY_NSEG)
    out, start = [], 1
    for i in range(FUZZY_NSEG):
        seg_len = base + (1 if i < rem else 0)
        out.append((i, start, seg_len))
        start += seg_len
    return out


def _fuzzy_pairs_core(t: DataFrame) -> DataFrame:
    """Fuzzy string matching — edit-distance self-join with
    CONTENT-DERIVED blocking (PassJoin segment signatures), the
    entity-resolution primitive next to the set-based dedup ladder.
    Levenshtein (identical unit-cost metric in Spark and DuckDB,
    verified) over the document prefix keeps only near-matches within
    the same (lang, length-bucket) block; the oracle stays the naive
    blocked join, so the signature scheme must be lossless.

    Candidate generation (the 100 TB path): partition each full-length
    prefix into tau+1 = 9 contiguous segments. If ed(a, b) <= tau, at
    least one segment of ``a`` is untouched by the optimal alignment
    (pigeonhole) and therefore occurs VERBATIM in ``b``, shifted by at
    most the net indels before it (+-tau/2 for equal-length strings).
    So: index every doc under (lang, lb, seg_idx, segment-text); probe
    every doc with each substring its partner's segment could occupy
    (seg window of +-FUZZY_SHIFT starts); equi-join on the 4-part key.
    The join key now CONTAINS document content, so candidate pairs
    track near-duplicate density instead of block population — the
    former (lang, n_chars div 50) blocking put the whole corpus slice
    in one block and went quadratic in corpus size (VERDICT r3 #3). At
    this fixture's sf0.1 the signature join yields ~130k candidate
    pairs vs 314k block-pairs; on a diverse real corpus the gap is
    orders of magnitude because 3-4-char segment keys are selective.

    Prefixes shorter than FUZZY_PREFIX_LEN (docs shorter than the
    prefix window — absent from this fixture, possible in general) fall
    back to block-local all-pairs against every same-block doc: the
    pigeonhole needs all 9 segments non-degenerate, and the short-doc
    population is the corpus sliver below 30 chars, so the fallback
    block stays bounded.

    Scale notes: one shuffle on the 4-part signature key co-locates
    candidates; the verify filter is a map-side levenshtein on the
    deduplicated pair set. A skewed segment key (stop-word segment)
    would be handled by AQE skew-join like the dedup ladder's bucket
    skew story."""
    bounds = _fuzzy_seg_bounds()
    full = t.filter(F.length("pfx") == FUZZY_PREFIX_LEN)
    short = t.filter(F.length("pfx") < FUZZY_PREFIX_LEN)

    def _side(df: DataFrame, suffix: str, keys) -> DataFrame:
        # EVERY column suffixed: both sides share lineage, and a bare
        # ix["lb"] == pr["lb"] resolves to the same attribute — Spark
        # silently builds a trivially-true predicate and the join stops
        # keying on it (observed via the "trivially true equals
        # predicate" warning in the plain-session pre-flight)
        return df.select(
            F.col("doc_id").alias(f"doc_id{suffix}"),
            F.col("lang").alias(f"lang{suffix}"),
            F.col("lb").alias(f"lb{suffix}"),
            F.col("pfx").alias(f"pfx{suffix}"),
            F.explode(F.array(*keys)).alias("k"),
        ).select(
            f"doc_id{suffix}",
            f"lang{suffix}",
            f"lb{suffix}",
            f"pfx{suffix}",
            F.col("k.i").alias(f"i{suffix}"),
            F.col("k.sub").alias(f"sub{suffix}"),
        )

    seg_keys = [
        F.struct(
            F.lit(i).alias("i"), F.substring("pfx", s, l).alias("sub")
        )
        for i, s, l in bounds
    ]
    probe_keys = [
        F.struct(
            F.lit(i).alias("i"), F.substring("pfx", p, l).alias("sub")
        )
        for i, s, l in bounds
        for p in range(
            max(1, s - FUZZY_SHIFT),
            min(FUZZY_PREFIX_LEN - l + 1, s + FUZZY_SHIFT) + 1,
        )
    ]
    ix = _side(full, "_a", seg_keys)
    pr = _side(full, "_b", probe_keys)
    cand_full = (
        ix.join(
            pr,
            (F.col("lang_a") == F.col("lang_b"))
            & (F.col("lb_a") == F.col("lb_b"))
            & (F.col("i_a") == F.col("i_b"))
            & (F.col("sub_a") == F.col("sub_b"))
            & (F.col("doc_id_a") < F.col("doc_id_b")),
        )
        .select(
            "doc_id_a",
            "doc_id_b",
            F.col("lang_a").alias("lang"),
            "pfx_a",
            "pfx_b",
        )
        .dropDuplicates(["doc_id_a", "doc_id_b"])
    )
    # short-prefix fallback: all-pairs of (short x same-block any),
    # normalized to doc_id_a < doc_id_b
    sa = short.select(
        F.col("doc_id").alias("sid"), "lang", "lb", F.col("pfx").alias("spfx")
    )
    tb = t.select(
        F.col("doc_id").alias("tid"),
        F.col("lang").alias("lang_t"),
        F.col("lb").alias("lb_t"),
        F.col("pfx").alias("tpfx"),
    )
    cand_short = (
        sa.join(
            tb,
            (F.col("lang") == F.col("lang_t"))
            & (F.col("lb") == F.col("lb_t"))
            & (F.col("sid") != F.col("tid")),
        )
        .select(
            F.least("sid", "tid").alias("doc_id_a"),
            F.greatest("sid", "tid").alias("doc_id_b"),
            "lang",
            F.when(F.col("sid") < F.col("tid"), F.col("spfx"))
            .otherwise(F.col("tpfx"))
            .alias("pfx_a"),
            F.when(F.col("sid") < F.col("tid"), F.col("tpfx"))
            .otherwise(F.col("spfx"))
            .alias("pfx_b"),
        )
        .dropDuplicates(["doc_id_a", "doc_id_b"])
    )
    dist = F.levenshtein("pfx_a", "pfx_b")
    return (
        cand_full.unionByName(cand_short)
        .withColumn("dist", dist)
        .filter(F.col("dist") <= FUZZY_MAX_DIST)
        .select(
            "doc_id_a",
            "doc_id_b",
            "lang",
            F.col("dist").cast("int").alias("dist"),
        )
    )


def _fuzzy_grouped(docs: DataFrame, bound: int = DEEP_GROUP_BOUND) -> DataFrame:
    """:func:`_fuzzy_pairs_core` under BOUNDED DUPLICATE-GROUP
    COLLAPSE — the dedup.py :func:`~angelone_clickhouse_spark.operators.dedup._grouped_pairwise`
    device ported verbatim (VERDICT r7 item 3): pair membership and
    the reported distance depend only on (lang, length-bucket,
    prefix), so docs identical on that key group once, the PassJoin
    core runs on ONE representative per distinct key, and pairs
    expand back via JOINS on the group key — membership is never
    collected into an array, so no single task ever holds a whole
    duplicate group (the r6 spelling's `collect_list(members)` +
    in-row explode/C(n,2) put a billion-member group in one task).

    Expansion semantics, group depth n vs ``bound``:

    * cross-group — each side expands to all members iff its group is
      SHALLOW (n <= bound); a DEEP side contributes only its
      representative. Pairs inherit the representatives' distance.
    * within-group, shallow — all C(n,2) identical-key pairs at
      distance 0 (both core paths pair identical keys).
    * within-group, deep — STAR edges rep -> member at distance 0
      (rep = min doc_id, preserving (least, greatest) orientation);
      transitive closure is unchanged.

    With every group shallow (all driver SFs) the output is identical
    to running the core on all docs, so the driver's NAIVE all-pairs
    DuckDB oracle stays an INDEPENDENT differential. Deep branches
    are pinned by tests/test_text.py's bound=2 deep-fixture test.
    Cost: quadratic in DISTINCT keys; per-task expansion fan-out
    capped by ``bound`` on shallow branches and by 1 on deep ones."""
    t = (
        docs.select(
            "doc_id",
            "lang",
            F.expr(f"n_chars div {FUZZY_BLOCK_CHARS}").alias("lb"),
            F.substring("text", 1, FUZZY_PREFIX_LEN).alias("pfx"),
        )
        # a NULL key field can never pair in the core (equi-joins drop
        # NULL keys), so such docs are excluded BEFORE grouping — this
        # also keeps concat_ws sound (it silently skips NULLs, which
        # would otherwise collapse distinct triples into one gkey)
        .filter(
            F.col("lang").isNotNull()
            & F.col("lb").isNotNull()
            & F.col("pfx").isNotNull()
        )
        .withColumn("gkey", F.md5(F.concat_ws("\x1f", "lang", "lb", "pfx")))
    )
    # NOTE (r17, measured-keep): deriving groups/members from one
    # checkpointed keyed frame was tried and measured WORSE (22 -> 32
    # stages here) — column pruning gives each consumer a different
    # partial-agg expression set, the exchanges canonicalize
    # differently, and AQE stage reuse never fires. See
    # dedup._grouped_pairwise for the full note.
    groups = _checkpoint_sized(
        t.groupBy("gkey").agg(
            F.min("doc_id").alias("rep"),
            F.first("lang").alias("lang"),
            F.first("lb").alias("lb"),
            F.first("pfx").alias("pfx"),
            F.count(F.lit(1)).alias("n"),
        ),
        # one materialization feeds the core, the rep->gkey maps, and
        # both within branches; fixed-width rows regardless of depth;
        # checkpoint_sized (r17) sizes the partition count to the row
        # count so the many consumers stop paying shuffle-width
        # near-empty map stages
        "fuzzy groups",
    )
    # materialized: feeds exp_a, cross, and both within branches —
    # without this every join branch re-scans documents and recomputes
    # the key (4-5 extra corpus scans at the scale this rewrite targets)
    members = _checkpoint_sized(
        t.select("gkey", "doc_id"), "fuzzy members"
    )
    rep_pairs = _fuzzy_pairs_core(
        groups.select(F.col("rep").alias("doc_id"), "lang", "lb", "pfx")
    )
    rp = rep_pairs.join(
        groups.select(
            F.col("rep").alias("doc_id_a"),
            F.col("gkey").alias("gkey_a"),
            F.col("n").alias("n_a"),
        ),
        "doc_id_a",
    ).join(
        groups.select(
            F.col("rep").alias("doc_id_b"),
            F.col("gkey").alias("gkey_b"),
            F.col("n").alias("n_b"),
        ),
        "doc_id_b",
    )
    exp_a = rp.filter(F.col("n_a") <= bound).join(
        members.select(
            F.col("gkey").alias("gkey_a"), F.col("doc_id").alias("a")
        ),
        "gkey_a",
    ).select("a", "gkey_b", "n_b", "doc_id_b", "lang", "dist").unionByName(
        rp.filter(F.col("n_a") > bound).select(
            F.col("doc_id_a").alias("a"), "gkey_b", "n_b", "doc_id_b",
            "lang", "dist",
        )
    )
    cross = exp_a.filter(F.col("n_b") <= bound).join(
        members.select(
            F.col("gkey").alias("gkey_b"), F.col("doc_id").alias("b")
        ),
        "gkey_b",
    ).select("a", "b", "lang", "dist").unionByName(
        # doc_id_b IS the rep of the deep B group — no re-join needed
        exp_a.filter(F.col("n_b") > bound)
        .select("a", F.col("doc_id_b").alias("b"), "lang", "dist")
    ).select(
        F.least("a", "b").alias("doc_id_a"),
        F.greatest("a", "b").alias("doc_id_b"),
        "lang",
        "dist",
    )
    paired = groups.filter(F.col("n") >= 2).select("gkey", "rep", "lang", "n")
    sm = members.join(
        paired.filter(F.col("n") <= bound).select("gkey", "lang"), "gkey"
    )
    within_shallow = (
        sm.alias("x")
        .join(
            sm.alias("y"),
            (F.col("x.gkey") == F.col("y.gkey"))
            & (F.col("x.doc_id") < F.col("y.doc_id")),
        )
        .select(
            F.col("x.doc_id").alias("doc_id_a"),
            F.col("y.doc_id").alias("doc_id_b"),
            F.col("x.lang").alias("lang"),
            F.lit(0).cast("int").alias("dist"),
        )
    )
    within_deep = (
        members.join(paired.filter(F.col("n") > bound), "gkey")
        .filter(F.col("doc_id") != F.col("rep"))
        .select(
            F.col("rep").alias("doc_id_a"),
            F.col("doc_id").alias("doc_id_b"),
            "lang",
            F.lit(0).cast("int").alias("dist"),
        )
    )
    return cross.unionByName(within_shallow).unionByName(within_deep)


def fuzzy_prefix_pairs(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Fuzzy edit-distance pairs over documents: PassJoin candidates +
    levenshtein verify, under the bounded duplicate-group collapse
    (see :func:`_fuzzy_grouped`)."""
    return _fuzzy_grouped(load_table(spark, sf_dir, "documents"))


CONTAIN_TAU = 0.5  # fraction of src fingerprints found in dst


def _fp_sets(docs: DataFrame) -> DataFrame:
    """(doc_id, fp array, n_fp) winnowing fingerprint sets for a
    (doc_id, text) frame; docs with no fingerprints are absent."""
    from angelone_clickhouse_spark.operators.dedup import (
        spread_low_parallelism,
    )

    # same map-side-CPU spread as text_fingerprint (the fingerprint
    # build is the dominant stage of the containment family)
    docs = spread_low_parallelism(docs, "doc_id", barrier=True)
    hashed = docs.select(
        "doc_id", F.split("text", " ").alias("w")
    ).select(
        "doc_id",
        F.expr(
            "CASE WHEN size(w) >= 3 THEN "
            "transform(sequence(0, size(w) - 3), "
            "i -> md5(concat_ws(' ', w[i], w[i+1], w[i+2])))"
            " ELSE CAST(array() AS ARRAY<STRING>) END"
        ).alias("hs"),
    ).filter(F.size("hs") >= FP_WINDOW)
    fps = hashed.select(
        "doc_id",
        F.array_distinct(
            F.expr(
                f"transform(sequence(0, size(hs) - {FP_WINDOW}), "
                f"i -> array_min(slice(hs, i + 1, {FP_WINDOW})))"
            )
        ).alias("fp"),
    ).withColumn("n_fp", F.size("fp"))
    # feeds both join sides + sizes in the core (and the collapse's
    # within-group branch); checkpoint_sized (r17): row-count-derived
    # partition count for the consumers
    return _checkpoint_sized(fps, "fingerprint sets")


def _containment_core(docs: DataFrame) -> DataFrame:
    """Directed near-containment over winnowing fingerprints for a
    (doc_id, text) frame: (doc_src, doc_dst, n_common, containment)
    where |fp(src) ∩ fp(dst)| / |fp(src)| >= CONTAIN_TAU, src != dst.

    Shape: inverted fingerprint index self-join (fp -> docs) + a
    count aggregate per directed pair — one shuffle on the
    fingerprint, one on the pair; no arrays carried through the join.
    Scale notes: winnowing already thins shingles ~1/FP_WINDOW; at
    100 TB pass ``df_cap`` to :func:`_containment_from_fps` (drop
    fingerprints appearing in more than ~10^3 docs — stopword-like
    n-grams carry no containment signal and create the only hot
    postings; capped scores only ever drop, see the knob's
    docstring). Division is exact-int -> one IEEE divide, rounded to 6
    on both engines; the threshold filters the ROUNDED value so the
    boundary is engine-independent."""
    return _containment_from_fps(_fp_sets(docs))


def _containment_from_fps(
    fps: DataFrame, df_cap: int | None = None
) -> DataFrame:
    """Directed containment from a (doc_id, fp, n_fp) frame via an
    inverted fingerprint index self-join.

    ``df_cap`` is the 100 TB knob the scale notes promise: drop
    fingerprints whose document frequency exceeds the cap before the
    self-join. A stopword-like shingle appearing in 10^5 docs creates
    a 10^10-row hot posting while carrying no containment signal;
    capping bounds every posting's join fan-out at df_cap^2. ``None``
    (the default, used by every oracle-checked query) keeps the
    computation exact. With a cap, reported containment can only
    DROP (n_common loses capped fingerprints; n_src keeps its exact
    denominator), so the capped output is a subset of the exact
    pairs with conservative scores — the safe direction for a dedup
    gate (pinned by tests/test_text.py)."""
    inv = fps.select("doc_id", F.explode("fp").alias("f"))
    if df_cap is not None:
        hot = (
            inv.groupBy("f")
            .agg(F.count(F.lit(1)).alias("df"))
            .filter(F.col("df") > df_cap)
            .select("f")
        )
        inv = inv.join(F.broadcast(hot), "f", "left_anti")
    a = inv.select(F.col("doc_id").alias("doc_src"), "f")
    b = inv.select(F.col("doc_id").alias("doc_dst"), "f")
    common = (
        a.join(b, "f")
        .filter(F.col("doc_src") != F.col("doc_dst"))
        .groupBy("doc_src", "doc_dst")
        .agg(F.count(F.lit(1)).alias("n_common"))
    )
    sizes = fps.select(
        F.col("doc_id").alias("doc_src"), F.col("n_fp").alias("n_src")
    )
    return (
        common.join(sizes, "doc_src")
        .withColumn(
            "containment", F.round(F.col("n_common") / F.col("n_src"), 6)
        )
        .filter(F.col("containment") >= CONTAIN_TAU)
        .select("doc_src", "doc_dst", "n_common", "containment")
    )


def _containment_grouped(
    docs: DataFrame, bound: int = DEEP_GROUP_BOUND
) -> DataFrame:
    """:func:`_containment_core` under the bounded duplicate-group
    collapse, DIRECTED variant (VERDICT r7 item 3; device from
    dedup.py :func:`~angelone_clickhouse_spark.operators.dedup._grouped_pairwise`):
    containment is a pure function of (text_src, text_dst), so the
    inverted-index self-join runs on one representative per distinct
    text and pairs expand back via JOINS on the text key, keeping
    orientation — membership arrays are gone, so no task ever holds a
    whole duplicate group.

    Expansion semantics, group depth n vs ``bound``:

    * cross-group (directed) — each side expands to all members iff
      its group is SHALLOW (n <= bound); a DEEP side contributes only
      its representative. Pairs inherit (n_common, containment).
    * within-group, shallow — all ORDERED pairs of identical docs at
      containment 1.0, n_common = the group's fingerprint count
      (only for texts that HAVE fingerprints, matching the core).
    * within-group, deep — directed STAR: rep -> member AND
      member -> rep (2(n-1) edges instead of n(n-1)); every member
      keeps an incoming and an outgoing 1.0 edge, so per-doc
      contained/containing flags and weak connectivity survive.

    With every group shallow (all driver SFs) output is identical to
    the core on all docs — the driver's NAIVE DuckDB oracle stays an
    independent differential; deep branches are pinned by
    tests/test_text.py's bound=2 deep-fixture test."""
    # NOTE (r17, measured-keep): the one-checkpoint derivation was
    # tried and measured worse — see dedup._grouped_pairwise.
    keyed = docs.select("doc_id", F.md5("text").alias("tkey"), "text")
    groups = _checkpoint_sized(
        keyed.groupBy("tkey").agg(
            F.min("doc_id").alias("rep"),
            F.min_by("text", "doc_id").alias("text"),
            F.count(F.lit(1)).alias("n"),
        ),
        "containment groups",  # feeds core + all expansions
    )
    # materialized for the same reason as _fuzzy_grouped's members:
    # it feeds exp_s, cross, and both within branches
    members = _checkpoint_sized(
        keyed.select("tkey", "doc_id"), "containment members"
    )
    rep_fps = _fp_sets(groups.select(F.col("rep").alias("doc_id"), "text"))
    rep_pairs = _containment_from_fps(rep_fps)
    rp = rep_pairs.join(
        groups.select(
            F.col("rep").alias("doc_src"),
            F.col("tkey").alias("tkey_s"),
            F.col("n").alias("n_s"),
        ),
        "doc_src",
    ).join(
        groups.select(
            F.col("rep").alias("doc_dst"),
            F.col("tkey").alias("tkey_d"),
            F.col("n").alias("n_d"),
        ),
        "doc_dst",
    )
    exp_s = rp.filter(F.col("n_s") <= bound).join(
        members.select(
            F.col("tkey").alias("tkey_s"), F.col("doc_id").alias("s")
        ),
        "tkey_s",
    ).select(
        "s", "tkey_d", "n_d", "doc_dst", "n_common", "containment"
    ).unionByName(
        rp.filter(F.col("n_s") > bound).select(
            F.col("doc_src").alias("s"),
            "tkey_d",
            "n_d",
            "doc_dst",
            "n_common",
            "containment",
        )
    )
    cross = exp_s.filter(F.col("n_d") <= bound).join(
        members.select(
            F.col("tkey").alias("tkey_d"), F.col("doc_id").alias("d")
        ),
        "tkey_d",
    ).select(
        F.col("s").alias("doc_src"),
        F.col("d").alias("doc_dst"),
        "n_common",
        "containment",
    ).unionByName(
        exp_s.filter(F.col("n_d") > bound).select(
            F.col("s").alias("doc_src"),
            "doc_dst",
            "n_common",
            "containment",
        )
    )
    paired = (
        groups.join(
            rep_fps.select(F.col("doc_id").alias("rep"), "n_fp"), "rep"
        )
        .filter(F.col("n") >= 2)
        .select("tkey", "rep", "n", "n_fp")
    )
    sm = members.join(
        paired.filter(F.col("n") <= bound).select("tkey", "n_fp"), "tkey"
    )
    within_shallow = (
        sm.alias("x")
        .join(
            sm.alias("y"),
            (F.col("x.tkey") == F.col("y.tkey"))
            & (F.col("x.doc_id") != F.col("y.doc_id")),
        )
        .select(
            F.col("x.doc_id").alias("doc_src"),
            F.col("y.doc_id").alias("doc_dst"),
            F.col("x.n_fp").cast("long").alias("n_common"),
            F.lit(1.0).alias("containment"),
        )
    )
    deep = members.join(paired.filter(F.col("n") > bound), "tkey").filter(
        F.col("doc_id") != F.col("rep")
    )
    within_deep = deep.select(
        F.col("rep").alias("doc_src"),
        F.col("doc_id").alias("doc_dst"),
        F.col("n_fp").cast("long").alias("n_common"),
        F.lit(1.0).alias("containment"),
    ).unionByName(
        deep.select(
            F.col("doc_id").alias("doc_src"),
            F.col("rep").alias("doc_dst"),
            F.col("n_fp").cast("long").alias("n_common"),
            F.lit(1.0).alias("containment"),
        )
    )
    return cross.unionByName(within_shallow).unionByName(within_deep)


def doc_containment(spark: SparkSession, sf_dir: str) -> DataFrame:
    """The curation op next to span dedup: a doc whose fingerprint set
    is mostly inside another's is a quote/mirror/superset candidate.
    Containment is asymmetric — a short doc quoted whole inside a long
    one scores 1.0 forward, low backward — exactly what symmetric
    Jaccard dedup misses. Runs :func:`_containment_core` under the
    bounded directed duplicate-group collapse (see
    :func:`_containment_grouped`)."""
    return _containment_grouped(load_table(spark, sf_dir, "documents"))


QUERIES = {
    "doc_containment": doc_containment,
    "text_token_stats": text_token_stats,
    "text_tokenize_regex": text_tokenize_regex,
    "text_quality": text_quality,
    "text_lang_stats": text_lang_stats,
    "text_langid": text_langid,
    "text_fingerprint": text_fingerprint,
    "fuzzy_prefix_pairs": fuzzy_prefix_pairs,
}

ORACLES = {
    "doc_containment": f"""
WITH sh AS (
  SELECT doc_id,
         CASE WHEN len(ws) >= 3 THEN
           list_transform(generate_series(1, len(ws) - 2),
                          i -> md5(ws[i] || ' ' || ws[i+1] || ' ' || ws[i+2]))
         ELSE [] END AS hs
  FROM (SELECT doc_id, string_split(text, ' ') AS ws FROM documents)
),
fp AS (
  SELECT doc_id,
         list_distinct(list_transform(
           generate_series(1, len(hs) - {FP_WINDOW - 1}),
           i -> list_aggregate(hs[i:i+{FP_WINDOW - 1}], 'min'))) AS fp
  FROM sh WHERE len(hs) >= {FP_WINDOW}
),
inv AS (SELECT doc_id, unnest(fp) AS f FROM fp),
common AS (
  SELECT a.doc_id AS doc_src, b.doc_id AS doc_dst, count(*) AS n_common
  FROM inv a JOIN inv b ON a.f = b.f AND a.doc_id <> b.doc_id
  GROUP BY a.doc_id, b.doc_id
)
SELECT doc_src, doc_dst, n_common, containment
FROM (
  SELECT c.doc_src, c.doc_dst,
         CAST(c.n_common AS BIGINT) AS n_common,
         round(c.n_common / len(f.fp), 6) AS containment
  FROM common c JOIN fp f ON f.doc_id = c.doc_src
)
WHERE containment >= {CONTAIN_TAU}
""",
    "fuzzy_prefix_pairs": f"""
WITH t AS (
  SELECT doc_id, lang,
         n_chars // {FUZZY_BLOCK_CHARS} AS lb,
         substring(text, 1, {FUZZY_PREFIX_LEN}) AS pfx
  FROM documents
)
SELECT a.doc_id AS doc_id_a,
       b.doc_id AS doc_id_b,
       a.lang   AS lang,
       CAST(levenshtein(a.pfx, b.pfx) AS INTEGER) AS dist
FROM t a JOIN t b
  ON a.lang = b.lang AND a.lb = b.lb AND a.doc_id < b.doc_id
WHERE levenshtein(a.pfx, b.pfx) <= {FUZZY_MAX_DIST}
""",
    "text_tokenize_regex": f"""
WITH t AS (
  SELECT event_type,
         len(regexp_extract_all(props, '{BPE_RE}'))      AS t,
         len(regexp_extract_all(props, '[a-zA-Z]+'))     AS w,
         len(regexp_extract_all(props, '[0-9]+'))        AS n
  FROM events
)
SELECT event_type,
       CAST(count(*) AS BIGINT)     AS n_rows,
       CAST(sum(t) AS BIGINT)       AS n_tokens,
       CAST(sum(w) AS BIGINT)       AS n_word_tokens,
       CAST(sum(n) AS BIGINT)       AS n_number_tokens,
       CAST(sum(t - w - n) AS BIGINT) AS n_symbol_tokens
FROM t
GROUP BY event_type
""",
    "text_token_stats": """
SELECT doc_id,
       -- DuckDB len()/length() are BIGINT; Spark size()/length() are
       -- INT — CAST so result types match the Spark schema exactly
       -- (oracle cast discipline, r13)
       CAST(len(string_split(text, ' ')) AS INTEGER)         AS n_tokens,
       CAST(len(list_distinct(string_split(text, ' ')))
            AS INTEGER)                                      AS n_distinct_tokens,
       CAST(length(text) AS INTEGER)                         AS text_len,
       round(
         (length(text) - len(string_split(text, ' ')) + 1)
         * 1.0 / len(string_split(text, ' ')), 6)            AS avg_token_len
FROM documents
""",
    "text_quality": f"""
WITH t AS (
  SELECT doc_id,
         string_split(text, ' ') AS ws,
         len(string_split(text, ' ')) AS n
  FROM documents
)
SELECT doc_id,
       round(len(list_filter(ws, x -> x IN {_STOP_SQL})) * 1.0 / n, 6)
         AS stopword_ratio,
       round(len(list_distinct(ws)) * 1.0 / n, 6) AS type_token_ratio,
       (n >= 10
        AND len(list_filter(ws, x -> x IN {_STOP_SQL})) * 1.0 / n <= 0.5
        AND len(list_distinct(ws)) * 1.0 / n >= 0.2) AS passes_quality
FROM t
""",
    "text_lang_stats": """
SELECT lang, source,
       count(*)                          AS n_docs,
       CAST(sum(n_chars) AS BIGINT)      AS total_chars,
       CAST((sum(CAST(round((n_chars) * 100) AS BIGINT)) + count(*) // 2) // count(*) AS DOUBLE) / 100 AS avg_chars
FROM documents
GROUP BY lang, source
""",
    "text_fingerprint": f"""
WITH sh AS (
  SELECT doc_id,
         CASE WHEN len(ws) >= 3 THEN
           list_transform(generate_series(1, len(ws) - 2),
                          i -> md5(ws[i] || ' ' || ws[i+1] || ' ' || ws[i+2]))
         ELSE [] END AS hs
  FROM (SELECT doc_id, string_split(text, ' ') AS ws FROM documents)
)
SELECT doc_id,
       CAST(len(list_distinct(list_transform(
              generate_series(1, len(hs) - {FP_WINDOW - 1}),
              i -> list_aggregate(hs[i:i+{FP_WINDOW - 1}], 'min'))))
            AS INTEGER)                       AS n_fingerprints,
       CAST(len(hs) AS INTEGER)               AS n_shingles
FROM sh
WHERE len(hs) >= {FP_WINDOW}
""",
}

ORACLES["text_langid"] = _langid_oracle_sql()
