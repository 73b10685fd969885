"""Deduplication operators over the ``documents`` / ``embeddings`` tables.

North-star extension ops (BASELINE.json: "dedup"): the reference has no
dedup at all — it re-inserts duplicate WebSocket frames (SURVEY §2.3
streaming-dedup row). This module provides the standard LLM-training-
data dedup ladder:

- exact (content-hash group-by)                      — oracle-checked
- n-gram Jaccard (3-word shingles, exact pairwise)   — oracle-checked
- MinHash + LSH (banded signatures -> candidates -> verify) — oracle-checked
- SimHash (60-bit, banded hamming candidates)        — oracle-checked
- embedding cosine near-dup (exact pairwise)         — oracle-checked
- connected-component clustering over either pair graph — oracle-checked

Scale notes (100 TB):
- exact dedup is one shuffle on a 16-byte hash — always fine.
- exact pairwise Jaccard/cosine are O(n²) verification baselines; at
  scale you run the MinHash-LSH / SimHash paths, whose shuffles are
  bounded by (band key -> bucket) sizes, and only verify within
  buckets. That is exactly how they are implemented here — the
  pairwise ops exist to oracle-check the LSH ops' candidate quality
  (tests/test_dedup.py asserts LSH recall over the planted near-dups).
- all shingle/signature work uses built-in higher-order array
  functions (JVM, codegen) — no Python in any dedup path.
"""

from __future__ import annotations

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F

from angelone_clickhouse_spark.sources.tables import load_table

JACCARD_THRESHOLD = 0.5
COSINE_THRESHOLD = 0.45
N_MINHASH = 16
# 8 bands x 2 rows: P(candidate) = 1-(1-j^2)^8 — ~0.90 at j=0.5 and
# ~0.9997 at j=0.8, so planted near-dups are essentially never missed.
N_BANDS = 8


# --- exact dedup ------------------------------------------------------------
def dedup_exact(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Content-hash dedup: one row per distinct text, keeping the lowest
    doc_id (the canonical survivor)."""
    docs = load_table(spark, sf_dir, "documents")
    return (
        docs.groupBy(F.md5("text").alias("text_hash"))
        .agg(
            F.min("doc_id").alias("keep_doc_id"),
            F.count(F.lit(1)).alias("n_copies"),
        )
    )


def spread_low_parallelism(
    df: DataFrame, key: str, barrier: bool = False
) -> DataFrame:
    """Hash-repartition ``df`` on ``key`` up to the session's core
    count IFF the incoming plan has fewer partitions than cores.

    A CPU-heavy per-row stage (16 md5 MinHash permutations here) runs
    map-side, so its parallelism is CAPPED by the scan's partition
    count — and a single-row-group parquet file scans as ONE partition
    no matter what maxPartitionBytes says, pinning the whole hash
    stage to one core (measured 3.8 s -> 0.6 s for the sf0.1
    signature build). The exact cluster-scale analogue is a few huge
    unsplittable files fanning out to thousands of cores. Conditional
    on the measured partition count, so an already-parallel scan
    (the 100 TB case) is never re-shuffled; hashing on the
    grouping key keeps the downstream groupBy aligned.

    ``barrier=True`` additionally ``localCheckpoint``s the
    repartitioned (still-narrow) frame. Needed whenever the expensive
    downstream expression feeds a row FILTER: Catalyst pushes
    deterministic filters below the Exchange by SUBSTITUTING the
    projection into the predicate, so the whole md5/transform chain
    re-runs pre-shuffle on the unspread partition — observed on
    text_fingerprint's ``size(hs) >= window`` filter, where the
    pushed copy pinned the op to one core despite the repartition
    (3.8 s; 0.4 s with the barrier). At cluster scale the barrier
    is the staged/persisted narrow table the filter then reads."""
    target = df.sparkSession.sparkContext.defaultParallelism
    # Partition probe WITHOUT a Python RDD conversion (r17, VERDICT
    # r16 #7): ``df.rdd`` built a separate Python-serializer plan and
    # compiled a second QueryExecution per call (~50 ms each);
    # reading the partition count off ``df``'s OWN queryExecution
    # costs nothing extra in the no-repartition case — the follow-up
    # action reuses the same compiled plan. Call sites pass narrow
    # scan-/checkpoint-derived frames (no exchanges), so finalizing
    # the adaptive plan here runs no jobs — the same property the old
    # df.rdd spelling already relied on.
    n_parts = df._jdf.queryExecution().toRdd().getNumPartitions()
    if n_parts < target:
        df = df.repartition(target, key)
        if barrier:
            df = df.localCheckpoint(eager=True)
    return df


# --- shingling (shared by jaccard + minhash) --------------------------------
def _shingles(docs: DataFrame) -> DataFrame:
    """doc_id -> exploded distinct 3-word shingles, all JVM-side.

    Docs under 3 words yield an EMPTY shingle set: unguarded
    sequence(0, size(w)-3) would count DOWN (e.g. [0,-1]) and
    fabricate bogus shingles via null-skipping concat_ws (and error
    under ANSI mode) — and the DuckDB oracle's generate_series yields
    none, so the guard is also what keeps the engines aligned."""
    w = spread_low_parallelism(
        docs.select("doc_id", F.split("text", " ").alias("w")), "doc_id"
    )
    sh = w.select(
        "doc_id",
        F.expr(
            "CASE WHEN size(w) >= 3 THEN array_distinct("
            "  transform(sequence(0, size(w) - 3), "
            "            i -> concat_ws(' ', w[i], w[i+1], w[i+2])))"
            " ELSE CAST(array() AS ARRAY<STRING>) END"
        ).alias("shingles"),
    )
    # Materialize the shingle arrays BEFORE exploding: Catalyst
    # collapses the projection into Generate, whose generator
    # expression is re-evaluated per OUTPUT row — O(words) tokenize +
    # transform work x every emitted shingle (measured 7.3s -> 0.3s
    # for the explode at sf0.1). At cluster scale this stage is a
    # persisted/written shingle table; every consumer (jaccard's
    # self-join, minhash's signature agg) also reuses it instead of
    # re-deriving the lineage.
    # NOT checkpoint_sized (r17, measured regression): this checkpoint
    # feeds the explode + 16-md5 MinHash partial aggregation — CPU-
    # heavy MAP-side work whose parallelism is capped by the reader's
    # partition count (the spread_low_parallelism story). Sizing it to
    # the row count coalesced the hot stage onto ~3 cores and took the
    # minhash family 2-3x slower in the mid-round bench
    # (dedup_minhash_lsh 2.3 -> 4.8 s); width here IS the point.
    sh = sh.localCheckpoint(eager=True)
    return sh.select("doc_id", F.explode("shingles").alias("shingle"))


def _pairwise_jaccard(docs: DataFrame) -> DataFrame:
    """Exact pairwise 3-gram Jaccard >= threshold over a
    (doc_id, text) frame, with PPJoin-style prefix filtering
    (Xiao et al., WWW'08). Returns (doc_a, doc_b, jaccard).

    Candidate generation joins only each document's PREFIX shingles
    instead of all of them: order every doc's shingle set by a global
    pseudo-random total order (xxhash64, then the string as tiebreak);
    jac(A,B) >= t implies |A∩B| >= t·|A|, so the first common shingle
    in that order falls within the first |A| - ceil(t·|A|) + 1 shingles
    of A (and likewise B) — a pair missed by the prefix-prefix join
    provably cannot reach the threshold. At t=0.5 each join side
    halves, shrinking the dominant shuffle ~4x with identical output
    (verification computes the true intersection on the full sets).
    """
    w = spread_low_parallelism(
        docs.select("doc_id", F.split("text", " ").alias("w")), "doc_id"
    )
    sets = w.select(
        "doc_id",
        # same short-doc guard as _shingles: <3 words -> empty set
        F.expr(
            "CASE WHEN size(w) >= 3 THEN "
            "array_sort(transform(array_distinct("
            "  transform(sequence(0, size(w) - 3), "
            "            i -> concat_ws(' ', w[i], w[i+1], w[i+2]))"
            "), s -> struct(xxhash64(s) AS h, s AS s)))"
            " ELSE CAST(array() AS ARRAY<STRUCT<h: BIGINT, s: STRING>>) END"
        ).alias("sorted_sh"),
    ).select(
        "doc_id",
        F.expr("transform(sorted_sh, x -> x.s)").alias("shingles"),
        F.expr("transform(sorted_sh, x -> x.h)").alias("hashes"),
        F.size("sorted_sh").alias("n_shingles"),
    )
    # Materialize once: the prefix explode re-evaluates its child per
    # OUTPUT row (see _shingles), and the verify join reads `sets`
    # twice more. At cluster scale this is the persisted sorted-
    # shingle-set table every PPJoin implementation stages first.
    # checkpoint_sized (r17): consumers read it through a row-count-
    # derived partition count instead of shuffle-width near-empty tasks
    sets = _checkpoint_sized(sets, "ppjoin sets")
    prefix_len = F.col("n_shingles") - F.ceil(
        F.col("n_shingles") * F.lit(JACCARD_THRESHOLD)
    ).cast("int") + 1
    # The candidate join keys on the 8-byte xxhash64 of the prefix
    # shingle, NOT the shingle string: the exploded prefix shuffle
    # carries a long instead of a ~3-word string and the join compares
    # longs. Output is provably unchanged: candidates(hash) is a
    # superset of candidates(string) (equal strings always hash
    # equal), verification recomputes the TRUE jaccard from the full
    # string sets, and any colliding-hash extra that truly clears the
    # threshold would have been a string-join candidate anyway by the
    # PPJoin prefix theorem — so the post-filter sets are identical.
    pref = sets.select(
        "doc_id",
        "n_shingles",
        F.posexplode(
            F.slice(F.col("hashes"), F.lit(1), prefix_len)
        ).alias("pos", "shingle_h"),
    )
    a, b = pref.alias("a"), pref.alias("b")
    # PPJoin's LENGTH filter alongside the prefix filter: jac >= t
    # implies t*|A| <= |B| <= |A|/t, so size-incompatible candidates
    # are dropped inside the join, before the distinct + verify
    # shuffles. 1e-9 slack: t*na in doubles can round ABOVE the real
    # product (e.g. 0.7*10 -> 7.000000000000001) and an integer nb
    # sitting exactly on the bound would be wrongly pruned without it.
    t = F.lit(JACCARD_THRESHOLD)
    # PPJoin's POSITIONAL filter (Xiao et al. WWW'08 §3.2): a shared
    # prefix element at 0-based positions (pa, pb) bounds the overlap
    # at 1 + min(na-1-pa, nb-1-pb); jac >= t needs overlap
    # alpha = ceil(t/(1+t) * (na+nb)). For a truly-matching pair the
    # FIRST common element in the global (h, s) order sits inside both
    # prefixes and has all common elements at-or-after it, so that
    # occurrence always passes — dropping occurrences that fail the
    # bound loses no qualifying pair (measured: 430k -> 211k
    # candidates at sf0.1). Same 1e-9 slack as the length filter.
    ub = F.lit(1) + F.least(
        F.col("a.n_shingles") - 1 - F.col("a.pos"),
        F.col("b.n_shingles") - 1 - F.col("b.pos"),
    )
    alpha = F.ceil(
        t / (F.lit(1.0) + t)
        * (F.col("a.n_shingles") + F.col("b.n_shingles"))
        - F.lit(1e-9)
    )
    cand = (
        a.join(
            b,
            (F.col("a.shingle_h") == F.col("b.shingle_h"))
            & (F.col("a.doc_id") < F.col("b.doc_id"))
            & (F.col("b.n_shingles") >= t * F.col("a.n_shingles") - 1e-9)
            & (F.col("b.n_shingles") <= F.col("a.n_shingles") / t + 1e-9)
            & (ub >= alpha),
        )
        .select(
            F.col("a.doc_id").alias("doc_a"), F.col("b.doc_id").alias("doc_b")
        )
        .distinct()
    )
    # Two-stage verification IN ONE JOIN PASS (r17, guide §2.4: the
    # r16 spelling joined `sets` back onto the pairs TWICE — once for
    # the hash screen, once for the exact verify — 4 shuffle joins;
    # carrying hashes and shingles through a single pair of joins
    # drops 2 exchanges and reads `sets` half as often, while the
    # FILTER between the screen and the exact projection keeps the
    # evaluation order: Catalyst's CombineFilters preserves child-
    # predicate-first order, so the hash screen still short-circuits
    # and the expensive string intersect never runs on the raw
    # candidate volume). Stage 1 SCREENS on the long hash arrays:
    # nch = |hashes_a ∩ hashes_b| >= true overlap PROVIDED no two
    # DISTINCT shingles within one document collide at xxhash64 — an
    # intra-doc collision would merge two hash-array elements and could
    # undercount nch below the true string overlap, screening out a
    # qualifying pair. We assume no intra-doc 64-bit collisions (for a
    # d-shingle doc the chance is ~d^2/2^65; at d=10^4 that is ~3e-12
    # per doc), the same assumption the prefix join above already
    # makes, so the bit-exact contract with the string-based DuckDB
    # oracle holds modulo that probability. CROSS-doc collisions only
    # ADD to nch, and x/(na+nb-x) is increasing in x, so the screen
    # value upper-bounds the true jaccard and the filter never drops a
    # qualifying pair. Stage 2 computes the EXACT jaccard from the
    # string sets for the screen's survivors only (~0.1% of
    # candidates here). Output identical to a one-stage exact verify;
    # the screen measured ~30% off the whole op at sf0.1.
    wa = sets.select(
        F.col("doc_id").alias("doc_a"),
        F.col("hashes").alias("h_a"),
        F.col("shingles").alias("sh_a"),
        F.col("n_shingles").alias("na"),
    )
    wb = sets.select(
        F.col("doc_id").alias("doc_b"),
        F.col("hashes").alias("h_b"),
        F.col("shingles").alias("sh_b"),
        F.col("n_shingles").alias("nb"),
    )
    verified = (
        cand.join(wa, "doc_a")
        .join(wb, "doc_b")
        .withColumn("nch", F.size(F.array_intersect("h_a", "h_b")))
        .filter(
            F.col("nch") / (F.col("na") + F.col("nb") - F.col("nch"))
            >= t
        )
        .withColumn("n_common", F.size(F.array_intersect("sh_a", "sh_b")))
        .withColumn(
            "jaccard",
            F.round(
                F.col("n_common")
                / (F.col("na") + F.col("nb") - F.col("n_common")),
                6,
            ),
        )
    )
    return verified.filter(F.col("jaccard") >= JACCARD_THRESHOLD).select(
        "doc_a", "doc_b", "jaccard"
    )


# Duplicate groups DEEPER than this collapse to star edges instead of
# full C(n,2) expansion (see _grouped_pairwise). 32 keeps every group
# in the driver's data exact-expanded (max observed depth: 2 at sf0.1,
# 10 at the replicated sf1.0) while bounding any single group's
# expansion at C(32,2) = 496 rows — a billion-member group at 100 TB
# emits 10^9 star edges, not 5*10^17 pairs.
DEEP_GROUP_BOUND = 32


def _grouped_pairwise(
    docs: DataFrame, bound: int = DEEP_GROUP_BOUND
) -> DataFrame:
    """DUPLICATE-GROUP COLLAPSE around :func:`_pairwise_jaccard`:
    n-gram Jaccard is a pure function of the text, so byte-identical
    documents are grouped first (one md5 group-by), the quadratic
    PPJoin pairwise pass runs on ONE representative per distinct text,
    and the pair list expands back afterwards via JOINS on the group
    key — the membership table is never collected into an array, so
    no single row/task ever holds a whole duplicate group (the r6
    spelling's `collect_list(members)` + in-row C(n,2) generation
    put a billion-member group in one task; VERDICT r6 item 5).

    Expansion semantics, group depth n vs ``bound``:

    * cross-group pairs — each side expands to all its members iff
      its group is SHALLOW (n <= bound); a DEEP side contributes only
      its representative. Output: (least, greatest, rep-pair jaccard).
    * within-group, shallow — all C(n,2) identical-text pairs at
      jaccard 1.0 (iff the text has >= 3 words: an empty shingle set
      never pairs, matching the pairwise spelling's semantics).
    * within-group, deep — STAR edges rep -> member at jaccard 1.0
      (rep = min doc_id, so rep < member and the (least, greatest)
      orientation is preserved).

    With every group shallow this is provably identical to running
    the pairwise pass on all docs (tests/test_dedup.py pins it on a
    duplicated corpus); with deep groups the pair set is the bounded
    representation whose transitive closure is UNCHANGED (star edges
    keep each group connected, rep-level edges keep near-dup groups
    connected), so the dedup_clusters consumer is exact either way.
    The DuckDB oracle expresses the same bounded semantics, keeping
    the differential meaningful on deep fixtures too. Cost: pairwise
    quadratic in DISTINCT texts; expansion linear in OUTPUT pairs
    with per-task fan-out capped by ``bound`` on the shallow branches
    and by 1 on the deep ones."""
    # NOTE (r17, measured-keep of the r16 shape): deriving `groups`
    # and `members` from ONE checkpointed `keyed` frame was tried and
    # measured WORSE (fuzzy twin 22 -> 32 stages, ngram +1s warm):
    # column pruning pushes a different aggregate-expression set into
    # each consumer's partial agg, so the agg exchanges canonicalize
    # differently and AQE stage reuse never fires — every consumer
    # re-aggregated the corpus. The two explicit checkpoints below
    # stay: they are what makes the 4-5 consumers share one
    # computation each.
    keyed = docs.select("doc_id", F.md5("text").alias("tkey"), "text")
    groups = keyed.groupBy("tkey").agg(
        F.min("doc_id").alias("rep"),
        F.min_by("text", "doc_id").alias("text"),
        F.count(F.lit(1)).alias("n"),
    )
    # Materialize once: feeds the pairwise pass, the rep->group-key
    # maps, and both within branches. Fixed-width rows (no member
    # arrays) — a group's size costs 8 bytes here no matter how deep.
    # checkpoint_sized (r17): both mid-tier tables are read by 4-5
    # consumers each; sizing their partition count to their row count
    # turns shuffle-width near-empty map stages into a handful of
    # real tasks (scale-adaptive — large frames keep every partition).
    groups = _checkpoint_sized(groups, "ngram groups")
    # members feeds exp_a, cross, and both within branches; without
    # materialization every branch re-scans the corpus and re-hashes
    members = _checkpoint_sized(
        keyed.select("tkey", "doc_id"), "ngram members"
    )
    rep_pairs = _pairwise_jaccard(
        groups.select(F.col("rep").alias("doc_id"), "text")
    )
    rp = (
        rep_pairs.join(
            groups.select(
                F.col("rep").alias("doc_a"),
                F.col("tkey").alias("tkey_a"),
                F.col("n").alias("n_a"),
            ),
            "doc_a",
        )
        .join(
            groups.select(
                F.col("rep").alias("doc_b"),
                F.col("tkey").alias("tkey_b"),
                F.col("n").alias("n_b"),
            ),
            "doc_b",
        )
    )
    # side A: shallow groups fan out to members through a join on the
    # group key (distributed: one shuffle, each group's expansion in
    # its own task, <= bound rows per probe); deep groups stay as rep
    exp_a = rp.filter(F.col("n_a") <= bound).join(
        members.select(
            F.col("tkey").alias("tkey_a"), F.col("doc_id").alias("a")
        ),
        "tkey_a",
    ).select("a", "tkey_b", "n_b", "doc_b", "jaccard").unionByName(
        rp.filter(F.col("n_a") > bound).select(
            F.col("doc_a").alias("a"), "tkey_b", "n_b", "doc_b", "jaccard"
        )
    )
    cross = exp_a.filter(F.col("n_b") <= bound).join(
        members.select(
            F.col("tkey").alias("tkey_b"), F.col("doc_id").alias("b")
        ),
        "tkey_b",
    ).select("a", "b", "jaccard").unionByName(
        # doc_b IS the rep of the deep B group — no re-join needed
        exp_a.filter(F.col("n_b") > bound)
        .select("a", F.col("doc_b").alias("b"), "jaccard")
    ).select(
        F.least("a", "b").alias("doc_a"),
        F.greatest("a", "b").alias("doc_b"),
        "jaccard",
    )
    paired = groups.filter(
        (F.col("n") >= 2) & (F.size(F.split("text", " ")) >= 3)
    ).select("tkey", "rep", "n")
    sm = members.join(
        paired.filter(F.col("n") <= bound).select("tkey"), "tkey"
    )
    within_shallow = (
        sm.alias("x")
        .join(
            sm.alias("y"),
            (F.col("x.tkey") == F.col("y.tkey"))
            & (F.col("x.doc_id") < F.col("y.doc_id")),
        )
        .select(
            F.col("x.doc_id").alias("doc_a"),
            F.col("y.doc_id").alias("doc_b"),
            F.lit(1.0).alias("jaccard"),
        )
    )
    within_deep = (
        members.join(paired.filter(F.col("n") > bound), "tkey")
        .filter(F.col("doc_id") != F.col("rep"))
        .select(
            F.col("rep").alias("doc_a"),
            F.col("doc_id").alias("doc_b"),
            F.lit(1.0).alias("jaccard"),
        )
    )
    return cross.unionByName(within_shallow).unionByName(within_deep)


def dedup_ngram_jaccard(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Exact pairwise 3-gram Jaccard >= threshold via duplicate-group
    collapse (see :func:`_grouped_pairwise`)."""
    return _grouped_pairwise(load_table(spark, sf_dir, "documents"))


# --- MinHash + LSH ----------------------------------------------------------
def minhash_signatures(docs: DataFrame, n_hashes: int = N_MINHASH) -> DataFrame:
    """doc_id -> n_hashes-wide MinHash signature. Permutation i is the
    first 15 md5 hex chars of 'i:shingle' as a 60-bit integer —
    deterministic, JVM-side, no Python, and computable identically in
    DuckDB (which has no xxhash64), so the whole LSH op is
    oracle-checkable."""
    sh = _shingles(docs)
    # n_hashes INDEPENDENT md5 permutations ('i:shingle'). Cheaper
    # families were tried and rejected: h1+i*h2 double hashing and
    # split-word linear forms both break min-wise independence here
    # (the same small-hash shingle wins every permutation, inflating
    # the match-fraction estimate ~70x on unrelated docs — measured
    # 121 false-positive pairs with true J=0.01 at sf0.01). Full md5
    # per permutation keeps the argmin uniformly random; the signature
    # table is computed once (localCheckpoint at the call site).
    aggs = [
        F.min(
            F.expr(
                f"cast(conv(substring(md5(concat('{i}:', shingle)), 1, 15), "
                f"16, 10) as bigint)"
            )
        ).alias(f"h{i}")
        for i in range(n_hashes)
    ]
    return sh.groupBy("doc_id").agg(*aggs)


def _band_array():
    """array<struct<band,band_key>> over signature columns h0..hN —
    the banding md5s as ONE un-exploded column expression;
    :func:`_band_keys` explodes it into the relational shape every
    consumer uses. NOTE: computing this INSIDE the streaming gate's
    signature checkpoint (one fused eager job for minhash + band
    md5s) was tried in r15 and measured 2.5x SLOWER end-to-end — the
    banded view became a derived plan that every downstream action
    re-planned and re-broadcast; see the MEASURED-KEEP note in
    streaming/docdedup.py before re-attempting that fusion."""
    rows_per_band = N_MINHASH // N_BANDS
    return F.array(
        *[
            F.struct(
                F.lit(bi).alias("band"),
                F.md5(
                    F.concat_ws(
                        ",",
                        *[
                            F.col(f"h{bi * rows_per_band + r}").cast(
                                "string"
                            )
                            for r in range(rows_per_band)
                        ],
                    )
                ).alias("band_key"),
            )
            for bi in range(N_BANDS)
        ]
    )


def _band_keys(sig: DataFrame) -> DataFrame:
    """(doc_id, band, band_key) — N_BANDS banded keys per signature
    row; band_key = md5 of the band's signature values. Shared by
    :func:`dedup_minhash_lsh` (full self-join) and
    :func:`dedup_incremental` (new-batch-vs-index join)."""
    return sig.select(
        "doc_id", F.explode(_band_array()).alias("bk")
    ).select("doc_id", "bk.band", "bk.band_key")


def dedup_minhash_lsh(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Banded-LSH candidate generation + exact-signature similarity.

    Oracle-checked: signatures, band keys (md5 of the band's signature
    values) and the estimated similarity are all reproducible in
    DuckDB. Tests additionally assert recall against the exact Jaccard
    op on the planted near-duplicates."""
    docs = load_table(spark, sf_dir, "documents")
    # Materialize signatures once: bands AND both sides of the verify
    # join re-derive this plan (3x shingle+hash recompute otherwise).
    # At cluster scale this is persist(DISK) / a signatures table.
    sig = _checkpoint_sized(minhash_signatures(docs), "minhash sigs")
    bands = _band_keys(sig)
    a, b = bands.alias("a"), bands.alias("b")
    cand = (
        a.join(
            b,
            (F.col("a.band") == F.col("b.band"))
            & (F.col("a.band_key") == F.col("b.band_key"))
            & (F.col("a.doc_id") < F.col("b.doc_id")),
        )
        .select(
            F.col("a.doc_id").alias("doc_a"), F.col("b.doc_id").alias("doc_b")
        )
        .distinct()
    )
    # verify candidates with estimated similarity = matching signature rows
    sa = sig.alias("sa")
    sb = sig.alias("sb")
    return (
        cand.join(sa, cand.doc_a == F.col("sa.doc_id"))
        .join(sb, cand.doc_b == F.col("sb.doc_id"))
        .select(
            "doc_a", "doc_b", F.round(_est_sim(), 4).alias("est_jaccard")
        )
        .filter(F.col("est_jaccard") >= JACCARD_THRESHOLD)
    )


def _est_sim(a: str = "sa", b: str = "sb"):
    """Estimated Jaccard between two aliased signature rows =
    fraction of matching MinHash slots."""
    return (
        F.aggregate(
            F.array(
                *[
                    (F.col(f"{a}.h{i}") == F.col(f"{b}.h{i}")).cast("int")
                    for i in range(N_MINHASH)
                ]
            ),
            F.lit(0),
            lambda acc, x: acc + x,
        )
        / F.lit(float(N_MINHASH))
    )


# Deterministic "new batch" split for the incremental-dedup fixture:
# doc_id % NEW_DOC_MOD == 0 plays the role of today's crawl (10% of
# the corpus); the rest is the already-deduped EXISTING corpus.
NEW_DOC_MOD = 10


def dedup_incremental(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Incremental dedup: clear a NEW batch of documents against an
    EXISTING corpus without ever pairing the corpus with itself — the
    op a production training-data pipeline runs per crawl/ingest day.

    The reference re-inserts duplicate frames unconditionally (SURVEY
    §2.3 streaming-dedup row: main.go's insert path has no existence
    check), so this is a north-star extension like the rest of the
    dedup ladder.

    Semantics (all MinHash-estimated at the same threshold as
    :func:`dedup_minhash_lsh`):

    * ``dup_of_existing`` — smallest existing doc_id whose signature
      similarity clears the threshold (NULL if none).
    * ``dup_of_batch`` — smallest SMALLER-id new doc that clears it
      (NULL if none): the standard single-pass within-batch rule that
      keeps the first of a duplicate run without iterating.
    * ``keep`` — both NULL. (A doc whose only match is a dropped
      batch doc is still dropped — the one-pass approximation every
      at-scale LSH dedup ships; exact chain resolution is
      :func:`dedup_survivors`'s connected-components job.)

    Scale design: the existing corpus appears ONLY as its signature /
    band-key index (in production a staged table, incrementally
    appended — here recomputed from the fixture); the band join's
    probe side is the small new batch, so AQE broadcasts it, and no
    existing-vs-existing candidate is ever generated. Cost per day is
    O(new x bucket collision), independent of corpus pair count."""
    docs = load_table(spark, sf_dir, "documents")
    sig = _checkpoint_sized(minhash_signatures(docs), "minhash sigs")
    is_new = (F.col("doc_id") % NEW_DOC_MOD) == 0
    matches = _incremental_verdicts(sig.filter(is_new), sig.filter(~is_new))
    newdocs = docs.filter(is_new).select("doc_id")
    return newdocs.join(matches, "doc_id", "left").select(
        "doc_id",
        "dup_of_existing",
        "dup_of_batch",
        (
            F.col("dup_of_existing").isNull()
            & F.col("dup_of_batch").isNull()
        ).alias("keep"),
    )


def _incremental_verdicts(
    new_sig: DataFrame, index_sig: DataFrame
) -> DataFrame:
    """(doc_id, dup_of_existing, dup_of_batch) for every row of
    ``new_sig`` that has at least one qualifying match against the
    index or a smaller-id new row — the shared pair-generation core
    of :func:`dedup_incremental` (mod-split fixture) and the
    streaming document gate (per-epoch batch vs survivor index).

    Preconditions: both frames carry (doc_id, h0..h{N-1}) with
    DISJOINT doc_id spaces. No existing-vs-existing candidate is
    generated: the probe side of the band join is new rows only."""
    bn = _band_keys(new_sig).withColumn("is_new", F.lit(True))
    bi = _band_keys(index_sig).withColumn("is_new", F.lit(False))
    a = bn.alias("a")
    b = bn.unionByName(bi).alias("b")
    cand = (
        a.join(
            b,
            (F.col("a.band") == F.col("b.band"))
            & (F.col("a.band_key") == F.col("b.band_key"))
            & (F.col("a.doc_id") != F.col("b.doc_id"))
            & (~F.col("b.is_new") | (F.col("b.doc_id") < F.col("a.doc_id"))),
        )
        .select(
            F.col("a.doc_id").alias("doc_id"),
            F.col("b.doc_id").alias("other_id"),
            F.col("b.is_new").alias("other_new"),
        )
        .distinct()
    )
    allsig = new_sig.unionByName(index_sig)
    verified = (
        cand.join(allsig.alias("sa"), cand.doc_id == F.col("sa.doc_id"))
        .join(allsig.alias("sb"), cand.other_id == F.col("sb.doc_id"))
        .select(
            cand.doc_id,
            "other_id",
            "other_new",
            F.round(_est_sim(), 4).alias("est"),
        )
        .filter(F.col("est") >= JACCARD_THRESHOLD)
    )
    return verified.groupBy("doc_id").agg(
        F.min(F.when(~F.col("other_new"), F.col("other_id"))).alias(
            "dup_of_existing"
        ),
        F.min(F.when(F.col("other_new"), F.col("other_id"))).alias(
            "dup_of_batch"
        ),
    )


# --- near-dup clustering (connected components) -----------------------------
# lineage cut between iterative rounds: localCheckpoint by default,
# reliable checkpoint when a checkpoint_dir is threaded through — the
# shared helper all materializing operators use (materialize.py)
from angelone_clickhouse_spark.materialize import materialize as _materialize
from angelone_clickhouse_spark.materialize import (
    checkpoint_sized as _checkpoint_sized,
)
from angelone_clickhouse_spark.materialize import observed


def connected_components(
    edges: DataFrame,
    src: str = "doc_a",
    dst: str = "doc_b",
    max_iter: int = 20,
    checkpoint_dir: str | None = None,
) -> DataFrame:
    """Connected components over an undirected pair graph by iterative
    min-label propagation: every node repeatedly adopts the smallest
    label among itself and its neighbors until fixpoint. Returns
    (doc_id, cluster_id = min doc_id of the component).

    Scale notes: each round is one join + one aggregate (shuffles on
    doc_id); rounds needed = graph diameter, and near-dup graphs are
    shallow (clusters of copies, diameter ~2-3). For adversarial deep
    graphs at 100 TB switch to :func:`connected_components_star`
    (large-star/small-star, round count O(log^2 n) independent of
    diameter — verified label-equivalent in tests). The driver-side
    loop only inspects a convergence COUNT per round, never data.
    ``checkpoint_dir`` selects reliable checkpointing between rounds
    (see :func:`_materialize`)."""
    from pyspark.sql import Observation

    from angelone_clickhouse_spark.materialize import sized as _sized

    both = edges.select(
        F.col(src).alias("u"), F.col(dst).alias("v")
    ).unionByName(edges.select(F.col(dst).alias("u"), F.col(src).alias("v")))
    # Materialize the edge list ONCE: it is referenced by every
    # propagation round, and its lineage (candidate-pair generation)
    # is the expensive part — without this the full pair pipeline
    # re-executes per round (measured 4x cost at sf0.1). r17: the
    # edge count rides the materialization job and sizes the frame's
    # partition count (see materialize.checkpoint_sized) — every
    # propagation round reads the edges, so shuffle-width near-empty
    # map stages would otherwise recur per round.
    obs_e = Observation()
    both = _materialize(
        both.observe(obs_e, F.count(F.lit(1)).alias("n")), checkpoint_dir
    )
    n_edges = int(observed(obs_e, "connected_components edges")["n"] or 0)
    both = _sized(both, n_edges)
    labels = both.select("u").distinct().select(
        "u", F.col("u").alias("label")
    )
    label_sum = None
    for _ in range(max_iter):
        neigh = (
            both.alias("e")
            .join(labels.alias("l"), F.col("e.v") == F.col("l.u"))
            .select(F.col("e.u").alias("u"), F.col("l.label").alias("label"))
        )
        new_labels = (
            labels.unionByName(neigh)
            .groupBy("u")
            .agg(F.min("label").alias("label"))
        )
        # Convergence probe WITHOUT a join: min-label propagation can
        # only DECREASE a node's label, and the node set is fixed, so
        # sum(label) strictly decreases iff any label changed. The sum
        # is exact (decimal(38,0) — no overflow for any realistic
        # node-count x id range, unlike a bigint sum; no hash-collision
        # risk, unlike an xor signature). r16: the sum rides the
        # materialization job itself as an observed metric (guide
        # §1.2/§5 — ONE job per round instead of materialize + a
        # separate aggregate scan; observed metrics fire on both
        # localCheckpoint and reliable checkpoint actions). r17: the
        # node count rides the same observation and sizes the label
        # frame read by the next round (n is the fixed node set size).
        obs = Observation()
        new_labels = _materialize(
            new_labels.observe(
                obs,
                F.sum(F.col("label").cast("decimal(38,0)")).alias("s"),
                F.count(F.lit(1)).alias("n"),
            ),
            checkpoint_dir,
        )
        m = observed(obs, "connected_components round probe")
        new_sum = m["s"]
        new_labels = _sized(new_labels, int(m["n"] or 0))
        prev_sum = label_sum
        label_sum = new_sum
        labels = new_labels
        # new_sum is None iff the node set is empty (F.sum over zero
        # rows yields NULL) — an empty graph is trivially converged, so
        # break immediately instead of running max_iter empty rounds.
        if new_sum is None or (prev_sum is not None and new_sum == prev_sum):
            break
    return labels.select(F.col("u").alias("doc_id"), F.col("label").alias("cluster_id"))


def connected_components_star(
    edges: DataFrame,
    src: str = "doc_a",
    dst: str = "doc_b",
    max_iter: int = 50,
    checkpoint_dir: str | None = None,
) -> DataFrame:
    """Connected components by alternating LARGE-STAR / SMALL-STAR
    rounds (Kiveris et al., "Connected Components in MapReduce and
    Beyond", SoCC'14) — the deep-graph spelling promised by
    :func:`connected_components`'s docstring: converges in O(log^2 n)
    rounds regardless of graph diameter, where min-label propagation
    needs diameter rounds (a 10^6-node path graph would need 10^6
    propagation rounds but ~40 star rounds).

    large-star(u): every neighbor v > u re-attaches to m(u) = min of
    u's closed neighborhood. small-star(u): every neighbor v <= u
    (and u itself) attaches to m(u) = min of the lower closed
    neighborhood. Both are one groupBy(min) + one join over the edge
    list — the same shuffle building blocks as propagation, just a
    rewiring that halves tree heights instead of walking them. At
    fixpoint the graph is a star forest: every node points at its
    component minimum. Returns (doc_id, cluster_id), same contract as
    :func:`connected_components` (verified equal labels in
    tests/test_dedup.py on planted clusters and a deep chain).

    The convergence probe is a 2-value aggregate (edge count + an
    order-independent hash-sum); the driver never sees edge data."""
    e = (
        edges.select(F.col(src).alias("u"), F.col(dst).alias("v"))
        .filter(F.col("u") != F.col("v"))
    )
    nodes = (
        e.select("u").unionByName(e.select(F.col("v").alias("u"))).distinct()
    )
    nodes = _materialize(nodes, checkpoint_dir)
    # symmetric, deduplicated edge list
    e = (
        e.unionByName(
            e.select(F.col("v").alias("u"), F.col("u").alias("v"))
        )
        .distinct()
    )

    def _mat_sig(df: DataFrame) -> tuple[DataFrame, tuple]:
        # bit_xor: order-independent AND overflow-free (a long sum of
        # xxhash64 trips ANSI overflow); the edge list is distinct, so
        # xor-cancellation of duplicates cannot occur. r16: the
        # signature rides the materialization job as observed metrics
        # (ONE job per round instead of materialize + a separate
        # aggregate scan — the same fusion as connected_components'
        # sum probe).
        from pyspark.sql import Observation

        obs = Observation()
        out = _materialize(
            df.observe(
                obs,
                F.count(F.lit(1)).alias("n"),
                F.expr("bit_xor(xxhash64(u, v))").alias("h"),
            ),
            checkpoint_dir,
        )
        m = observed(obs, "connected_components_star signature")
        return out, (m["n"], m["h"])

    e, prev = _mat_sig(e)
    for _ in range(max_iter):
        # LARGE-STAR: m(u) = min over closed neighborhood; re-attach
        # strictly larger neighbors to it
        mins = (
            e.groupBy("u")
            .agg(F.min("v").alias("mn"))
            .select("u", F.least("u", "mn").alias("m"))
        )
        e = (
            e.join(mins, "u")
            .filter(F.col("v") > F.col("u"))
            .select(F.col("v").alias("u"), F.col("m").alias("v"))
            .filter(F.col("u") != F.col("v"))
        )
        e = e.unionByName(
            e.select(F.col("v").alias("u"), F.col("u").alias("v"))
        ).distinct()
        e = _materialize(e, checkpoint_dir)
        # SMALL-STAR: over the lower neighborhood only
        lower = e.filter(F.col("v") < F.col("u"))
        mins = lower.groupBy("u").agg(F.min("v").alias("m"))
        e = (
            lower.join(mins, "u")
            .select(F.col("v").alias("u"), F.col("m").alias("v"))
            .unionByName(mins.select("u", F.col("m").alias("v")))
            .filter(F.col("u") != F.col("v"))
        )
        e = e.unionByName(
            e.select(F.col("v").alias("u"), F.col("u").alias("v"))
        ).distinct()
        e, sig = _mat_sig(e)
        if sig == prev:
            break
        prev = sig
    # star forest: each non-root points at its component min; roots
    # (components of one node included) label themselves
    root_of = e.filter(F.col("v") < F.col("u")).select(
        "u", F.col("v").alias("label")
    )
    return (
        nodes.join(root_of, "u", "left")
        .select(
            F.col("u").alias("doc_id"),
            F.coalesce("label", "u").alias("cluster_id"),
        )
    )


def dedup_clusters(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Near-duplicate clusters: connected components over the exact
    n-gram Jaccard pair graph, with per-cluster size — the step a real
    dedup pipeline runs after pair generation to pick one survivor per
    group of mutual near-duplicates."""
    pairs = dedup_ngram_jaccard(spark, sf_dir).select("doc_a", "doc_b")
    comp = connected_components(pairs)
    sizes = comp.groupBy("cluster_id").agg(
        F.count(F.lit(1)).alias("cluster_size")
    )
    return comp.join(sizes, "cluster_id").select(
        "doc_id", "cluster_id", "cluster_size"
    )


def minhash_components(
    spark: SparkSession, sf_dir: str, checkpoint_dir: str | None = None
) -> DataFrame:
    """(doc_id, cluster_id) over the MinHash-LSH candidate graph — the
    shared pair-generation + components pass that both
    :func:`dedup_clusters_minhash` and :func:`dedup_survivors` consume.
    A pipeline computes this ONCE (ideally through ``materialize`` or a
    table write) and feeds it to both; the registry entries keep their
    independent-query contract by defaulting to calling it themselves
    (VERDICT r4 item 6)."""
    pairs = dedup_minhash_lsh(spark, sf_dir).select("doc_a", "doc_b")
    return connected_components(pairs, checkpoint_dir=checkpoint_dir)


def dedup_clusters_minhash(
    spark: SparkSession,
    sf_dir: str,
    components: DataFrame | None = None,
    checkpoint_dir: str | None = None,
) -> DataFrame:
    """The 100 TB spelling of dedup_clusters: connected components over
    the MinHash-LSH candidate graph instead of the exact all-pairs
    Jaccard graph. Pair generation cost is bounded by LSH band-bucket
    sizes, so this is the variant that survives a 1000-executor corpus;
    the exact-graph clusters remain as its verification baseline.
    ``components`` accepts a precomputed :func:`minhash_components`
    frame so a pipeline pays the LSH pass once across this and
    :func:`dedup_survivors`."""
    comp = (
        components
        if components is not None
        else minhash_components(spark, sf_dir, checkpoint_dir)
    )
    sizes = comp.groupBy("cluster_id").agg(
        F.count(F.lit(1)).alias("cluster_size")
    )
    return comp.join(sizes, "cluster_id").select(
        "doc_id", "cluster_id", "cluster_size"
    )


def dedup_survivors(
    spark: SparkSession,
    sf_dir: str,
    components: DataFrame | None = None,
    checkpoint_dir: str | None = None,
) -> DataFrame:
    """Survivor selection — the final dedup step a training pipeline
    actually ships: every document gets a keep/drop verdict. Clusters
    come from the MinHash-LSH graph (the 100 TB path); within a
    cluster the survivor is the LONGEST document (n_chars), doc_id as
    the deterministic tiebreak; docs in no near-dup pair are their own
    singleton cluster and trivially survive. ``components`` accepts a
    precomputed :func:`minhash_components` frame — one LSH pass feeds
    both this and :func:`dedup_clusters_minhash` in pipeline use.

    Scale notes: one left join of the corpus against the (small)
    clustered-doc set, then an argmin per cluster via struct-ordered
    min_by — no window over the corpus; the only corpus-wide shuffle
    is the cluster_id groupBy, whose key count is bounded by cluster
    count, not document count."""
    docs = load_table(spark, sf_dir, "documents").select("doc_id", "n_chars")
    comp = (
        components
        if components is not None
        else minhash_components(spark, sf_dir, checkpoint_dir)
    )
    full = docs.join(comp, "doc_id", "left").select(
        "doc_id",
        F.coalesce("cluster_id", "doc_id").alias("cluster_id"),
        "n_chars",
    )
    surv = full.groupBy("cluster_id").agg(
        # min over (-n_chars, doc_id) = longest doc, then smallest id
        F.min_by(
            "doc_id",
            F.struct(
                (-F.col("n_chars")).alias("k1"), F.col("doc_id").alias("k2")
            ),
        ).alias("survivor_id"),
        F.count(F.lit(1)).alias("cluster_size"),
    )
    return full.join(surv, "cluster_id").select(
        "doc_id",
        "cluster_id",
        "cluster_size",
        (F.col("doc_id") == F.col("survivor_id")).alias("is_survivor"),
    )


def split_by_cluster(docs: DataFrame, components: DataFrame) -> DataFrame:
    """Core of :func:`dataset_split_clustered`: train/val/test
    assignment hashed on the near-dup CLUSTER id, so every member of
    a cluster of mutual near-duplicates lands in the SAME split.
    ``docs`` needs a ``doc_id`` column; ``components`` is a
    ``(doc_id, cluster_id)`` frame (docs absent from it are singleton
    clusters of themselves). The bucket hash is the same
    engine-portable md5 device as ``curation.dataset_split`` — only
    the hash INPUT changes (cluster_id, salted 'dsc:' so the two
    splits are independent)."""
    from angelone_clickhouse_spark.operators.curation import (
        split_bucket,
        split_when,
    )

    full = docs.select("doc_id").join(
        components.select("doc_id", "cluster_id"), "doc_id", "left"
    ).select(
        "doc_id", F.coalesce("cluster_id", "doc_id").alias("cluster_id")
    )
    bucket = split_bucket("dsc:", "cluster_id")
    return full.select(
        "doc_id", "cluster_id", bucket.alias("bucket")
    ).select(
        "doc_id",
        "cluster_id",
        "bucket",
        split_when(F.col("bucket")).alias("split"),
    )


def split_leakage_audit(
    spark: SparkSession,
    sf_dir: str,
    components: DataFrame | None = None,
    checkpoint_dir: str | None = None,
) -> DataFrame:
    """Eval-contamination audit: for each split scheme — per-doc hash
    (``curation.dataset_split``) vs per-cluster hash
    (:func:`dataset_split_clustered`) — how many near-dup pairs
    (MinHash-LSH, the production pair set) STRADDLE two different
    splits. One row per scheme with pair counts and the straddle rate
    in exact milli units; the clustered row measuring 0 is the
    enforced invariant (both endpoints of any pair share a connected
    component by construction), the per-doc row is the leakage a
    pipeline ships if it hashes doc ids — the number this audit
    exists to put in the run report.

    Scale shape: the pair set is the already-bounded LSH output; the
    audit adds two joins of pairs against narrow (doc_id, split)
    projections and a 2-group aggregate — no new corpus-wide work."""
    from angelone_clickhouse_spark.operators.curation import (
        split_bucket,
        split_when,
    )

    # ONE LSH pass: the pair set is checkpointed by the components
    # pass anyway (connected_components localCheckpoints its edge
    # input), so both the straddle join and the clustering consume
    # the same materialized pairs instead of re-running
    # shingle->minhash->band twice.
    pairs = _checkpoint_sized(
        dedup_minhash_lsh(spark, sf_dir).select("doc_a", "doc_b"),
        "lsh pairs",
    )
    docs = load_table(spark, sf_dir, "documents").select("doc_id")
    comp = (
        components
        if components is not None
        else connected_components(pairs, checkpoint_dir=checkpoint_dir)
    )

    # the per-doc scheme is replayed through the SAME shared bucket
    # helper dataset_split ships (ADVICE r15): an inline re-spelling
    # here would silently keep measuring a hash/salt that
    # dataset_split no longer uses if the device ever changed
    per_doc = docs.select(
        "doc_id", split_when(split_bucket("ds:", "doc_id")).alias("split")
    )
    clustered = split_by_cluster(docs, comp).select("doc_id", "split")

    def _straddles(splits: DataFrame, scheme: str) -> DataFrame:
        j = pairs.join(
            splits.select(
                F.col("doc_id").alias("doc_a"),
                F.col("split").alias("split_a"),
            ),
            "doc_a",
        ).join(
            splits.select(
                F.col("doc_id").alias("doc_b"),
                F.col("split").alias("split_b"),
            ),
            "doc_b",
        )
        return j.agg(
            F.count(F.lit(1)).alias("n_pairs"),
            # coalesce: sum over zero rows is null in both engines;
            # an empty-pair corpus should report 0, not null
            F.coalesce(
                F.sum(
                    (F.col("split_a") != F.col("split_b")).cast("long")
                ),
                F.lit(0),
            ).alias("n_straddle"),
        ).select(
            F.lit(scheme).alias("scheme"),
            "n_pairs",
            "n_straddle",
            # greatest(n_pairs, 1): on an empty pair set Spark's
            # non-ANSI `div` returns null while DuckDB's `//` raises —
            # the guard makes both engines report 0 (ADVICE r15)
            F.expr(
                "(1000 * n_straddle) div greatest(n_pairs, 1)"
            ).alias("straddle_milli"),
        )

    return _straddles(per_doc, "per_doc").unionByName(
        _straddles(clustered, "per_cluster")
    )


def dataset_split_clustered(
    spark: SparkSession,
    sf_dir: str,
    components: DataFrame | None = None,
    checkpoint_dir: str | None = None,
) -> DataFrame:
    """Leakage-safe train/val/test split: assignment is hashed per
    near-dup CLUSTER (MinHash-LSH connected components — the 100 TB
    pair-generation path), not per document, so no near-duplicate
    pair can straddle the train/eval boundary. That straddle is the
    eval-contamination mode a per-doc hash split
    (``curation.dataset_split``) cannot prevent: two 99%-identical
    documents hash independently and land in train and test ~2×
    train_frac·test_frac of the time, silently inflating eval scores.

    Scale shape: the cluster pass is the already-bounded LSH
    band-bucket components; the split itself adds ONE left join of
    the corpus against the clustered-doc set (no broadcast hint on
    purpose — clustered docs are usually ≪ corpus and AQE converts
    at runtime, but a heavily duplicated crawl can cluster half its
    docs, where a forced broadcast would be the scale bug) and zero
    further shuffles — the hash/bucket/split is projection-only,
    exactly like the per-doc split. ``components`` accepts a precomputed
    :func:`minhash_components` frame so a pipeline pays the LSH pass
    once across this, :func:`dedup_clusters_minhash` and
    :func:`dedup_survivors`."""
    docs = load_table(spark, sf_dir, "documents")
    comp = (
        components
        if components is not None
        else minhash_components(spark, sf_dir, checkpoint_dir)
    )
    return split_by_cluster(docs, comp)


# --- SimHash ----------------------------------------------------------------
SIMHASH_BITS = 60  # 15 hex chars of md5: cross-engine-identical word hash
SIMHASH_CHUNKS = 4  # 4 x 15-bit bands
_CHUNK_BITS = SIMHASH_BITS // SIMHASH_CHUNKS
_CHUNK_MASK = (1 << _CHUNK_BITS) - 1


def simhash_docs(docs: DataFrame) -> DataFrame:
    """60-bit SimHash per doc, entirely with built-in array functions:
    bit b of the hash = sign of sum over words of (+1 if word-hash bit
    b else -1). The word hash is the first 15 hex chars of md5 parsed
    as an integer — unlike xxhash64 it is computable identically in
    DuckDB, which makes the whole op oracle-checkable."""
    w = docs.select(
        "doc_id",
        F.expr(
            "transform(split(text, ' '), "
            "x -> cast(conv(substring(md5(x), 1, 15), 16, 10) as bigint))"
        ).alias("hs"),
    )
    # For each bit: count of words with bit set minus half of total.
    bit_cols = [
        (
            F.aggregate(
                "hs",
                F.lit(0),
                lambda acc, h: acc + F.shiftrightunsigned(h, b).bitwiseAND(1).cast("int"),
            )
            * 2
            > F.size("hs")
        ).cast("long")
        for b in range(SIMHASH_BITS)
    ]
    packed = bit_cols[0]
    for b in range(1, SIMHASH_BITS):
        packed = packed.bitwiseOR(F.shiftleft(bit_cols[b], b))
    return w.select("doc_id", packed.alias("simhash"))


def dedup_simhash(spark: SparkSession, sf_dir: str) -> DataFrame:
    """SimHash near-dup candidates: band the 60 bits into 4 x 15-bit
    chunks; pairs agreeing on >= 1 chunk are candidates, verified by
    full hamming distance <= 8. Oracle-checked in DuckDB (same md5
    word hash, same banding, bit_count over xor)."""
    docs = load_table(spark, sf_dir, "documents")
    # the hash table feeds both join sides: materialize it once per call
    # (a session cache would be matched by later calls on the plan, and
    # so return a rewritten file's old rows)
    sh = _checkpoint_sized(simhash_docs(docs), "simhash")
    chunks = sh.select(
        "doc_id",
        "simhash",
        F.explode(
            F.array(
                *[
                    F.struct(
                        F.lit(c).alias("chunk"),
                        F.shiftrightunsigned("simhash", c * _CHUNK_BITS)
                        .bitwiseAND(_CHUNK_MASK)
                        .alias("chunk_val"),
                    )
                    for c in range(SIMHASH_CHUNKS)
                ]
            )
        ).alias("ck"),
    ).select("doc_id", "simhash", "ck.chunk", "ck.chunk_val")
    a, b = chunks.alias("a"), chunks.alias("b")
    cand = (
        a.join(
            b,
            (F.col("a.chunk") == F.col("b.chunk"))
            & (F.col("a.chunk_val") == F.col("b.chunk_val"))
            & (F.col("a.doc_id") < F.col("b.doc_id")),
        )
        .select(
            F.col("a.doc_id").alias("doc_a"),
            F.col("b.doc_id").alias("doc_b"),
            F.col("a.simhash").alias("sim_a"),
            F.col("b.simhash").alias("sim_b"),
        )
        .distinct()
    )
    hamming = F.bit_count(F.col("sim_a").bitwiseXOR(F.col("sim_b")))
    return (
        cand.withColumn("hamming", hamming)
        .filter(F.col("hamming") <= 8)
        .select("doc_a", "doc_b", "hamming")
    )


# --- embedding cosine near-dup ---------------------------------------------
def _with_norm(e: DataFrame) -> DataFrame:
    v = F.expr("transform(embedding, x -> cast(x as double))")
    dot_self = F.aggregate(
        F.zip_with(v, v, lambda x, y: x * y), F.lit(0.0), lambda a, x: a + x
    )
    return e.select("vec_id", v.alias("v"), F.sqrt(dot_self).alias("nrm"))


def _cosine(a_v, b_v, a_n, b_n):
    dot = F.aggregate(
        F.zip_with(a_v, b_v, lambda x, y: x * y), F.lit(0.0), lambda acc, x: acc + x
    )
    return dot / (a_n * b_n)


def dedup_embedding(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Exact pairwise cosine >= threshold over the embeddings table,
    via sound prune-then-verify:

    1. PRUNE: a blocked numpy matmul (mapInPandas over a broadcast
       corpus block) emits candidate pairs with cosine >= threshold - ε
       (ε=1e-6 ≫ any float-summation discrepancy, so no true positive
       can be pruned — the filter is sound, not heuristic).
    2. VERIFY: only the few candidates get the sequential-sum JVM
       cosine, whose doubles are bit-identical to DuckDB's
       list_dot_product — preserving exact oracle parity.

    Net: identical output to the naive O(n²) interpreted-expression
    pairwise plan, at matmul speed (~10x on sf0.1). Elements cast to
    double before any arithmetic on the verify path."""
    from angelone_clickhouse_spark.operators.embedding_fast import (
        candidate_pairs_fast,
    )

    cand = candidate_pairs_fast(
        spark, sf_dir, threshold=COSINE_THRESHOLD - 1e-6
    ).select("vec_a", "vec_b")
    e = _with_norm(load_table(spark, sf_dir, "embeddings"))
    a = e.select(
        F.col("vec_id").alias("vec_a"), F.col("v").alias("va"), F.col("nrm").alias("na")
    )
    b = e.select(
        F.col("vec_id").alias("vec_b"), F.col("v").alias("vb"), F.col("nrm").alias("nb")
    )
    cos = F.round(
        _cosine(F.col("va"), F.col("vb"), F.col("na"), F.col("nb")), 6
    )
    # candidates are the small side — never broadcast the corpus;
    # AQE turns these into broadcast joins of `cand` when it is tiny
    return (
        cand.join(a, "vec_a")
        .join(b, "vec_b")
        .select("vec_a", "vec_b", cos.alias("cos_sim"))
        .filter(F.col("cos_sim") >= COSINE_THRESHOLD)
    )


QUERIES = {
    "dedup_exact": dedup_exact,
    "dedup_ngram_jaccard": dedup_ngram_jaccard,
    "dedup_minhash_lsh": dedup_minhash_lsh,
    "dedup_simhash": dedup_simhash,
    "dedup_embedding": dedup_embedding,
    "dedup_clusters": dedup_clusters,
    "dedup_clusters_minhash": dedup_clusters_minhash,
    "dedup_survivors": dedup_survivors,
    "dedup_incremental": dedup_incremental,
    "dataset_split_clustered": dataset_split_clustered,
    "split_leakage_audit": split_leakage_audit,
}

def ngram_jaccard_oracle_sql(bound: int = DEEP_GROUP_BOUND) -> str:
    """DuckDB twin of :func:`_grouped_pairwise` at the given depth
    bound: pairwise jaccard on one representative per distinct text,
    then join expansion with the shallow/deep split (g/m/rpx/ea/eab
    mirror groups/members/rp/exp_a/cross one-to-one).  Because this
    SQL mirrors the implementation's expansion structure, the driver
    differential alone cannot catch an expansion bug expressed
    identically in both engines; the INDEPENDENT pins live in
    tests/test_dedup.py — shallow corpora are asserted equal to the
    naive all-pairs pass (test_grouped_pairwise_equals_naive_...),
    and the deep branches are pinned by
    test_grouped_pairwise_deep_group_bounded, which runs this SQL at
    bound=4 against a 6-deep duplicate group and asserts row-set
    equality with the Spark output plus transitive-closure equality
    with the naive pair set.  With every group shallow (all driver
    SFs) the output equals the naive all-pairs form."""
    return f"""
WITH g AS (
  SELECT md5(text) AS tkey, min(doc_id) AS rep, count(*) AS n,
         min_by(text, doc_id) AS text
  FROM documents GROUP BY md5(text)
),
m AS (SELECT md5(text) AS tkey, doc_id FROM documents),
w AS (SELECT rep AS doc_id, string_split(text, ' ') AS ws FROM g),
sh AS (
  SELECT DISTINCT doc_id, ws[i] || ' ' || ws[i+1] || ' ' || ws[i+2] AS s
  FROM w, UNNEST(generate_series(1, len(ws) - 2)) AS t(i)
),
cnt AS (SELECT doc_id, count(*) AS n FROM sh GROUP BY doc_id),
inter AS (
  SELECT a.doc_id AS doc_a, b.doc_id AS doc_b, count(*) AS n_common
  FROM sh a JOIN sh b ON a.s = b.s AND a.doc_id < b.doc_id
  GROUP BY 1, 2
),
rp AS (
  SELECT doc_a, doc_b,
         round(n_common * 1.0 / (ca.n + cb.n - n_common), 6) AS jaccard
  FROM inter
  JOIN cnt ca ON ca.doc_id = doc_a
  JOIN cnt cb ON cb.doc_id = doc_b
  WHERE round(n_common * 1.0 / (ca.n + cb.n - n_common), 6)
        >= {JACCARD_THRESHOLD}
),
rpx AS (
  SELECT rp.doc_a, rp.doc_b, rp.jaccard,
         ga.tkey AS tkey_a, ga.n AS n_a,
         gb.tkey AS tkey_b, gb.n AS n_b
  FROM rp
  JOIN g ga ON ga.rep = rp.doc_a
  JOIN g gb ON gb.rep = rp.doc_b
),
ea AS (
  SELECT m.doc_id AS a, rpx.tkey_b, rpx.n_b, rpx.doc_b, rpx.jaccard
  FROM rpx JOIN m ON m.tkey = rpx.tkey_a
  WHERE rpx.n_a <= {bound}
  UNION ALL
  SELECT rpx.doc_a AS a, rpx.tkey_b, rpx.n_b, rpx.doc_b, rpx.jaccard
  FROM rpx WHERE rpx.n_a > {bound}
),
eab AS (
  SELECT ea.a, m.doc_id AS b, ea.jaccard
  FROM ea JOIN m ON m.tkey = ea.tkey_b
  WHERE ea.n_b <= {bound}
  UNION ALL
  SELECT ea.a, ea.doc_b AS b, ea.jaccard
  FROM ea WHERE ea.n_b > {bound}
),
paired AS (
  SELECT tkey, rep, n FROM g
  WHERE n >= 2 AND len(string_split(text, ' ')) >= 3
)
SELECT least(a, b) AS doc_a, greatest(a, b) AS doc_b, jaccard FROM eab
UNION ALL
SELECT x.doc_id AS doc_a, y.doc_id AS doc_b,
       CAST(1.0 AS DOUBLE) AS jaccard
FROM m x
JOIN m y ON x.tkey = y.tkey AND x.doc_id < y.doc_id
JOIN paired p ON p.tkey = x.tkey
WHERE p.n <= {bound}
UNION ALL
SELECT p.rep AS doc_a, m.doc_id AS doc_b, CAST(1.0 AS DOUBLE) AS jaccard
FROM paired p
JOIN m ON m.tkey = p.tkey AND m.doc_id <> p.rep
WHERE p.n > {bound}
"""


ORACLES = {
    "dedup_exact": """
SELECT md5(text)    AS text_hash,
       min(doc_id)  AS keep_doc_id,
       count(*)     AS n_copies
FROM documents
GROUP BY md5(text)
""",
    "dedup_ngram_jaccard": ngram_jaccard_oracle_sql(),
    "dedup_embedding": f"""
WITH e AS (
  SELECT vec_id,
         embedding::DOUBLE[] AS v,
         sqrt(list_dot_product(embedding::DOUBLE[], embedding::DOUBLE[])) AS nrm
  FROM embeddings
)
SELECT a.vec_id AS vec_a,
       b.vec_id AS vec_b,
       round(list_dot_product(a.v, b.v) / (a.nrm * b.nrm), 6) AS cos_sim
FROM e a JOIN e b ON a.vec_id < b.vec_id
WHERE round(list_dot_product(a.v, b.v) / (a.nrm * b.nrm), 6) >= {COSINE_THRESHOLD}
""",
    "dedup_minhash_lsh": None,  # filled below (generated SQL)
    # Same 60-bit md5 word hash, same majority-bit packing, same 4x15
    # banding and hamming<=8 verification as the Spark op.
    "dedup_simhash": f"""
WITH w AS (
  SELECT doc_id,
         list_transform(string_split(text, ' '),
                        x -> ('0x' || substring(md5(x), 1, 15))::BIGINT) AS hs
  FROM documents
),
bits AS (
  SELECT doc_id, b,
         CASE WHEN 2 * list_aggregate(
                      list_transform(hs, h -> (h >> b) & 1), 'sum')
                   > len(hs)
              THEN 1::BIGINT ELSE 0::BIGINT END AS bit
  FROM w, UNNEST(generate_series(0, {SIMHASH_BITS - 1})) AS t(b)
),
sim AS (
  SELECT doc_id, CAST(sum(bit << b) AS BIGINT) AS simhash
  FROM bits GROUP BY doc_id
),
chunks AS (
  SELECT doc_id, simhash, c AS chunk,
         (simhash >> (c * {_CHUNK_BITS})) & {_CHUNK_MASK} AS chunk_val
  FROM sim, UNNEST(generate_series(0, {SIMHASH_CHUNKS - 1})) AS t(c)
),
cand AS (
  SELECT DISTINCT a.doc_id AS doc_a, b.doc_id AS doc_b,
                  a.simhash AS sim_a, b.simhash AS sim_b
  FROM chunks a
  JOIN chunks b ON a.chunk = b.chunk AND a.chunk_val = b.chunk_val
              AND a.doc_id < b.doc_id
)
SELECT doc_a, doc_b,
       CAST(bit_count(xor(sim_a, sim_b)) AS INTEGER) AS hamming
FROM cand
WHERE bit_count(xor(sim_a, sim_b)) <= 8
""",
}


def _minhash_oracle_sql() -> str:
    """Generated DuckDB spelling of dedup_minhash_lsh: identical md5
    permutation hashes, md5 band keys, and match-fraction estimate."""
    rows_per_band = N_MINHASH // N_BANDS
    sig_cols = ",\n         ".join(
        f"min(('0x' || substring(md5('{i}:' || s), 1, 15))::BIGINT) AS h{i}"
        for i in range(N_MINHASH)
    )
    band_selects = "\n  UNION ALL\n".join(
        "  SELECT doc_id, {b} AS band, md5(concat_ws(',', {cols})) AS band_key"
        " FROM sig".format(
            b=bi,
            cols=", ".join(
                f"h{bi * rows_per_band + r}" for r in range(rows_per_band)
            ),
        )
        for bi in range(N_BANDS)
    )
    matches = " + ".join(
        f"CASE WHEN sa.h{i} = sb.h{i} THEN 1 ELSE 0 END"
        for i in range(N_MINHASH)
    )
    # sig / bands / cand are MATERIALIZED: sig alone is referenced 10x
    # (8 band UNION branches + both verify sides). DuckDB materializes
    # multi-referenced CTEs by default in a plain query — which is why
    # this oracle completes standalone at sf1.0 — but nested inside
    # dedup_clusters_minhash's WITH RECURSIVE wrapper the planner
    # re-inlined them and the repeated 16-permutation md5 aggregation
    # spilled past the box's free disk (observed twice at sf1.0,
    # PARITY ledger). Explicit MATERIALIZED pins the efficient plan in
    # every consumer — the r12 device from the stream oracles.
    return f"""
WITH w AS (SELECT doc_id, string_split(text, ' ') AS ws FROM documents),
sh AS (
  SELECT DISTINCT doc_id, ws[i] || ' ' || ws[i+1] || ' ' || ws[i+2] AS s
  FROM w, UNNEST(generate_series(1, len(ws) - 2)) AS t(i)
),
sig AS MATERIALIZED (
  SELECT doc_id,
         {sig_cols}
  FROM sh GROUP BY doc_id
),
bands AS MATERIALIZED (
{band_selects}
),
cand AS MATERIALIZED (
  SELECT DISTINCT a.doc_id AS doc_a, b.doc_id AS doc_b
  FROM bands a
  JOIN bands b ON a.band = b.band AND a.band_key = b.band_key
             AND a.doc_id < b.doc_id
)
SELECT doc_a, doc_b,
       round(({matches}) / {float(N_MINHASH)}, 4) AS est_jaccard
FROM cand
JOIN sig sa ON sa.doc_id = doc_a
JOIN sig sb ON sb.doc_id = doc_b
WHERE round(({matches}) / {float(N_MINHASH)}, 4) >= {JACCARD_THRESHOLD}
"""


ORACLES["dedup_minhash_lsh"] = _minhash_oracle_sql()


def _incremental_oracle_sql() -> str:
    """DuckDB twin of :func:`dedup_incremental`: same w/sh/sig/bands
    CTE construction as the LSH oracle, with the candidate join
    restricted to new-vs-existing plus new-vs-smaller-new, then the
    per-new-doc min aggregation and keep verdict."""
    lsh = _minhash_oracle_sql()
    # reuse the shared construction: everything up to the `cand` CTE
    prefix = lsh[: lsh.index("cand AS MATERIALIZED (")]
    matches = " + ".join(
        f"CASE WHEN sa.h{i} = sb.h{i} THEN 1 ELSE 0 END"
        for i in range(N_MINHASH)
    )
    return f"""{prefix}cand AS (
  SELECT DISTINCT a.doc_id AS doc_id, b.doc_id AS other_id,
         (b.doc_id % {NEW_DOC_MOD} = 0) AS other_new
  FROM bands a
  JOIN bands b ON a.band = b.band AND a.band_key = b.band_key
             AND a.doc_id <> b.doc_id
  WHERE a.doc_id % {NEW_DOC_MOD} = 0
    AND (b.doc_id % {NEW_DOC_MOD} <> 0 OR b.doc_id < a.doc_id)
),
ver AS (
  SELECT cand.doc_id, other_id, other_new
  FROM cand
  JOIN sig sa ON sa.doc_id = cand.doc_id
  JOIN sig sb ON sb.doc_id = other_id
  WHERE round(({matches}) / {float(N_MINHASH)}, 4) >= {JACCARD_THRESHOLD}
),
m AS (
  SELECT doc_id,
         min(CASE WHEN NOT other_new THEN other_id END) AS dup_of_existing,
         min(CASE WHEN other_new THEN other_id END) AS dup_of_batch
  FROM ver GROUP BY doc_id
)
SELECT d.doc_id, m.dup_of_existing, m.dup_of_batch,
       (m.dup_of_existing IS NULL AND m.dup_of_batch IS NULL) AS keep
FROM documents d LEFT JOIN m USING (doc_id)
WHERE d.doc_id % {NEW_DOC_MOD} = 0
"""


ORACLES["dedup_incremental"] = _incremental_oracle_sql()

# Connected components as a recursive transitive closure (fine at
# oracle scale; the Spark side is the iterative/scalable algorithm —
# two different algorithms must agree).
ORACLES["dedup_clusters"] = f"""
WITH RECURSIVE pairs AS (
  SELECT doc_a, doc_b FROM ({ORACLES["dedup_ngram_jaccard"]})
),
edges AS (
  SELECT doc_a AS u, doc_b AS v FROM pairs
  UNION
  SELECT doc_b AS u, doc_a AS v FROM pairs
),
reach(u, v) AS (
  SELECT u, v FROM edges
  UNION
  SELECT r.u, e.v FROM reach r JOIN edges e ON r.v = e.u
),
comp AS (
  SELECT u AS doc_id, least(u, min(v)) AS cluster_id FROM reach GROUP BY u
),
sizes AS (
  SELECT cluster_id, count(*) AS cluster_size FROM comp GROUP BY cluster_id
)
SELECT doc_id, comp.cluster_id, cluster_size
FROM comp JOIN sizes USING (cluster_id)
"""

ORACLES["dedup_survivors"] = f"""
WITH RECURSIVE pairs AS (
  SELECT doc_a, doc_b FROM ({ORACLES["dedup_minhash_lsh"]})
),
edges AS (
  SELECT doc_a AS u, doc_b AS v FROM pairs
  UNION
  SELECT doc_b AS u, doc_a AS v FROM pairs
),
reach(u, v) AS (
  SELECT u, v FROM edges
  UNION
  SELECT r.u, e.v FROM reach r JOIN edges e ON r.v = e.u
),
comp AS (
  SELECT u AS doc_id, least(u, min(v)) AS cluster_id FROM reach GROUP BY u
),
fullset AS (
  SELECT d.doc_id, coalesce(c.cluster_id, d.doc_id) AS cluster_id, d.n_chars
  FROM documents d LEFT JOIN comp c USING (doc_id)
),
ranked AS (
  SELECT *,
         row_number() OVER (
           PARTITION BY cluster_id ORDER BY n_chars DESC, doc_id ASC
         ) AS rn,
         count(*) OVER (PARTITION BY cluster_id) AS cluster_size
  FROM fullset
)
SELECT doc_id, cluster_id,
       CAST(cluster_size AS BIGINT) AS cluster_size,
       rn = 1 AS is_survivor
FROM ranked
"""

def _split_clustered_oracle_sql() -> str:
    """DuckDB twin of :func:`dataset_split_clustered`: the recursive
    transitive closure over the MinHash-LSH pair oracle (same comp
    CTE as dedup_clusters_minhash), singleton-coalesced over the full
    corpus, then the portable md5 bucket hashed on cluster_id."""
    from angelone_clickhouse_spark.operators.curation import (
        TRAIN_PCT,
        VAL_PCT,
    )

    return f"""
WITH RECURSIVE pairs AS (
  SELECT doc_a, doc_b FROM ({ORACLES["dedup_minhash_lsh"]})
),
edges AS (
  SELECT doc_a AS u, doc_b AS v FROM pairs
  UNION
  SELECT doc_b AS u, doc_a AS v FROM pairs
),
reach(u, v) AS (
  SELECT u, v FROM edges
  UNION
  SELECT r.u, e.v FROM reach r JOIN edges e ON r.v = e.u
),
comp AS (
  SELECT u AS doc_id, least(u, min(v)) AS cluster_id FROM reach GROUP BY u
),
fullset AS (
  SELECT d.doc_id, coalesce(c.cluster_id, d.doc_id) AS cluster_id
  FROM documents d LEFT JOIN comp c USING (doc_id)
),
b AS (
  SELECT doc_id, cluster_id,
         ('0x' || substring(md5('dsc:' || CAST(cluster_id AS VARCHAR)),
                            1, 15))::BIGINT % 100 AS bucket
  FROM fullset
)
SELECT doc_id, cluster_id, bucket,
       CASE WHEN bucket < {TRAIN_PCT} THEN 'train'
            WHEN bucket < {TRAIN_PCT + VAL_PCT} THEN 'val'
            ELSE 'test' END AS split
FROM b
"""


ORACLES["dataset_split_clustered"] = _split_clustered_oracle_sql()


def _split_leakage_oracle_sql() -> str:
    """DuckDB twin of :func:`split_leakage_audit`: the LSH pair
    oracle + the components closure, both split assignments replayed
    inline, then the two one-row straddle aggregates."""
    from angelone_clickhouse_spark.operators.curation import (
        TRAIN_PCT,
        VAL_PCT,
    )

    case = (
        f"CASE WHEN b < {TRAIN_PCT} THEN 'train' "
        f"WHEN b < {TRAIN_PCT + VAL_PCT} THEN 'val' "
        f"ELSE 'test' END AS split"
    )
    return f"""
WITH RECURSIVE pairs AS (
  SELECT doc_a, doc_b FROM ({ORACLES["dedup_minhash_lsh"]})
),
edges AS (
  SELECT doc_a AS u, doc_b AS v FROM pairs
  UNION
  SELECT doc_b AS u, doc_a AS v FROM pairs
),
reach(u, v) AS (
  SELECT u, v FROM edges
  UNION
  SELECT r.u, e.v FROM reach r JOIN edges e ON r.v = e.u
),
comp AS (
  SELECT u AS doc_id, least(u, min(v)) AS cluster_id FROM reach GROUP BY u
),
fullset AS (
  SELECT d.doc_id, coalesce(c.cluster_id, d.doc_id) AS cluster_id
  FROM documents d LEFT JOIN comp c USING (doc_id)
),
sp_doc AS (
  SELECT doc_id, {case} FROM (
    SELECT doc_id,
           ('0x' || substring(md5('ds:' || CAST(doc_id AS VARCHAR)),
                              1, 15))::BIGINT % 100 AS b
    FROM documents)
),
sp_cl AS (
  SELECT doc_id, {case} FROM (
    SELECT doc_id,
           ('0x' || substring(md5('dsc:' || CAST(cluster_id AS VARCHAR)),
                              1, 15))::BIGINT % 100 AS b
    FROM fullset)
),
aud AS (
  SELECT 'per_doc' AS scheme, count(*) AS n_pairs,
         COALESCE(sum(CASE WHEN a.split <> b.split THEN 1 ELSE 0 END),
                  0) AS n_straddle
  FROM pairs p
  JOIN sp_doc a ON a.doc_id = p.doc_a
  JOIN sp_doc b ON b.doc_id = p.doc_b
  UNION ALL
  SELECT 'per_cluster' AS scheme, count(*) AS n_pairs,
         COALESCE(sum(CASE WHEN a.split <> b.split THEN 1 ELSE 0 END),
                  0) AS n_straddle
  FROM pairs p
  JOIN sp_cl a ON a.doc_id = p.doc_a
  JOIN sp_cl b ON b.doc_id = p.doc_b
)
SELECT scheme,
       CAST(n_pairs AS BIGINT) AS n_pairs,
       CAST(n_straddle AS BIGINT) AS n_straddle,
       -- greatest(): empty pair set must report 0, matching the
       -- Spark side's guarded non-ANSI `div` (ADVICE r15)
       CAST((1000 * n_straddle) // greatest(n_pairs, 1) AS BIGINT)
         AS straddle_milli
FROM aud
"""


ORACLES["split_leakage_audit"] = _split_leakage_oracle_sql()

ORACLES["dedup_clusters_minhash"] = f"""
WITH RECURSIVE pairs AS (
  SELECT doc_a, doc_b FROM ({ORACLES["dedup_minhash_lsh"]})
),
edges AS (
  SELECT doc_a AS u, doc_b AS v FROM pairs
  UNION
  SELECT doc_b AS u, doc_a AS v FROM pairs
),
reach(u, v) AS (
  SELECT u, v FROM edges
  UNION
  SELECT r.u, e.v FROM reach r JOIN edges e ON r.v = e.u
),
comp AS (
  SELECT u AS doc_id, least(u, min(v)) AS cluster_id FROM reach GROUP BY u
),
sizes AS (
  SELECT cluster_id, count(*) AS cluster_size FROM comp GROUP BY cluster_id
)
SELECT doc_id, comp.cluster_id, cluster_size
FROM comp JOIN sizes USING (cluster_id)
"""
