"""Training-data pipeline operators over the ``documents`` table:
benchmark decontamination (n-gram, hashed, and winnowing-fingerprint
passes), deterministic stratified sampling, per-language
quality-quantile gating, sequence packing, and overlapping RAG
chunking.

These extend the reference's analytics surface (it has none of these;
cf. SURVEY.md §2.3 "capability gaps") with the operations a
large-scale LLM data pipeline runs between raw ingest and training.
All are pure built-in-function DataFrame plans (JVM, codegen) and
all are DuckDB-oracle-checkable because every derived value is
integer arithmetic or md5-based hashing — no float rounding anywhere.

Scale notes (100 TB):
- decontaminate_ngrams: the benchmark n-gram set is tiny (eval suites
  are MBs), so it is broadcast; the corpus side is a map-side
  broadcast-semi-join — the only shuffle is the final per-doc count.
- sample_stratified: a pure filter on md5(doc_id) — no shuffle at all;
  this is how you downsample a dominant language deterministically
  across reruns and executors (no RNG state, no seed coordination).
- quality_quantile_gate: one shuffle on lang (the window partition);
  at 100 TB you'd pre-aggregate an approx-quantile per lang and
  broadcast the cutoffs instead — documented in the docstring.
- sequence_pack: windows partition by source shard, never a global
  single-partition sort; at scale the shard key is the output-file
  bucket, so each packer task is independent.
"""

from __future__ import annotations

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F

from angelone_clickhouse_spark.materialize import materialize
from angelone_clickhouse_spark.sources.tables import load_table

# Word n-gram width for decontamination overlap. Real pipelines use
# 8-13-gram character or word windows; the fixture docs are short
# single-space word soup, so 5-word grams keep the overlap rate
# non-degenerate at sf0.01 while exercising the identical plan shape.
DECON_N = 5
# Every 50th doc plays the "held-out benchmark" role.
BENCH_MOD = 50
# Winnowing window (shingle hashes per rolling minimum) shared by
# text.text_fingerprint and decontaminate_fingerprint.
FP_WINDOW = 4
# sequence_pack: token budget per packed training sequence.
PACK_BUDGET = 512
# sample_stratified: per-language keep-rate numerators out of 100.
SAMPLE_PCT = {"en": 10, "de": 25}
SAMPLE_PCT_DEFAULT = 50


def _word_ngrams(
    docs: DataFrame, n: int, checkpoint_dir: str | None = None
) -> DataFrame:
    """doc_id -> exploded distinct n-word grams, all JVM-side.

    Same short-doc guard as dedup._shingles: an unguarded
    sequence(0, size(w)-n) counts DOWN for docs under n words and
    fabricates grams via null-skipping concat_ws (ANSI error risk),
    while the DuckDB generate_series yields none.
    """
    idx = ", ".join(f"w[i+{k}]" for k in range(n))
    grams = docs.select("doc_id", F.split("text", " ").alias("w")).select(
        "doc_id",
        F.expr(
            f"CASE WHEN size(w) >= {n} THEN array_distinct("
            f"  transform(sequence(0, size(w) - {n}), "
            f"            i -> concat_ws(' ', {idx})))"
            f" ELSE CAST(array() AS ARRAY<STRING>) END"
        ).alias("grams"),
    )
    # materialize before explode — Generate re-evaluates its child
    # expression per OUTPUT row (see dedup._shingles)
    grams = materialize(grams, checkpoint_dir)
    return grams.select("doc_id", F.explode("grams").alias("gram"))


def decontaminate_ngrams(
    spark: SparkSession, sf_dir: str, checkpoint_dir: str | None = None
) -> DataFrame:
    """Benchmark decontamination: flag training docs sharing any
    DECON_N-word gram with the held-out benchmark subset
    (doc_id % BENCH_MOD == 0), with the distinct-overlapping-gram
    count as the contamination weight.

    The benchmark gram set is deduplicated then broadcast; the corpus
    side never shuffles until the per-doc count. This is the standard
    n-gram-overlap decontamination pass (cf. GPT-3 appendix C /
    PaLM-style 13-gram filters) expressed as a broadcast join.
    """
    docs = load_table(spark, sf_dir, "documents")
    grams = _word_ngrams(docs, DECON_N, checkpoint_dir)
    bench_grams = (
        grams.filter(F.col("doc_id") % BENCH_MOD == 0)
        .select("gram")
        .distinct()
    )
    hits = grams.filter(F.col("doc_id") % BENCH_MOD != 0).join(
        F.broadcast(bench_grams), "gram"
    )
    return (
        hits.groupBy("doc_id")
        .agg(F.count(F.lit(1)).alias("n_hit_ngrams"))
        .select("doc_id", "n_hit_ngrams")
    )


def decontaminate_hashed(
    spark: SparkSession, sf_dir: str, checkpoint_dir: str | None = None
) -> DataFrame:
    """Scale-path variant of :func:`decontaminate_ngrams`: the join key
    is a 60-bit md5 prefix of the gram instead of the gram string, so
    the broadcast benchmark set carries 8 bytes per gram instead of the
    ~6-word string (~16x smaller — at 100 TB the benchmark suite's gram
    set is what must fit in every executor).

    Same output contract as the exact op up to 60-bit hash collisions
    (~n²/2⁶¹ expected false hits — zero at any realistic suite size,
    and deterministic, so the DuckDB oracle checks this path exactly).
    The next compression rung would be a bloom filter; Spark keeps
    ``bloom_filter_agg`` internal (it powers the runtime-filter
    injection enabled in session.py), so the explicit-hash-set form is
    the idiomatic user-level spelling.
    """
    docs = load_table(spark, sf_dir, "documents")
    grams = _word_ngrams(docs, DECON_N, checkpoint_dir)
    h = F.expr(
        "cast(conv(substring(md5(gram), 1, 15), 16, 10) as bigint)"
    )
    hashed = grams.select("doc_id", h.alias("gh"))
    bench = (
        hashed.filter(F.col("doc_id") % BENCH_MOD == 0)
        .select("gh")
        .distinct()
    )
    hits = hashed.filter(F.col("doc_id") % BENCH_MOD != 0).join(
        F.broadcast(bench), "gh"
    )
    return (
        hits.groupBy("doc_id")
        .agg(F.count(F.lit(1)).alias("n_hit_ngrams"))
        .select("doc_id", "n_hit_ngrams")
    )


# decontaminate_bloom: filter geometry. M is sized like a real
# deployment (the whole point is bits-per-entry ~ 20 at suite scale);
# K salted md5 positions per gram. Both are semantics here (they fix
# which false positives occur), so the oracle carries them verbatim.
BLOOM_M = 1 << 20
BLOOM_K = 3


def decontaminate_bloom(
    spark: SparkSession,
    sf_dir: str,
    checkpoint_dir: str | None = None,
    m: int = BLOOM_M,
    k: int = BLOOM_K,
) -> DataFrame:
    """The bloom-filter rung of the decontamination ladder (ngrams ->
    hashed -> bloom): the benchmark suite's gram set compresses to a
    BIT SET — ``k`` salted-md5 positions per gram in an ``m``-bit
    space, ~2.5 bytes/gram here vs 8 for the hash set — and a
    training gram is flagged when ALL ``k`` of its positions are set.
    Bloom filters admit false positives, so alongside the flagged
    count the op reports the exact-overlap count and the difference:
    the in-engine measurement of the filter's actual FP cost, which
    is what a deployment tunes ``m`` against.

    Everything is deterministic (positions are pure md5 functions of
    the gram), so which false positives occur is itself reproducible
    and the DuckDB oracle checks flagged/exact/fp verbatim — same
    exactness convention as dedup's MinHash estimate.

    Scale notes (100 TB): the bit set is represented relationally as
    the distinct set-bit table (at most m rows ~ KB-scale broadcast;
    a deployment packs it into a bitmap — Spark's own
    ``bloom_filter_agg`` is the packed form but is not exposed to
    SQL users, and the relational spelling is what an oracle can
    check). The corpus side explodes to k position rows per gram —
    map-side, then ONE broadcast membership join and a two-level
    rollup (per-gram all-k test, per-doc count). The corpus never
    shuffles until the per-doc aggregate, same as the other two
    rungs."""
    docs = load_table(spark, sf_dir, "documents")
    grams = _word_ngrams(docs, DECON_N, checkpoint_dir)
    pos_exprs = [
        F.expr(
            f"cast(conv(substring(md5(concat('{i}:', gram)), 1, 15),"
            f" 16, 10) as bigint) % {m}"
        )
        for i in range(k)
    ]
    pos = grams.select(
        "doc_id", "gram", F.explode(F.array(*pos_exprs)).alias("p")
    )
    bench_bits = (
        pos.filter(F.col("doc_id") % BENCH_MOD == 0).select("p").distinct()
    )
    bench_grams = (
        grams.filter(F.col("doc_id") % BENCH_MOD == 0)
        .select("gram")
        .distinct()
        .withColumn("exact_hit", F.lit(True))
    )
    flagged = (
        pos.filter(F.col("doc_id") % BENCH_MOD != 0)
        .join(F.broadcast(bench_bits), "p")
        .groupBy("doc_id", "gram")
        .agg(F.count(F.lit(1)).alias("n_set"))
        .filter(F.col("n_set") == k)
    )
    return (
        flagged.join(F.broadcast(bench_grams), "gram", "left")
        .groupBy("doc_id")
        .agg(
            F.count(F.lit(1)).alias("n_flagged_ngrams"),
            F.sum(
                F.coalesce("exact_hit", F.lit(False)).cast("long")
            ).alias("n_exact_ngrams"),
        )
        .select(
            "doc_id",
            "n_flagged_ngrams",
            "n_exact_ngrams",
            (F.col("n_flagged_ngrams") - F.col("n_exact_ngrams")).alias(
                "n_false_pos"
            ),
        )
    )


def sample_stratified(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Deterministic stratified sampling: per-language keep rates
    (downsample dominant strata) decided by a content-free stable hash
    of doc_id — reproducible across reruns, executors, and engines,
    unlike rand(seed) whose stream depends on partitioning.

    bucket = first 15 md5 hex chars of 'smp:<doc_id>' as a 60-bit int,
    mod 100; keep when bucket < pct(lang).
    """
    docs = load_table(spark, sf_dir, "documents")
    bucket = F.expr(
        "cast(conv(substring(md5(concat('smp:', cast(doc_id as string))),"
        " 1, 15), 16, 10) as bigint) % 100"
    )
    pct = F.col("lang")
    cases = F.lit(SAMPLE_PCT_DEFAULT)
    for lang, p in sorted(SAMPLE_PCT.items()):
        cases = F.when(pct == lang, F.lit(p)).otherwise(cases)
    return (
        docs.withColumn("bucket", bucket)
        .filter(F.col("bucket") < cases)
        .select("doc_id", "lang", "source", "bucket")
    )


def quality_quantile_gate(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Keep the top half of each language by an integer quality score
    (type-token ratio in milli-units — pure integer division, so the
    score and the median cut are bit-identical cross-engine).

    rank/count window with a doc_id tiebreak: keep rows where
    2*(rank-1) >= (n-1), i.e. percent_rank >= 0.5, expressed in
    integers to avoid float comparison at the boundary.

    Scale: one shuffle on lang. At 100 TB, compute percentile_approx
    cutoffs per lang (tiny aggregate), broadcast them, and filter —
    same output contract, no wide window.
    """
    docs = load_table(spark, sf_dir, "documents")
    scored = docs.select(
        "doc_id",
        "lang",
        F.expr(
            "(1000 * size(array_distinct(split(text, ' '))))"
            " div size(split(text, ' '))"
        ).alias("score_milli"),
    )
    from pyspark.sql.window import Window

    win = Window.partitionBy("lang").orderBy("score_milli", "doc_id")
    ranked = scored.select(
        "doc_id",
        "lang",
        "score_milli",
        F.rank().over(win).alias("r"),
        F.count(F.lit(1)).over(Window.partitionBy("lang")).alias("n"),
    )
    return ranked.filter(2 * (F.col("r") - 1) >= F.col("n") - 1).select(
        "doc_id", "lang", "score_milli"
    )


def sequence_pack(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Greedy contiguous sequence packing: concatenate documents in
    deterministic (source, doc_id) order and split the token stream
    into PACK_BUDGET-token training sequences — each doc is assigned
    the sequence where its first token lands (standard pretraining
    concat-then-chunk packing).

    seq_id = (tokens before this doc within its source) div budget,
    computed with an exclusive-preceding window sum; offset is the
    position of the doc's first token inside that sequence. Windows
    partition by source, so no global sort — but one giant source
    still pins its window to one task; ``curation.pack_sequences``
    is the global-stream spelling whose two-level prefix sum stays
    parallel under any key distribution.
    """
    docs = load_table(spark, sf_dir, "documents")
    toks = docs.select(
        "doc_id",
        "source",
        F.size(F.split("text", " ")).alias("n_tokens"),
    )
    from pyspark.sql.window import Window

    win = (
        Window.partitionBy("source")
        .orderBy("doc_id")
        .rowsBetween(Window.unboundedPreceding, -1)
    )
    # ONE cumulative-sum definition: seq_id and offset_in_seq must
    # share the same prefix sum, so both derive from this column (two
    # spellings of the window would be a silent-drift hazard)
    cum = F.coalesce(F.sum("n_tokens").over(win), F.lit(0))
    return toks.withColumn("cum", cum).select(
        "doc_id",
        "source",
        "n_tokens",
        F.expr(f"cum div {PACK_BUDGET}").alias("seq_id"),
        (F.col("cum") % PACK_BUDGET).alias("offset_in_seq"),
    )


def pack_efficiency(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Packing-quality report over :func:`sequence_pack`'s layout,
    per source: how many PACK_BUDGET-token sequences the source
    fills, how full they are (exact milli fill counting the final
    partial sequence's tail as waste), and how many documents a
    chunk boundary splits — the three numbers a pretraining data
    engineer reads before accepting a packing run.

    Derives from sequence_pack's OUTPUT (same cum-sum, zero drift):
    a doc is split iff offset_in_seq + n_tokens > PACK_BUDGET; the
    sequence count is ceil(total_tokens / budget). One rollup shuffle
    on source."""
    packed = sequence_pack(spark, sf_dir)
    return (
        packed.groupBy("source")
        .agg(
            F.count(F.lit(1)).alias("n_docs"),
            F.sum("n_tokens").alias("n_tokens"),
            F.sum(
                (
                    F.col("offset_in_seq") + F.col("n_tokens")
                    > PACK_BUDGET
                ).cast("long")
            ).alias("n_split_docs"),
        )
        .select(
            "source",
            "n_docs",
            "n_tokens",
            "n_split_docs",
            F.expr(
                f"(n_tokens + {PACK_BUDGET} - 1) div {PACK_BUDGET}"
            ).alias("n_seqs"),
            F.expr(
                f"(1000 * n_tokens) div"
                f" (((n_tokens + {PACK_BUDGET} - 1) div {PACK_BUDGET})"
                f" * {PACK_BUDGET})"
            ).alias("fill_milli"),
            F.expr("(1000 * n_split_docs) div n_docs").alias(
                "split_milli"
            ),
        )
    )


CHUNK_TOKENS = 64  # RAG chunk length (whitespace tokens)
CHUNK_STRIDE = 48  # start-to-start stride -> 16-token overlap


def chunk_documents(
    spark: SparkSession, sf_dir: str, checkpoint_dir: str | None = None
) -> DataFrame:
    """Overlapping-window document chunking — the retrieval/RAG
    preprocessing twin of :func:`sequence_pack` (packing concatenates
    to fill a budget; chunking slices with overlap so every token is
    retrievable with context). Chunk k covers tokens
    [1 + k*stride, 1 + k*stride + size) for every start inside the
    document; the final chunks are naturally short.

    Scale notes: pure per-row expansion (transform + explode) — no
    shuffle at all; the chunk array is materialized before the explode
    because Generate re-evaluates its child per output row (see
    _word_ngrams). Expansion factor is ~len/stride (here ~1.3x), the
    same arithmetic a 100 TB corpus pays."""
    docs = load_table(spark, sf_dir, "documents")
    # split once per row: the transform lambda is not hoisted by
    # Catalyst, so splitting inside it would re-tokenize the document
    # once per emitted chunk (~len/stride times)
    chunks = docs.select(
        "doc_id", F.split("text", " ").alias("w")
    ).select(
        "doc_id",
        F.expr(
            f"transform(sequence(0, (size(w) - 1) div {CHUNK_STRIDE}), "
            f"k -> struct(k AS k, "
            f"  slice(w, 1 + k * {CHUNK_STRIDE}, {CHUNK_TOKENS}) AS toks))"
        ).alias("cs"),
    )
    chunks = materialize(chunks, checkpoint_dir)
    return chunks.select(
        "doc_id", F.explode("cs").alias("c")
    ).select(
        "doc_id",
        F.col("c.k").cast("long").alias("chunk_id"),
        F.array_join("c.toks", " ").alias("chunk_text"),
        F.size("c.toks").cast("long").alias("n_chunk_tokens"),
    )


FP_HIT_DOCS = "decontaminate_fingerprint"


def _winnow_fingerprints(
    docs: DataFrame, checkpoint_dir: str | None = None
) -> DataFrame:
    """doc_id -> exploded distinct winnowing fingerprints (the md5-hex
    window minima of operators/text.py:text_fingerprint, re-used as a
    JOIN KEY instead of a count)."""
    from angelone_clickhouse_spark.operators.dedup import (
        spread_low_parallelism,
    )

    # map-side md5+rolling-min stage: spread a below-cores scan first
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
        ).alias("fps"),
    )
    fps = materialize(fps, checkpoint_dir)  # Generate re-eval, as above
    return fps.select("doc_id", F.explode("fps").alias("fp"))


def decontaminate_fingerprint(
    spark: SparkSession, sf_dir: str, checkpoint_dir: str | None = None
) -> DataFrame:
    """Fingerprint-based decontamination: flag training docs sharing
    winnowing fingerprints (Schleimer et al., SIGMOD'03 — the MOSS
    scheme) with the held-out benchmark subset (doc_id % BENCH_MOD
    == 0). Where the n-gram pass (decontaminate_ngrams) matches
    EVERY shared 5-gram, winnowing guarantees any shared run of
    >= window+2 words shares a fingerprint while broadcasting ~1/window
    as many keys — the cheaper wide-net pass a pipeline runs first.

    Scale notes: same broadcast-join shape as decontaminate_hashed;
    the benchmark fingerprint set is the broadcast side, the corpus
    never shuffles before the per-doc count."""
    docs = load_table(spark, sf_dir, "documents")
    fps = _winnow_fingerprints(docs, checkpoint_dir)
    bench = (
        fps.filter(F.col("doc_id") % BENCH_MOD == 0)
        .select("fp")
        .distinct()
    )
    hits = fps.filter(F.col("doc_id") % BENCH_MOD != 0).join(
        F.broadcast(bench), "fp"
    )
    return (
        hits.groupBy("doc_id")
        .agg(F.count(F.lit(1)).alias("n_hit_fps"))
        .select("doc_id", "n_hit_fps")
    )


def pipeline_e2e(
    spark: SparkSession, sf_dir: str, checkpoint_dir: str | None = None
) -> DataFrame:
    """End-to-end curation pipeline composition — the proof that the
    individual operators CHAIN into the funnel a training-data run
    actually executes: training pool (benchmark docs held out) →
    exact dedup (keep min doc_id per content hash) → benchmark
    decontamination (drop any doc sharing a DECON_N-gram with the
    held-out set) → Gopher quality gate (doc_repetition's keep rule).
    One row per stage with the surviving doc count — the funnel
    numbers every pipeline report leads with.

    Each stage reuses the SAME operator the registry checks
    individually (decontaminate_ngrams, doc_repetition), so a green
    row here certifies composition, not just re-derivation.

    Scale notes: stage composition is doc_id-keyed anti/semi joins —
    at 100 TB each is one shuffle on the id (or zero with a bucketed
    doc table); the four stage counts are single-row aggregates
    (map-side partial count, 1-row exchange each). Nothing here adds
    shuffle beyond what the component operators already do."""
    from angelone_clickhouse_spark.operators.curation import doc_repetition

    docs = load_table(spark, sf_dir, "documents")
    pool = docs.filter(F.col("doc_id") % BENCH_MOD != 0)
    # the stage-count union evaluates each branch independently, so
    # without a lineage cut kept1 would recompute 3x and the gram
    # explode inside decontaminate 2x — materialize each surviving
    # id-set (tiny: bounded by |docs| ids) once instead
    kept1 = materialize(
        pool.groupBy(F.md5("text").alias("h"))
        .agg(F.min("doc_id").alias("doc_id"))
        .select("doc_id"),
        checkpoint_dir,
    )
    contaminated = decontaminate_ngrams(spark, sf_dir, checkpoint_dir).select(
        "doc_id"
    )
    kept2 = materialize(
        kept1.join(contaminated, "doc_id", "left_anti"), checkpoint_dir
    )
    # materialize the gate output BEFORE filtering on it: a filter (or
    # join predicate) over doc_repetition's `keep` column re-inlines
    # its higher-order gram expressions (the CollapseProject hazard its
    # docstring documents) and turns a 0.5 s scan into a ~10 s
    # expression blow-up — the lineage cut makes the filter run on
    # materialized rows instead
    rep = materialize(
        doc_repetition(spark, sf_dir).select("doc_id", "keep"),
        checkpoint_dir,
    )
    good = rep.filter(F.col("keep")).select("doc_id")
    kept3 = kept2.join(good, "doc_id", "left_semi")

    def stage(df: DataFrame, idx: int, name: str) -> DataFrame:
        return df.agg(F.count(F.lit(1)).alias("n_docs")).select(
            F.lit(idx).cast("int").alias("stage_idx"),
            F.lit(name).alias("stage"),
            "n_docs",
        )

    return (
        stage(pool, 0, "input")
        .union(stage(kept1, 1, "exact_dedup"))
        .union(stage(kept2, 2, "decontaminated"))
        .union(stage(kept3, 3, "quality_gate"))
    )


QUERIES = {
    "decontaminate_ngrams": decontaminate_ngrams,
    "decontaminate_hashed": decontaminate_hashed,
    "decontaminate_bloom": decontaminate_bloom,
    "decontaminate_fingerprint": decontaminate_fingerprint,
    "sample_stratified": sample_stratified,
    "quality_quantile_gate": quality_quantile_gate,
    "sequence_pack": sequence_pack,
    "pack_efficiency": pack_efficiency,
    "chunk_documents": chunk_documents,
    "pipeline_e2e": pipeline_e2e,
}

_PCT_CASE = (
    "CASE "
    + " ".join(
        f"WHEN lang = '{lang}' THEN {p}"
        for lang, p in sorted(SAMPLE_PCT.items())
    )
    + f" ELSE {SAMPLE_PCT_DEFAULT} END"
)

ORACLES_R4 = {
    "chunk_documents": f"""
WITH w AS (SELECT doc_id, string_split(text, ' ') AS ws FROM documents)
SELECT doc_id,
       CAST(k AS BIGINT) AS chunk_id,
       array_to_string(
         ws[1 + k * {CHUNK_STRIDE} :
            least(len(ws), k * {CHUNK_STRIDE} + {CHUNK_TOKENS})], ' ')
         AS chunk_text,
       CAST(least({CHUNK_TOKENS}, len(ws) - k * {CHUNK_STRIDE}) AS BIGINT)
         AS n_chunk_tokens
FROM w, UNNEST(generate_series(0, (len(ws) - 1) // {CHUNK_STRIDE})) AS t(k)
""",
    "decontaminate_fingerprint": """
WITH sh AS (
  SELECT doc_id,
         CASE WHEN len(ws) >= 3 THEN
           list_transform(generate_series(1, len(ws) - 2),
                          i -> md5(ws[i] || ' ' || ws[i+1] || ' ' || ws[i+2]))
         ELSE [] END AS hs
  FROM (SELECT doc_id, string_split(text, ' ') AS ws FROM documents)
),
fps AS (
  SELECT doc_id, unnest(list_distinct(list_transform(
           generate_series(1, len(hs) - __FPW__ + 1),
           i -> list_aggregate(hs[i:i + __FPW__ - 1], 'min')))) AS fp
  FROM sh
  WHERE len(hs) >= __FPW__
),
bench AS (SELECT DISTINCT fp FROM fps WHERE doc_id % __BM__ = 0)
SELECT f.doc_id, CAST(count(*) AS BIGINT) AS n_hit_fps
FROM fps f JOIN bench b ON f.fp = b.fp
WHERE f.doc_id % __BM__ != 0
GROUP BY f.doc_id
""",
}

ORACLES = {
    "decontaminate_ngrams": f"""
WITH w AS (SELECT doc_id, string_split(text, ' ') AS ws FROM documents),
grams AS (
  SELECT DISTINCT doc_id,
         ws[i] || ' ' || ws[i+1] || ' ' || ws[i+2] || ' ' || ws[i+3]
               || ' ' || ws[i+4] AS gram
  FROM w, UNNEST(generate_series(1, len(ws) - {DECON_N - 1})) AS t(i)
),
bench AS (
  SELECT DISTINCT gram FROM grams WHERE doc_id % {BENCH_MOD} = 0
)
SELECT g.doc_id, CAST(count(*) AS BIGINT) AS n_hit_ngrams
FROM grams g JOIN bench b ON g.gram = b.gram
WHERE g.doc_id % {BENCH_MOD} != 0
GROUP BY g.doc_id
""",
    "decontaminate_hashed": f"""
WITH w AS (SELECT doc_id, string_split(text, ' ') AS ws FROM documents),
grams AS (
  SELECT DISTINCT doc_id,
         ws[i] || ' ' || ws[i+1] || ' ' || ws[i+2] || ' ' || ws[i+3]
               || ' ' || ws[i+4] AS gram
  FROM w, UNNEST(generate_series(1, len(ws) - {DECON_N - 1})) AS t(i)
),
hashed AS (
  SELECT doc_id,
         ('0x' || substring(md5(gram), 1, 15))::BIGINT AS gh
  FROM grams
),
bench AS (
  SELECT DISTINCT gh FROM hashed WHERE doc_id % {BENCH_MOD} = 0
)
SELECT h.doc_id, CAST(count(*) AS BIGINT) AS n_hit_ngrams
FROM hashed h JOIN bench b ON h.gh = b.gh
WHERE h.doc_id % {BENCH_MOD} != 0
GROUP BY h.doc_id
""",
    "sample_stratified": f"""
SELECT doc_id, lang, source,
       ('0x' || substring(md5('smp:' || CAST(doc_id AS VARCHAR)),
                          1, 15))::BIGINT % 100 AS bucket
FROM documents
WHERE ('0x' || substring(md5('smp:' || CAST(doc_id AS VARCHAR)),
                         1, 15))::BIGINT % 100 < ({_PCT_CASE})
""",
    "quality_quantile_gate": """
WITH scored AS (
  SELECT doc_id, lang,
         (1000 * len(list_distinct(string_split(text, ' '))))
           // len(string_split(text, ' ')) AS score_milli
  FROM documents
),
ranked AS (
  SELECT doc_id, lang, score_milli,
         rank() OVER (PARTITION BY lang
                      ORDER BY score_milli, doc_id) AS r,
         count(*) OVER (PARTITION BY lang) AS n
  FROM scored
)
SELECT doc_id, lang, CAST(score_milli AS BIGINT) AS score_milli
FROM ranked WHERE 2 * (r - 1) >= n - 1
""",
    "sequence_pack": f"""
WITH toks AS (
  SELECT doc_id, source,
         len(string_split(text, ' ')) AS n_tokens
  FROM documents
),
c AS (
  SELECT doc_id, source, n_tokens,
         coalesce(sum(n_tokens) OVER (
           PARTITION BY source ORDER BY doc_id
           ROWS BETWEEN UNBOUNDED PRECEDING AND 1 PRECEDING), 0) AS cum
  FROM toks
)
SELECT doc_id, source, CAST(n_tokens AS INT) AS n_tokens,
       CAST(cum // {PACK_BUDGET} AS BIGINT) AS seq_id,
       CAST(cum % {PACK_BUDGET} AS BIGINT) AS offset_in_seq
FROM c
""",
}

ORACLES["decontaminate_bloom"] = f"""
WITH w AS (SELECT doc_id, string_split(text, ' ') AS ws FROM documents),
grams AS (
  SELECT DISTINCT doc_id,
         ws[i] || ' ' || ws[i+1] || ' ' || ws[i+2] || ' ' || ws[i+3]
               || ' ' || ws[i+4] AS gram
  FROM w, UNNEST(generate_series(1, len(ws) - {DECON_N - 1})) AS t(i)
),
pos AS (
  SELECT doc_id, gram,
         ('0x' || substring(md5(CAST(k.i AS VARCHAR) || ':' || gram),
                            1, 15))::BIGINT % {BLOOM_M} AS p
  FROM grams, UNNEST(generate_series(0, {BLOOM_K - 1})) AS k(i)
),
bench_bits AS (
  SELECT DISTINCT p FROM pos WHERE doc_id % {BENCH_MOD} = 0
),
bench_grams AS (
  SELECT DISTINCT gram FROM grams WHERE doc_id % {BENCH_MOD} = 0
),
flagged AS (
  SELECT doc_id, gram
  FROM pos
  WHERE doc_id % {BENCH_MOD} != 0
    AND p IN (SELECT p FROM bench_bits)
  GROUP BY doc_id, gram
  HAVING count(*) = {BLOOM_K}
)
SELECT f.doc_id,
       CAST(count(*) AS BIGINT) AS n_flagged_ngrams,
       CAST(sum(CASE WHEN b.gram IS NOT NULL THEN 1 ELSE 0 END)
            AS BIGINT) AS n_exact_ngrams,
       CAST(count(*) - sum(CASE WHEN b.gram IS NOT NULL THEN 1 ELSE 0 END)
            AS BIGINT) AS n_false_pos
FROM flagged f LEFT JOIN bench_grams b ON b.gram = f.gram
GROUP BY f.doc_id
"""

ORACLES_R4["decontaminate_fingerprint"] = (
    ORACLES_R4["decontaminate_fingerprint"]
    .replace("__FPW__", str(FP_WINDOW))
    .replace("__BM__", str(BENCH_MOD))
)
ORACLES.update(ORACLES_R4)

ORACLES["pack_efficiency"] = f"""
WITH toks AS (
  SELECT doc_id, source,
         len(string_split(text, ' ')) AS n_tokens
  FROM documents
),
c AS (
  SELECT doc_id, source, n_tokens,
         coalesce(sum(n_tokens) OVER (
           PARTITION BY source ORDER BY doc_id
           ROWS BETWEEN UNBOUNDED PRECEDING AND 1 PRECEDING), 0) AS cum
  FROM toks
),
agg AS (
  SELECT source,
         count(*) AS n_docs,
         sum(n_tokens) AS n_tokens,
         sum(CASE WHEN cum % {PACK_BUDGET} + n_tokens > {PACK_BUDGET}
             THEN 1 ELSE 0 END) AS n_split_docs
  FROM c GROUP BY source
)
SELECT source,
       CAST(n_docs AS BIGINT) AS n_docs,
       CAST(n_tokens AS BIGINT) AS n_tokens,
       CAST(n_split_docs AS BIGINT) AS n_split_docs,
       CAST((n_tokens + {PACK_BUDGET} - 1) // {PACK_BUDGET} AS BIGINT)
         AS n_seqs,
       CAST((1000 * n_tokens) //
            (((n_tokens + {PACK_BUDGET} - 1) // {PACK_BUDGET})
             * {PACK_BUDGET}) AS BIGINT) AS fill_milli,
       CAST((1000 * n_split_docs) // n_docs AS BIGINT) AS split_milli
FROM agg
"""

ORACLES["pipeline_e2e"] = f"""
WITH pool AS (
  SELECT doc_id, text FROM documents WHERE doc_id % {BENCH_MOD} <> 0
),
kept1 AS (SELECT min(doc_id) AS doc_id FROM pool GROUP BY md5(text)),
w AS (SELECT doc_id, string_split(text, ' ') AS ws FROM documents),
grams AS (
  SELECT DISTINCT doc_id,
         ws[i] || ' ' || ws[i+1] || ' ' || ws[i+2] || ' ' || ws[i+3]
               || ' ' || ws[i+4] AS gram
  FROM w, UNNEST(generate_series(1, len(ws) - {DECON_N - 1})) AS t(i)
),
bench AS (SELECT DISTINCT gram FROM grams WHERE doc_id % {BENCH_MOD} = 0),
contaminated AS (
  SELECT DISTINCT g.doc_id
  FROM grams g JOIN bench b ON g.gram = b.gram
  WHERE g.doc_id % {BENCH_MOD} <> 0
),
kept2 AS (
  SELECT doc_id FROM kept1
  WHERE doc_id NOT IN (SELECT doc_id FROM contaminated)
),
rep AS (
  SELECT doc_id FROM w
  WHERE CASE WHEN len(ws) >= 2 THEN
          (1000 * (len(ws) - 1
                   - len(list_distinct(list_transform(
                       generate_series(1, len(ws) - 1),
                       i -> ws[i] || ' ' || ws[i+1])))))
            // (len(ws) - 1)
        ELSE 0 END <= {{dup2_max}}
    AND (1000 * list_max(list_transform(list_distinct(ws),
           x -> len(list_filter(ws, y -> y = x))))) // len(ws)
        <= {{top_tok_max}}
),
kept3 AS (
  SELECT doc_id FROM kept2 WHERE doc_id IN (SELECT doc_id FROM rep)
)
SELECT 0 AS stage_idx, 'input' AS stage, count(*) AS n_docs FROM pool
UNION ALL SELECT 1, 'exact_dedup', count(*) FROM kept1
UNION ALL SELECT 2, 'decontaminated', count(*) FROM kept2
UNION ALL SELECT 3, 'quality_gate', count(*) FROM kept3
"""


def _fill_e2e_gates() -> None:
    """The quality-gate thresholds live in curation.py; import lazily
    to keep module import order flexible."""
    from angelone_clickhouse_spark.operators.curation import (
        DUP2_MAX_MILLI,
        TOP_TOK_MAX_MILLI,
    )

    ORACLES["pipeline_e2e"] = ORACLES["pipeline_e2e"].format(
        dup2_max=DUP2_MAX_MILLI, top_tok_max=TOP_TOK_MAX_MILLI
    )


_fill_e2e_gates()
