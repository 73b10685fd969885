"""Streaming near-duplicate document gate: micro-batches of documents
are cleared against a persisted SURVIVOR signature index, and only
kept documents' signatures join the index.

This is the streaming twin of ``operators/dedup.dedup_incremental``
— the shape a production training-data pipeline actually runs: each
arriving batch (a crawl shard, an ingest epoch) is deduplicated
against everything kept so far WITHOUT ever re-pairing the corpus,
then the survivors extend the index for the next batch. The
reference has no dedup at all (it re-inserts duplicate WebSocket
frames — SURVEY §2.3 streaming-dedup row; main.go's insert path has
no existence check), so like the rest of the dedup ladder this is a
north-star extension.

Semantics per epoch (MinHash-estimated, same threshold as
``dedup_minhash_lsh``):

* ``dup_of_index``  — smallest indexed (kept-earlier) doc_id whose
  signature similarity clears the threshold (NULL if none).
* ``dup_of_batch``  — smallest SMALLER-id doc in the SAME epoch that
  clears it, kept or not (the one-pass within-batch rule of
  ``dedup_incremental``).
* ``keep``          — both NULL. Only kept docs' signatures are
  appended to the index: a doc whose only match was itself dropped
  is still kept the next time something like it arrives.

Both sinks (verdicts flat, kept signatures keyed) commit through
``epoch_commit``, whose docstring states the retry contract; MinHash
is a pure function of the text, so a retried epoch recomputes
bit-identically.

Scale notes: the index is only ever probed through its band keys
(shuffle bounded by band-bucket collisions, probe side is the small
epoch), and grows by at most N_BANDS rows per kept doc. Since r12 the
index is PHYSICALLY keyed on the band key (streaming/keyed_index.py:
hive partitions on pmod(xxhash64(band, band_key), P_KEYED), signature
inline per band replica), so each epoch READS only the partitions its
own band keys hash into — per-epoch index I/O is bounded by probed-
partition occupancy, not index size, which is what survives short
triggers against a 100 TB survivor index.
"""

from __future__ import annotations

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F

from angelone_clickhouse_spark import SCHEMAS
from angelone_clickhouse_spark.materialize import (
    checkpoint_sized as _checkpoint_sized,
)
from angelone_clickhouse_spark.operators.dedup import (
    N_MINHASH,
    gate_verdicts,
    minhash_signatures,
)
from angelone_clickhouse_spark.streaming.epoch_commit import (  # noqa: F401
    N_STREAM_EPOCHS,
    replay_gate,
)
from angelone_clickhouse_spark.streaming.keyed_index import (
    PART_COL,
    checkpoint_with_pks,
    keyed_pairs,
    pk_of_band,
    read_keyed,
)

DOCS_SCHEMA = SCHEMAS["documents"]
VERDICT_SCHEMA = (
    "doc_id long, dup_of_index long, dup_of_batch long, keep boolean"
)
SIG_SCHEMA = "doc_id long, " + ", ".join(
    f"h{i} long" for i in range(N_MINHASH)
)


# --- keyed survivor-index storage ----------------------------------
#
# The signature index is persisted PHYSICALLY KEYED on the LSH band
# key (keyed_index.py): one replica of the survivor's signature row
# per band — N_BANDS replicas — hive-partitioned on pmod(xxhash64(
# band, band_key), P_KEYED). An epoch derives its own band keys and
# prunes the index scan to those partitions: a survivor sharing no
# probed band key can never be a candidate, so pruning is
# semantics-preserving and the driver oracle checks this path.
# Per-epoch index I/O is O(occupancy of probed partitions), and the
# stored band keys mean the per-epoch banding md5 runs over the BATCH
# only, never over the index.

KEYED_SIG_SCHEMA = "band int, band_key string, " + SIG_SCHEMA


def _keyed_sig_rows(sig: DataFrame, bn: DataFrame) -> DataFrame:
    """Signatures -> one replica per band (``bn`` is their banded
    frame, computed once per epoch) with the partition bucket
    attached: the store's layout."""
    return (
        bn.join(sig, "doc_id")
        .select("band", "band_key", *sig.columns)
        .withColumn(PART_COL, pk_of_band())
    )


def read_sig_index(
    spark: SparkSession, index_dir: str, pks: list[int] | None = None
) -> DataFrame:
    """Survivor signatures (SIG_SCHEMA) from the keyed store, pruned
    to partitions ``pks`` — band replicas collapse via dropDuplicates
    on doc_id (they carry identical signature columns)."""
    sig_cols = [c.split(" ")[0] for c in SIG_SCHEMA.split(", ")]
    return (
        read_keyed(spark, index_dir, KEYED_SIG_SCHEMA, pks=pks)
        .dropDuplicates(["doc_id"])
        .select(*sig_cols)
    )


def dedup_epoch_keyed(
    batch_docs: DataFrame,
    sig: DataFrame,
    bn: DataFrame,
    stored_rows: DataFrame,
) -> tuple[DataFrame, DataFrame]:
    """One epoch of the gate: ``batch_docs`` with their signatures
    ``sig`` and banded keys ``bn`` against the KEYED store's band
    replica rows (``band, band_key, doc_id, h0..`` — pruned to the
    epoch's band-key partitions). Returns (verdicts, kept signatures).

    Docs under 3 words have an empty shingle set, hence no signature
    row: they are trivially kept and contribute nothing to the index
    — consistent, since an empty set can never clear the threshold
    against anything.

    The store rows ARE the banded index, so the collision join
    consumes the pruned scan directly and the banding md5 runs over
    the batch only; each replica carries the survivor's signature
    inline, so the MinHash estimate reads nothing further."""
    from angelone_clickhouse_spark.operators.dedup import JACCARD_THRESHOLD

    h_cols = [f"h{i}" for i in range(N_MINHASH)]
    b_sig = [F.col(h).alias(f"b{h}") for h in h_cols]
    other_sig = sig.select(F.col("doc_id").alias("other_id"), *b_sig)
    est = F.round(
        F.aggregate(
            F.array(
                *[
                    (F.col(h) == F.col(f"b{h}")).cast("int")
                    for h in h_cols
                ]
            ),
            F.lit(0),
            lambda acc, x: acc + x,
        )
        / F.lit(float(N_MINHASH)),
        4,
    )
    pairs = keyed_pairs(
        bn,
        stored_rows.select(
            "band", "band_key", F.col("doc_id").alias("other_id"), *b_sig
        ),
        bn.select("band", "band_key", F.col("doc_id").alias("other_id")).join(
            F.broadcast(other_sig), "other_id"
        ),
        sig,
        ["band", "band_key"],
        "doc_id",
        est >= JACCARD_THRESHOLD,
    )
    return gate_verdicts(pairs, batch_docs, sig, "doc_id")


def dedup_docs_gate(
    batch: DataFrame, index_dir: str
) -> tuple[DataFrame, DataFrame]:
    """The gate's epoch function: derive the epoch's candidate
    partitions from its own band keys (driver-side, bounded by
    P_KEYED), read ONLY those partitions of the keyed signature index,
    and return (verdicts, kept signatures as keyed index rows)."""
    from angelone_clickhouse_spark.operators.dedup import _band_keys

    sig = _checkpoint_sized(minhash_signatures(batch), "epoch sigs")
    # one banding pass per epoch: the checkpointed banded frame feeds
    # the partition set, the collision probe AND the keyed commit, and
    # its pk-occupancy bitmap rides the checkpoint job as observed
    # metrics. Measured and kept: fusing the banding into the sig
    # checkpoint as an un-exploded array column (one eager job instead
    # of two) made the gate 2.5x SLOWER at sf0.1, because every
    # consumer re-planned the explode over the wide checkpointed parent
    # instead of scanning a 3-column in-memory relation.
    bn, pks = checkpoint_with_pks(_band_keys(sig), pk_col=pk_of_band())
    stored = read_keyed(
        batch.sparkSession, index_dir, KEYED_SIG_SCHEMA, pks=pks
    )
    verdicts, kept_sig = dedup_epoch_keyed(batch, sig, bn, stored)
    # verdicts feeds both sinks (its own rows + the kept_sig filter):
    # without the checkpoint the commit job runs the collision join twice
    verdicts = verdicts.localCheckpoint(eager=True)
    return verdicts, _keyed_sig_rows(kept_sig, bn)


def stream_dedup_docs(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Driver-visible face of the streaming gate: replay the
    documents table in N_STREAM_EPOCHS epochs through the survivor-
    index dedup stream and return every epoch's verdicts. The DuckDB
    oracle unrolls the same epoch sequence as chained CTEs (epoch k
    matches kept docs of epochs < k plus smaller ids of epoch k), so
    a green row proves the stream's cumulative index state exact."""
    out_dir, _ = replay_gate(
        spark, sf_dir, "documents", "stream_dedup_docs", dedup_docs_gate
    )
    return spark.read.schema(VERDICT_SCHEMA).parquet(out_dir)


def _stream_oracle_sql() -> str:
    """DuckDB twin of :func:`stream_dedup_docs`: the shared
    w/sh/sig/bands CTEs of the LSH oracle, then the epoch-unrolled
    survivor rule of ``dedup.gate_verdicts_sql``.

    The band self-join AND the signature verify run ONCE into a
    MATERIALIZED qualifying-pair table that every epoch filters — a
    per-epoch re-join's spill exhausted checker disk at sf1.0.
    Verified pairs are few, so the materialization is small."""
    from angelone_clickhouse_spark.operators.dedup import (
        JACCARD_THRESHOLD,
        _minhash_oracle_sql,
        gate_verdicts_sql,
    )

    lsh = _minhash_oracle_sql()
    prefix = lsh[: lsh.index("cand AS MATERIALIZED (")]
    matches = " + ".join(
        f"CASE WHEN sa.h{i} = sb.h{i} THEN 1 ELSE 0 END"
        for i in range(N_MINHASH)
    )
    pairs = f"""pairs AS MATERIALIZED (
  SELECT c.a_id, c.b_id
  FROM (
    SELECT DISTINCT ba.doc_id AS a_id, bb.doc_id AS b_id
    FROM bands ba
    JOIN bands bb ON ba.band = bb.band AND ba.band_key = bb.band_key
               AND ba.doc_id <> bb.doc_id
  ) c
  JOIN sig sa ON sa.doc_id = c.a_id
  JOIN sig sb ON sb.doc_id = c.b_id
  WHERE round(({matches}) / {float(N_MINHASH)}, 4) >= {JACCARD_THRESHOLD}
)"""
    return gate_verdicts_sql(prefix + pairs, "documents", "doc_id")


QUERIES = {"stream_dedup_docs": stream_dedup_docs}
ORACLES = {"stream_dedup_docs": _stream_oracle_sql()}
