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
    _incremental_verdicts,
    minhash_signatures,
)
from angelone_clickhouse_spark.streaming.epoch_commit import (
    N_STREAM_EPOCHS,
    replay_gate,
)
from angelone_clickhouse_spark.streaming.keyed_index import (
    PART_COL,
    checkpoint_with_pks,
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


def dedup_epoch(
    batch_docs: DataFrame, index_sig: DataFrame
) -> tuple[DataFrame, DataFrame]:
    """One epoch of the gate as a pure frame-in/frame-out function
    (directly testable; the foreachBatch writer is plumbing around
    it): returns (verdicts, kept_signatures).

    Docs under 3 words have an empty shingle set, hence no signature
    row: they are trivially kept and contribute nothing to the index
    — consistent, since an empty set can never clear the threshold
    against anything."""
    sig = _checkpoint_sized(minhash_signatures(batch_docs), "epoch sigs")
    return _dedup_epoch_from_sig(batch_docs, sig, index_sig)


def _dedup_epoch_from_sig(
    batch_docs: DataFrame, sig: DataFrame, index_sig: DataFrame
) -> tuple[DataFrame, DataFrame]:
    """The epoch body given an already-materialized signature frame —
    split out so the keyed writer (which needs the signatures first,
    to derive its candidate partitions) computes MinHash exactly
    once per epoch."""
    m = _incremental_verdicts(sig, index_sig)
    verdicts = (
        batch_docs.select("doc_id")
        .join(m, "doc_id", "left")
        .select(
            "doc_id",
            F.col("dup_of_existing").alias("dup_of_index"),
            "dup_of_batch",
            (
                F.col("dup_of_existing").isNull()
                & F.col("dup_of_batch").isNull()
            ).alias("keep"),
        )
    )
    kept_sig = sig.join(
        verdicts.filter(F.col("keep")).select("doc_id"), "doc_id"
    )
    return verdicts, kept_sig


# --- keyed survivor-index storage (VERDICT r11 weak #1) --------------
#
# The signature index is persisted PHYSICALLY KEYED on the LSH band
# key (keyed_index.py): one replica of the survivor's signature row
# per band — N_BANDS replicas — hive-partitioned on pmod(xxhash64(
# band, band_key), P_KEYED). An epoch derives its own band keys,
# prunes the index scan to those partitions, and feeds the pruned
# survivors into the unchanged verdict logic: a survivor sharing no
# probed band key can never be a candidate, so pruning is
# semantics-preserving and the same driver oracle checks this path.
# Per-epoch index I/O drops from O(|index|) (the old flat dir, read
# whole AND re-banded every epoch) to O(occupancy of probed
# partitions) — and the stored band keys mean the per-epoch banding
# md5 now runs over the BATCH only, never over the index again.

KEYED_SIG_SCHEMA = "band int, band_key string, " + SIG_SCHEMA


def _keyed_sig_rows(
    kept_sig: DataFrame, bn: DataFrame | None = None
) -> DataFrame:
    """Kept signatures -> one replica per band with the partition
    bucket attached (the bounded per-epoch append). ``bn`` is the
    batch's banded frame when the caller already computed it — the
    writer pays the per-epoch banding md5 exactly once (it also
    feeds collect_pks and the collision probe)."""
    from angelone_clickhouse_spark.operators.dedup import _band_keys

    if bn is None:
        bn = _band_keys(kept_sig)
    return (
        bn.join(kept_sig, "doc_id")
        .select("band", "band_key", *kept_sig.columns)
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
    stored_rows: DataFrame,
    bn: DataFrame | None = None,
) -> tuple[DataFrame, DataFrame]:
    """One epoch of the gate against the KEYED store's raw band
    replica rows (``band, band_key, doc_id, h0..`` — pre-pruned to
    the epoch's band-key partitions). Semantics IDENTICAL to
    :func:`dedup_epoch` / ``_incremental_verdicts`` (the tests'
    sequential replica and the driver oracle both check it); the plan
    exploits the layout:

    * the store rows ARE the banded index, so the collision join
      consumes the pruned scan directly — the per-epoch banding md5
      runs over the BATCH only, never over the index again (the old
      flat store re-banded the whole index every epoch);
    * each replica row carries the survivor's full MinHash signature
      inline, so the estimated-similarity verify reads nothing
      further — one pruned scan feeds candidates AND verification;
    * multi-band collisions yield duplicate (doc_id, other_id) rows;
      each costs one extra cheap slot-compare and collapses in the
      min-aggregate (``_incremental_verdicts`` dedups them instead —
      same verdicts either way, that is the point of min).

    ``bn`` is the batch's banded frame when the caller already holds
    it (the keyed writer computes it once for collect_pks and passes
    it through); None recomputes from ``sig``."""
    from angelone_clickhouse_spark.operators.dedup import (
        JACCARD_THRESHOLD,
        _band_keys,
    )

    h_cols = [f"h{i}" for i in range(N_MINHASH)]
    if bn is None:
        bn = _band_keys(sig)
    probe = F.broadcast(bn)
    idx_cand = (
        stored_rows.select(
            "band",
            "band_key",
            F.col("doc_id").alias("other_id"),
            *[F.col(h).alias(f"b{h}") for h in h_cols],
        )
        .join(probe, ["band", "band_key"])
        .filter(F.col("other_id") != F.col("doc_id"))
        .select(
            "doc_id",
            "other_id",
            F.lit(False).alias("other_new"),
            *[f"b{h}" for h in h_cols],
        )
    )
    batch_bands = bn.select(
        "band", "band_key", F.col("doc_id").alias("other_id")
    )
    batch_cand = (
        batch_bands.join(probe, ["band", "band_key"])
        .filter(F.col("other_id") < F.col("doc_id"))
        .join(
            F.broadcast(
                sig.select(
                    F.col("doc_id").alias("other_id"),
                    *[F.col(h).alias(f"b{h}") for h in h_cols],
                )
            ),
            "other_id",
        )
        .select(
            "doc_id",
            "other_id",
            F.lit(True).alias("other_new"),
            *[f"b{h}" for h in h_cols],
        )
    )
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
    m = (
        idx_cand.unionByName(batch_cand)
        .join(F.broadcast(sig), "doc_id")
        .filter(est >= JACCARD_THRESHOLD)
        .groupBy("doc_id")
        .agg(
            F.min(F.when(~F.col("other_new"), F.col("other_id"))).alias(
                "dup_of_index"
            ),
            F.min(F.when(F.col("other_new"), F.col("other_id"))).alias(
                "dup_of_batch"
            ),
        )
    )
    verdicts = (
        batch_docs.select("doc_id")
        .join(m, "doc_id", "left")
        .select(
            "doc_id",
            "dup_of_index",
            "dup_of_batch",
            (
                F.col("dup_of_index").isNull()
                & F.col("dup_of_batch").isNull()
            ).alias("keep"),
        )
    )
    kept_sig = sig.join(
        verdicts.filter(F.col("keep")).select("doc_id"), "doc_id"
    )
    return verdicts, kept_sig


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
    verdicts, kept_sig = dedup_epoch_keyed(batch, sig, stored, bn=bn)
    # verdicts feeds both sinks (its own rows + the kept_sig filter):
    # without the checkpoint the commit job runs the collision join twice
    verdicts = verdicts.localCheckpoint(eager=True)
    return verdicts, _keyed_sig_rows(kept_sig, bn=bn)


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
    w/sh/sig/bands CTEs of the LSH oracle, then one (m_k, v_k,
    kept_k) CTE triple per epoch — epoch k's candidates come from
    kept docs of earlier epochs plus smaller-id docs of epoch k,
    exactly the stream's survivor-index semantics.

    The band self-join AND the signature verify run ONCE into a
    MATERIALIZED qualifying-pair table that every epoch filters — not
    once per epoch as before (VERDICT r11 #7: the 4x re-join's spill
    exhausted checker disk at sf1.0). Verified pairs are few, so the
    materialization is small; exactness unchanged."""
    from angelone_clickhouse_spark.operators.dedup import (
        JACCARD_THRESHOLD,
        _minhash_oracle_sql,
    )

    lsh = _minhash_oracle_sql()
    prefix = lsh[: lsh.index("cand AS MATERIALIZED (")]
    matches = " + ".join(
        f"CASE WHEN sa.h{i} = sb.h{i} THEN 1 ELSE 0 END"
        for i in range(N_MINHASH)
    )
    ne = N_STREAM_EPOCHS
    blocks = [
        f"""verified AS MATERIALIZED (
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
    ]
    for k in range(ne):
        index_arm = (
            f"OR (b_id % {ne} < {k} "
            f"AND b_id IN (SELECT doc_id FROM kept{k - 1}))"
            if k > 0
            else ""
        )
        blocks.append(
            f"""m{k} AS (
  SELECT a_id AS doc_id,
         min(CASE WHEN NOT (b_id % {ne} = {k}) THEN b_id END)
           AS dup_of_index,
         min(CASE WHEN (b_id % {ne} = {k}) THEN b_id END)
           AS dup_of_batch
  FROM verified
  WHERE a_id % {ne} = {k}
    AND ((b_id % {ne} = {k} AND b_id < a_id)
         {index_arm})
  GROUP BY a_id
),
v{k} AS (
  SELECT d.doc_id, m.dup_of_index, m.dup_of_batch,
         (m.dup_of_index IS NULL AND m.dup_of_batch IS NULL) AS keep
  FROM documents d LEFT JOIN m{k} m USING (doc_id)
  WHERE d.doc_id % {ne} = {k}
),
kept{k} AS (
  SELECT doc_id FROM v{k} WHERE keep{"" if k == 0 else f'''
  UNION ALL
  SELECT doc_id FROM kept{k - 1}'''}
)"""
        )
    union = "\nUNION ALL\n".join(f"SELECT * FROM v{k}" for k in range(ne))
    return prefix + ",\n".join(blocks) + "\n" + union


QUERIES = {"stream_dedup_docs": stream_dedup_docs}
ORACLES = {"stream_dedup_docs": _stream_oracle_sql()}
