"""The epoch committer and the gate driver: every epoch-replay stream
gate (stream_dedup_docs, stream_novelty_docs, stream_semdedup,
stream_semdedup_lsh, stream_token_cms) commits through
:func:`commit_epoch`, runs its epochs through :func:`make_epoch_writer`
and replays its input table through :func:`replay_gate`. A gate supplies
only its epoch function.

The at-least-once contract, documented once
-------------------------------------------

Structured Streaming's ``foreachBatch`` guarantees each epoch runs AT
LEAST once: a crash anywhere between the sink write and the streaming
commit log re-runs the whole epoch with the SAME ``epoch_id`` and (for
replayable sources) the same input rows. A plain ``mode("append")``
write therefore duplicates the epoch's rows on retry. The committer
turns that into effective exactly-once for deterministic epoch
computations, with three moves:

1. **Stage** — write every sink of the epoch in ONE parquet job into a
   private staging directory (``<first sink>.stage/epoch-<id>``),
   never into the datasets.
2. **Sweep** — delete every file in every sink carrying this epoch's
   deterministic ``e{epoch_id}-`` prefix (a crashed earlier attempt's
   leftovers). The gate writer also sweeps before its epoch reads the
   index, so readers between sweep and commit see the dataset
   *without* the epoch — exactly the state the retry is about to
   recompute from, and index-consuming epochs stay bit-deterministic.
3. **Commit** — rename the staged part files into each sink under the
   epoch prefix. Renames are per-file (not atomic as a set), which is
   why every sink's sweep runs before any rename.

Sink layouts. A sink frame that carries a ``pk`` column is KEYED
(streaming/keyed_index.py): its files land as ``pk=<n>/e<id>-part-*``.
Any other frame is FLAT: its files land as ``e<id>-part-*.parquet`` at
the top of the sink. The staging write is ``partitionBy(_dest, pk)``
over the union of all sinks, flat ones under ``pk=-1`` (pmod is never
negative, so it cannot collide with a real bucket). The union takes the
superset schema; every reader of these stores reads with an explicit
schema, so another sink's null-padded columns are never scanned.

Invariant: a sink with ZERO rows this epoch gets no epoch file, but its
directory still exists. Per-epoch file presence is therefore not a
marker for a committed epoch; readers scan whole directories.

The commit removes only its own ``epoch-<id>`` staging directory:
other users of a sink's ``.stage`` root (flat compaction's journal)
are left alone. At cluster scale the same contract comes from a
committing table format (Delta/Iceberg transactional append); the
driver-side file loops are bounded by files per epoch, never by data
size.

``ingest.py`` stages its own date-partitioned write and commits it with
:func:`commit_epoch_partitioned`; ``rollup.py`` replaces whole days
instead of appending and does not use this module.
"""

from __future__ import annotations

import os
import shutil

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F

from angelone_clickhouse_spark import SCHEMAS
from angelone_clickhouse_spark.streaming.keyed_index import (
    PART_COL,
    expire_epochs_keyed,
)
from angelone_clickhouse_spark.streaming.workdirs import owned_tmpdir

# registry-entry replay layout: a replayed table is split into this many
# epoch files by <key> % N_STREAM_EPOCHS, replayed in epoch order
N_STREAM_EPOCHS = 4
# replayed tables: name -> epoch key column (the stream reads the
# table's declared schema)
REPLAY_KEYS = {"documents": "doc_id", "embeddings": "vec_id"}
REPLAY_TIMEOUT_S = 600
_DEST = "_dest"


def epoch_prefix(epoch_id: int) -> str:
    return f"e{epoch_id}-"


def sweep_prefix(out_dir: str, prefix: str) -> None:
    """Delete a crashed earlier attempt's files for this epoch (flat
    dataset layout)."""
    if os.path.isdir(out_dir):
        for name in os.listdir(out_dir):
            if name.startswith(prefix):
                os.remove(os.path.join(out_dir, name))


def sweep_prefix_partitioned(
    out_dir: str, prefix: str, partition_prefix: str = "date="
) -> None:
    """Sweep for a hive-partitioned dataset: walk each
    ``<partition_prefix>*`` directory and delete this epoch's files."""
    if not os.path.isdir(out_dir):
        return
    for dpart in os.listdir(out_dir):
        d = os.path.join(out_dir, dpart)
        if dpart.startswith(partition_prefix) and os.path.isdir(d):
            for name in os.listdir(d):
                if name.startswith(prefix):
                    os.remove(os.path.join(d, name))


def sweep_epoch(sink_dir: str, epoch_id: int) -> None:
    """Delete this epoch's files from a flat or keyed sink."""
    prefix = epoch_prefix(epoch_id)
    sweep_prefix(sink_dir, prefix)
    sweep_prefix_partitioned(sink_dir, prefix, f"{PART_COL}=")


def commit_epoch(epoch_id: int, sinks: list[tuple[DataFrame, str]]) -> None:
    """Stage, sweep and commit one epoch's ``(frame, dir)`` sinks with
    one Spark job (see the module docstring)."""
    staging = os.path.join(sinks[0][1] + ".stage", f"epoch-{epoch_id}")
    staged = None
    for i, (df, _) in enumerate(sinks):
        if PART_COL not in df.columns:
            df = df.withColumn(PART_COL, F.lit(-1))
        df = df.withColumn(_DEST, F.lit(i))
        staged = (
            df
            if staged is None
            else staged.unionByName(df, allowMissingColumns=True)
        )
    staged.coalesce(1).write.mode("overwrite").partitionBy(
        _DEST, PART_COL
    ).parquet(staging)
    for _, sink_dir in sinks:
        sweep_epoch(sink_dir, epoch_id)
    prefix = epoch_prefix(epoch_id)
    for i, (_, sink_dir) in enumerate(sinks):
        os.makedirs(sink_dir, exist_ok=True)
        src = os.path.join(staging, f"{_DEST}={i}")
        for dpart in os.listdir(src) if os.path.isdir(src) else ():
            dst = sink_dir
            if dpart != f"{PART_COL}=-1":
                dst = os.path.join(sink_dir, dpart)
                os.makedirs(dst, exist_ok=True)
            for name in os.listdir(os.path.join(src, dpart)):
                if name.startswith("part-"):
                    os.rename(
                        os.path.join(src, dpart, name),
                        os.path.join(dst, prefix + name),
                    )
    shutil.rmtree(staging, ignore_errors=True)


def commit_epoch_partitioned(
    staging_dir: str,
    out_dir: str,
    epoch_id: int,
    partition_prefix: str = "date=",
) -> None:
    """Sweep + commit an ALREADY-STAGED hive-partitioned epoch write
    into the partitioned dataset (the caller stages, because the
    staging job carries sink-specific layout: repartition/sort/
    maxRecordsPerFile — see ingest.make_epoch_appender)."""
    prefix = epoch_prefix(epoch_id)
    sweep_prefix_partitioned(out_dir, prefix, partition_prefix)
    for dpart in os.listdir(staging_dir):
        src_dir = os.path.join(staging_dir, dpart)
        if not dpart.startswith(partition_prefix) or not os.path.isdir(
            src_dir
        ):
            continue
        dst_dir = os.path.join(out_dir, dpart)
        os.makedirs(dst_dir, exist_ok=True)
        for name in os.listdir(src_dir):
            if name.startswith("part-"):
                os.rename(
                    os.path.join(src_dir, name),
                    os.path.join(dst_dir, prefix + name),
                )


def make_epoch_writer(epoch_fn, *sink_dirs: str, retention_epochs: int | None = None):
    """The foreachBatch function of a gate. ``epoch_fn(batch,
    index_dir)`` returns one frame per sink dir; ``index_dir`` is the
    last sink, the store the epoch reads. The writer sweeps every sink,
    then (opt-in ``retention_epochs``, keyed index only) expires index
    epochs older than the window, runs the epoch and commits it.

    Expiry runs BEFORE the read, not after the commit: a retried epoch
    must see the exact index state the first attempt saw (expiry is
    idempotent; post-commit expiry would shrink the gating set between
    attempts). The default None keeps the oracle-checked grow-forever
    semantics."""
    index_dir = sink_dirs[-1]

    def write_epoch(batch: DataFrame, epoch_id: int) -> None:
        for sink_dir in sink_dirs:
            sweep_epoch(sink_dir, epoch_id)
        if retention_epochs is not None:
            expire_epochs_keyed(index_dir, epoch_id - retention_epochs)
        frames = epoch_fn(batch, index_dir)
        commit_epoch(epoch_id, list(zip(frames, sink_dirs, strict=True)))

    return write_epoch


def write_replay(
    spark: SparkSession, sf_dir: str, table: str, replay_dir: str
) -> None:
    """Split ``table`` into N_STREAM_EPOCHS single-file epochs (epoch =
    key % N_STREAM_EPOCHS) with strictly increasing mtimes, so the file
    source replays them in epoch order."""
    from angelone_clickhouse_spark.sources.tables import load_table

    key = REPLAY_KEYS[table]
    df = load_table(spark, sf_dir, table)
    os.makedirs(replay_dir, exist_ok=True)
    base = 1_000_000_000  # fixed epoch-seconds base: deterministic order
    for k in range(N_STREAM_EPOCHS):
        staging = os.path.join(replay_dir + ".stage", f"epoch-{k}")
        df.filter((F.col(key) % N_STREAM_EPOCHS) == k).coalesce(
            1
        ).write.mode("overwrite").parquet(staging)
        part = [n for n in os.listdir(staging) if n.startswith("part-")][0]
        dst = os.path.join(replay_dir, f"epoch-{k}.parquet")
        os.rename(os.path.join(staging, part), dst)
        os.utime(dst, (base + 10 * k, base + 10 * k))
    shutil.rmtree(replay_dir + ".stage", ignore_errors=True)


def run_epochs(
    spark: SparkSession, table: str, src_dir: str, writer, checkpoint_dir: str
) -> None:
    """Run ``writer`` over the file stream in ``src_dir`` to completion:
    availableNow, one file per trigger = one epoch, mtime order."""
    q = (
        spark.readStream.schema(SCHEMAS[table])
        .option("maxFilesPerTrigger", 1)
        .parquet(src_dir)
        .writeStream.foreachBatch(writer)
        .option("checkpointLocation", checkpoint_dir)
        .trigger(availableNow=True)
        .start()
    )
    await_or_raise(q, REPLAY_TIMEOUT_S, f"{table} replay")


# one replay dir per (sf_dir, table): building it is harness setup, not
# operator work; every gate run replays it into fresh sinks
_REPLAY_CACHE: dict[tuple[str, str], str] = {}


def replay_gate(
    spark: SparkSession,
    sf_dir: str,
    table: str,
    name: str,
    epoch_fn,
    sinks: tuple[str, ...] = ("verdicts", "index"),
) -> list[str]:
    """Replay ``table`` in N_STREAM_EPOCHS epochs through a gate whose
    epoch function is ``epoch_fn``, into fresh sinks under a
    ``<name>_run_*`` work dir. Returns the sink dirs."""
    src = _REPLAY_CACHE.get((sf_dir, table))
    if src is None:
        src = os.path.join(owned_tmpdir(prefix=f"replay_{table}_"), "in")
        write_replay(spark, sf_dir, table, src)
        _REPLAY_CACHE[(sf_dir, table)] = src
    work = owned_tmpdir(prefix=f"{name}_run_")
    dirs = [os.path.join(work, s) for s in sinks]
    writer = make_epoch_writer(epoch_fn, *dirs)
    run_epochs(spark, table, src, writer, os.path.join(work, "ckpt"))
    return dirs


def await_or_raise(q, timeout_s: int, what: str) -> None:
    """``awaitTermination(timeout)`` returns False when the query is
    STILL RUNNING — every replay runner must treat that as a hard
    error, because its caller is about to read the committed store
    and a straggling query would make the read a partial state.
    Stops the query before raising so the store stops moving."""
    if not q.awaitTermination(timeout_s):
        q.stop()
        raise TimeoutError(
            f"{what}: availableNow replay did not finish in "
            f"{timeout_s}s; committed state is incomplete"
        )
