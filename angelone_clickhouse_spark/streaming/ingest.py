"""Streaming ingestion: frame stream -> decode -> dedup -> Parquet sink.

Spark-first restatement of the reference's main dataflow (SURVEY §3.1):
WebSocket read loop (ws/client.go:90-112) becomes a file-based frame
stream (deterministic replay; a socket source would plug in the same
plan); the per-row worker pool + channel (main.go:59-62, :324-330)
becomes partition parallelism; the intended-but-dead 1000-row/5s batch
flush (main.go:223-245, SURVEY D2) IS Structured Streaming's
micro-batch trigger; the ClickHouse MergeTree sink
(db/clickhouse.go:16-28, ORDER BY timestamp) becomes date-partitioned
Parquet sorted within partitions by timestamp.

Deliberate deviations from the reference, all flagged in SURVEY §3.4:
- no drop-on-full load shedding (D7): Spark backpressure is
  maxFilesPerTrigger / maxOffsetsPerTrigger at the source, never data
  loss;
- event-time from the frame is kept (D1) and drives watermarks;
- duplicate frames are dropped on (token, sequence_number) using the
  wire field the reference discards (SURVEY §2.3 streaming-dedup row).

Scale notes: decode+project is narrow (no shuffle): one vectorized
``mapInArrow`` pass per input partition (sources/decoder.py), so decode
parallelism is the frame source's partition count; dropDuplicates
shuffles on the dedup key with watermark-bounded state; the sink writes
one file per partition per epoch — at 100 TB you'd widen
`trigger(processingTime)` and compact small files asynchronously, but
the plan shape is unchanged.

Operational note (multi-day catch-up replay): the file stream source
orders files ONLY by modification time, and ties replay in arbitrary
order. A replay spanning more event time than the watermark delay
must therefore guarantee strictly increasing mtimes in event-time
order (or widen the watermark for the backfill) — a next-day file
picked up before the prior day's last files advances the watermark
past them and the dedup operator late-drops whole files. Found by
the round-6 restart soak; `write_frames_parquet_ordered` (fixtures)
stamps explicit 1 s-spaced mtimes for exactly this reason.
"""

from __future__ import annotations

import os
import shutil

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F
from pyspark.sql.window import Window

from angelone_clickhouse_spark.sources.tables import trunc_ntz

from angelone_clickhouse_spark.sources.decoder import decode_frames, wire_to_ticks
from angelone_clickhouse_spark.streaming.epoch_commit import (
    commit_epoch_partitioned,
)

FRAME_STREAM_SCHEMA = "frame binary"


def read_frame_stream(
    spark: SparkSession, frames_dir: str, max_files_per_trigger: int | None = None
) -> DataFrame:
    reader = spark.readStream.schema(FRAME_STREAM_SCHEMA)
    if max_files_per_trigger:
        reader = reader.option("maxFilesPerTrigger", max_files_per_trigger)
    return reader.parquet(frames_dir)


def read_frame_socket(spark: SparkSession, host: str, port: int) -> DataFrame:
    """Live network frame source (reference O2, ws/client.go:26-52,
    :90-112). The sandbox has no WebSocket feed, so the live adapter is
    Spark's TCP socket source with the standard binary-over-lines
    contract: one base64-encoded frame per newline-terminated line;
    unbase64 recovers the exact wire bytes and the decode plan
    downstream is byte-identical to the file-replay path.

    The socket source is NOT fault-tolerant (no replayable offsets) —
    it stands in for the reference's equally at-most-once WebSocket
    read loop. Production ingest fronts the feed with a replayable bus
    (e.g. Kafka, same one-line swap of the reader) or uses the
    deterministic file replay; everything after the source is
    unchanged either way."""
    lines = (
        spark.readStream.format("socket")
        .option("host", host)
        .option("port", str(port))
        .load()
    )
    return lines.select(F.unbase64(F.col("value")).alias("frame"))


def decode_tick_stream(frames: DataFrame, watermark: str = "1 hour") -> DataFrame:
    """frames -> deduped tick rows (streaming or batch DataFrame).

    Streaming dedup uses ``dropDuplicatesWithinWatermark``: plain
    dropDuplicates on a subset WITHOUT the event-time column would keep
    its keys forever (the watermark only evicts state whose key
    includes the event-time), growing state unboundedly on a
    long-running stream. Duplicate frames are byte-identical (same ts),
    so within-watermark semantics equal exact dedup as long as a
    duplicate arrives inside the watermark delay — true by construction
    for the reference's retransmits."""
    ticks = wire_to_ticks(decode_frames(frames))
    if ticks.isStreaming:
        return ticks.withWatermark("ts", watermark).dropDuplicatesWithinWatermark(
            ["token", "sequence_number"]
        )
    return ticks.dropDuplicates(["token", "sequence_number"])


def make_epoch_appender(
    out_dir: str, max_records_per_file: int | None = None
):
    """The foreachBatch append function for :func:`ingest_to_parquet`
    — module-level so its retry-idempotence is directly testable.
    Stages the epoch with a normal parquet write, then commits via
    :func:`epoch_commit.commit_epoch_partitioned` (the shared
    sweep+rename committer); a retried epoch (crash anywhere between
    the sink write and the streaming commit log) replaces its own
    files instead of appending duplicates."""

    def write_epoch(batch: DataFrame, epoch_id: int) -> None:
        staging = os.path.join(
            out_dir + ".stage", f"epoch-{epoch_id}"
        )
        shutil.rmtree(staging, ignore_errors=True)
        writer = (
            batch.withColumn("date", F.to_date("ts"))
            .repartition("date")
            .sortWithinPartitions("ts")
            .write.mode("overwrite")
        )
        if max_records_per_file:
            writer = writer.option("maxRecordsPerFile", max_records_per_file)
        writer.partitionBy("date").parquet(staging)
        commit_epoch_partitioned(staging, out_dir, epoch_id)
        shutil.rmtree(staging, ignore_errors=True)

    return write_epoch


def ingest_to_parquet(
    spark: SparkSession,
    frames_dir: str,
    out_dir: str,
    checkpoint_dir: str,
    available_now: bool = True,
    processing_time: str = "5 seconds",
    max_files_per_trigger: int | None = None,
    max_records_per_file: int | None = None,
):
    """Run the ingest pipeline into a date-partitioned Parquet dataset.

    availableNow=True drains the input deterministically (tests, replay,
    backfill); otherwise a 5s processingTime trigger mirrors the
    reference's FLUSH_INTERVAL (config/config.go:54).
    ``max_files_per_trigger`` bounds each epoch (source-side
    backpressure — the no-drop replacement for the reference's
    drop-on-full channel, SURVEY D7). ``max_records_per_file`` is the
    size half of the reference's size-OR-time flush (BATCH_SIZE=1000 OR
    5 s, main.go:227-245): the time half is the trigger; the row cap
    becomes a sink-side bound — no flushed unit (file) ever exceeds it,
    which is the property the reference's cap actually protects
    (bounded insert batches against the store)."""
    ticks = decode_tick_stream(
        read_frame_stream(spark, frames_dir, max_files_per_trigger)
    )
    writer = ticks.writeStream.foreachBatch(
        make_epoch_appender(out_dir, max_records_per_file)
    ).option("checkpointLocation", checkpoint_dir)
    if available_now:
        writer = writer.trigger(availableNow=True)
    else:
        writer = writer.trigger(processingTime=processing_time)
    return writer.start()


def shed_overflow(
    batch: DataFrame, cap: int, interval: str = "minute"
) -> DataFrame:
    """Deterministic restatement of the reference's drop-on-full load
    shedding (main.go:324-330: a full channel silently drops the tick).
    A channel of capacity C drained per interval becomes: within each
    event-time interval, keep the first ``cap`` rows in
    (sequence_number, token) arrival order, flag the rest ``is_shed``.
    Flagging instead of filtering keeps the drop accounting on-plan
    (observe/aggregate the flag — the reference's
    market_data_errors_total analogue for sheds).

    Scale: one shuffle on the interval key — same key as the sink
    partitioning, so at 100 TB the exchange is reused by the write;
    per-interval row counts are bounded by wall-clock density, not
    data size, so the window never skews."""
    w = Window.partitionBy(trunc_ntz(interval.upper(), "ts")).orderBy(
        "sequence_number", "token"
    )
    return (
        batch.withColumn("_arrival_rank", F.row_number().over(w))
        .withColumn("is_shed", F.col("_arrival_rank") > cap)
        .drop("_arrival_rank")
    )


def cap_in_event_order(
    batch: DataFrame, cap: int, interval: str = "minute"
) -> DataFrame:
    """Keep the first ``cap`` rows of ``batch`` in global
    (ts, sequence_number, token) order — WITHOUT a global sort.

    A naive ``row_number`` over an unpartitioned window serializes the
    whole batch into one task; fine for a 5 s trigger, catastrophic for
    an ``availableNow`` catch-up epoch after downtime (VERDICT r5 #1).
    Instead, a count-preaggregate picks the boundary out of per-interval
    totals, and only the ONE boundary interval is ever sorted:

    1. bucket rows by event-time interval (trunc is monotonic in ts,
       so interval order is a prefix of the global order);
    2. per-interval counts -> running totals (a window over one row
       per interval — bounded by wall-clock span, not data size);
    3. intervals wholly under the cap keep everything (no sort),
       intervals wholly past it drop everything (no sort), and the
       single straddling interval ranks only its own rows — one
       partition-local sort over a wall-clock-bounded row count.
    """
    iv = trunc_ntz(interval.upper(), F.col("ts"))
    b = batch.withColumn("_iv", iv)
    counts = b.groupBy("_iv").agg(F.count(F.lit(1)).alias("_n"))
    w_cum = (
        Window.orderBy("_iv")
        .rowsBetween(Window.unboundedPreceding, -1)
    )
    bounds = counts.select(
        "_iv",
        F.coalesce(F.sum("_n").over(w_cum), F.lit(0)).alias("_before"),
        (F.coalesce(F.sum("_n").over(w_cum), F.lit(0)) + F.col("_n")).alias(
            "_through"
        ),
    )
    j = b.join(F.broadcast(bounds), "_iv")
    keep_all = j.filter(F.col("_through") <= cap)
    boundary = j.filter((F.col("_before") < cap) & (F.col("_through") > cap))
    w_iv = Window.partitionBy("_iv").orderBy("ts", "sequence_number", "token")
    boundary_keep = (
        boundary.withColumn("_rn", F.row_number().over(w_iv))
        .filter(F.col("_rn") <= cap - F.col("_before"))
        .drop("_rn")
    )
    helper = ["_iv", "_before", "_through"]
    return keep_all.drop(*helper).unionByName(boundary_keep.drop(*helper))


def ingest_with_load_shedding(
    spark: SparkSession,
    frames_dir: str,
    out_dir: str,
    checkpoint_dir: str,
    capacity_per_epoch: int,
    max_files_per_trigger: int | None = None,
    shed_interval: str = "minute",
):
    """Ingest variant with the reference's bounded-queue semantics
    (O13): each micro-batch epoch is the channel drain; rows beyond
    ``capacity_per_epoch`` (in (ts, sequence_number, token) order) are
    DROPPED, and every epoch's arrived/kept/dropped counts land in the
    returned drop log — shed rows are accounted, never silent
    (deviation D7 inverted on request). Returns (query, drop_log);
    read drop_log after query termination.

    The epoch cap uses ``cap_in_event_order``: per-interval count
    preaggregation plus a boundary-interval-only sort, so an
    arbitrarily large catch-up epoch never funnels into a single
    sort task."""
    ticks = decode_tick_stream(
        read_frame_stream(spark, frames_dir, max_files_per_trigger)
    )
    drop_log: list[dict] = []

    append_epoch = make_epoch_appender(out_dir)

    def write_epoch(batch: DataFrame, epoch_id: int) -> None:
        # persist both frames: the counts and the sink write would
        # otherwise each re-run the full decode (+ the cap's internal
        # count/join passes) — 3-5x the epoch's decode cost on a big
        # availableNow catch-up batch
        batch = batch.persist()
        kept = cap_in_event_order(
            batch, capacity_per_epoch, shed_interval
        ).persist()
        n_arrived = batch.count()
        n_kept = kept.count()
        append_epoch(kept, epoch_id)
        entry = {
            "epoch": int(epoch_id),
            "arrived": n_arrived,
            "kept": n_kept,
            "dropped": n_arrived - n_kept,
        }
        # a retried epoch REPLACES its log entry (at-least-once
        # delivery must not double-book the accounting)
        drop_log[:] = [e for e in drop_log if e["epoch"] != entry["epoch"]]
        drop_log.append(entry)
        kept.unpersist()
        batch.unpersist()

    q = (
        ticks.writeStream.foreachBatch(write_epoch)
        .option("checkpointLocation", checkpoint_dir)
        .trigger(availableNow=True)
        .start()
    )
    return q, drop_log


def subscription_filter(
    decoded: DataFrame,
    tokens: list[str],
    min_mode: int | None = None,
) -> DataFrame:
    """Subscription control (reference O3): the reference subscribes
    per-exchange token lists at a given mode (main.go:287-304,
    angel/types.go:13-27) and the feed sends only those. With a
    simulated full feed, subscription = a predicate on the decoded
    stream: token membership + minimum subscription mode. A small
    token list stays a literal IN-list (pushed into the scan when
    applied pre-decode on keyed sources); a large one would become a
    broadcast semi-join."""
    out = decoded.filter(F.col("token").isin(tokens))
    if min_mode is not None:
        out = out.filter(F.col("subscription_mode") >= min_mode)
    return out


def corrupt_frame_count(frames: DataFrame) -> DataFrame:
    """Parity with the reference's market_data_errors_total counter
    (main.go:363): corrupt frames are counted, not silently zero-filled."""
    return decode_frames(frames).agg(
        F.count(F.lit(1)).alias("n_frames"),
        F.sum(F.col("is_corrupt").cast("long")).alias("n_corrupt"),
    )
