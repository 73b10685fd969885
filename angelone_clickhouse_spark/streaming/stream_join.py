"""Stream-stream interval join: mode-1 LTP ticks x mode>=2 full quotes.

The reference multiplexes two frame kinds on one WebSocket — LTP-only
(mode 1, 51 bytes) and full quotes (mode 2/3, 123 bytes)
(parser/binary.go:47-76, models/token.go:14-18) — and simply inserts
both. The natural streaming analytics over that multiplex is a
stream-stream join: pair every lite tick with the full quotes of the
SAME token in the preceding tolerance window (spread/slippage checks,
quote-at-trade reconstruction).

Spark-first: two watermarked streams derived from one decoded frame
stream, inner-joined on token + an event-time range predicate — the
canonical Structured Streaming stream-stream join whose state is
bounded by (watermark + tolerance). The SAME builder runs as a batch
plan (driver query ``tick_interval_join``), which DuckDB oracle-checks
against the generator truth sidecar; tests assert stream == batch.

Scale notes (100 TB): both sides shuffle on token (the join key);
state per executor is bounded by tolerance x per-token rate. Skewed
hot tokens would use the salted-key pattern (operators/skew.py). The
paise spread stays an INTEGER sum — exact at any scale, no float
accumulation order issues.
"""

from __future__ import annotations

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F

TOLERANCE_S = 300  # pair full quotes at most 5 minutes BEFORE the lite tick


def tick_sides(decoded: DataFrame) -> tuple[DataFrame, DataFrame]:
    """Split decoded wire records (decode_frames output) into the two
    join sides, deduped on the wire identity. Works on both batch and
    streaming DataFrames (dropDuplicates subsets include the
    byte-identical ts so streaming state stays watermark-bounded)."""
    base = decoded.filter(~F.col("is_corrupt")).select(
        "token",
        F.timestamp_millis(F.col("exchange_timestamp")).alias("ts"),
        "sequence_number",
        "last_traded_price",
        "subscription_mode",
    )
    if not base.isStreaming:
        # both sides derive from this plan — materialize once so the
        # Arrow decode doesn't execute twice (streaming DFs can't
        # checkpoint; there each side is its own stateful scan anyway)
        base = base.localCheckpoint(eager=True)
    lite = (
        base.filter(F.col("subscription_mode") == 1)
        .select(
            F.col("token").alias("l_token"),
            F.col("ts").alias("lite_ts"),
            F.col("sequence_number").alias("lite_seq"),
            F.col("last_traded_price").alias("lite_paise"),
        )
        .dropDuplicates(["l_token", "lite_seq", "lite_ts"])
    )
    full = (
        base.filter(F.col("subscription_mode") >= 2)
        .select(
            F.col("token").alias("f_token"),
            F.col("ts").alias("full_ts"),
            F.col("sequence_number").alias("full_seq"),
            F.col("last_traded_price").alias("full_paise"),
        )
        .dropDuplicates(["f_token", "full_seq", "full_ts"])
    )
    return lite, full


def interval_join(
    lite: DataFrame, full: DataFrame, tolerance_s: int = TOLERANCE_S
) -> DataFrame:
    """token-equality + event-time-range inner join, then per-token
    rollup: pair count and exact integer paise spread."""
    joined = lite.join(
        full,
        (F.col("l_token") == F.col("f_token"))
        & (F.col("full_ts") <= F.col("lite_ts"))
        & (
            F.col("full_ts")
            >= F.col("lite_ts") - F.expr(f"INTERVAL {tolerance_s} SECOND")
        ),
    )
    return joined.groupBy(F.col("l_token").alias("token")).agg(
        F.count(F.lit(1)).alias("n_pairs"),
        F.sum(F.abs(F.col("lite_paise") - F.col("full_paise"))).alias(
            "sum_abs_spread_paise"
        ),
    )


def tick_interval_join_stream(
    frames: DataFrame,
    watermark: str = "10 minutes",
    tolerance_s: int = TOLERANCE_S,
) -> DataFrame:
    """Streaming spelling: watermark both sides, then the same join.
    Returns the un-aggregated pair stream (aggregation after a
    stream-stream join needs its own output-mode handling; tests
    aggregate the sink)."""
    from angelone_clickhouse_spark.sources.decoder import decode_frames

    lite, full = tick_sides(decode_frames(frames))
    lite = lite.withWatermark("lite_ts", watermark)
    full = full.withWatermark("full_ts", watermark)
    return lite.join(
        full,
        (F.col("l_token") == F.col("f_token"))
        & (F.col("full_ts") <= F.col("lite_ts"))
        & (
            F.col("full_ts")
            >= F.col("lite_ts") - F.expr(f"INTERVAL {tolerance_s} SECOND")
        ),
    )


def tick_interval_join(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Driver-visible batch twin over the deterministic generated
    frame stream (same frames + truth sidecar as decode_ticks)."""
    from angelone_clickhouse_spark.sources.decoder import decode_frames
    from angelone_clickhouse_spark.sources.frames import frames_df
    from angelone_clickhouse_spark.streaming.batch_equiv import _decode_inputs

    frames = _decode_inputs()
    lite, full = tick_sides(decode_frames(frames_df(spark, frames)))
    return interval_join(lite, full)


QUERIES = {"tick_interval_join": tick_interval_join}


def _oracle_sql() -> str:
    from angelone_clickhouse_spark.streaming.batch_equiv import (
        DECODE_TRUTH_PATH,
    )

    return f"""
WITH valid AS (
  SELECT DISTINCT token, mode, sequence_number, exchange_timestamp_ms,
                  ltp_paise
  FROM read_parquet('{DECODE_TRUTH_PATH}')
  WHERE frame_len >= 51 AND NOT (mode >= 2 AND frame_len < 123)
),
lite AS (
  SELECT token, epoch_ms(exchange_timestamp_ms) AS lite_ts,
         ltp_paise AS lite_paise
  FROM valid WHERE mode = 1
),
fullq AS (
  SELECT token, epoch_ms(exchange_timestamp_ms) AS full_ts,
         ltp_paise AS full_paise
  FROM valid WHERE mode >= 2
)
SELECT l.token,
       count(*) AS n_pairs,
       CAST(sum(abs(l.lite_paise - f.full_paise)) AS BIGINT)
         AS sum_abs_spread_paise
FROM lite l
JOIN fullq f
  ON f.token = l.token
 AND f.full_ts <= l.lite_ts
 AND f.full_ts >= l.lite_ts - INTERVAL {TOLERANCE_S} SECOND
GROUP BY l.token
"""


ORACLES = {"tick_interval_join": _oracle_sql()}
