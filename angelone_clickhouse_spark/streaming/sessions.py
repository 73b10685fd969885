"""Custom stateful streaming operator: gap-based session windows.

Spark's built-in windowed aggregates cover tumbling/sliding windows
(streaming/bars.py); gap-based sessions need per-key custom state, so
this is the engine's ``applyInPandasWithState`` exemplar (SURVEY §2.3
row "UDF/UDAF surface"): state = the one open session per user;
arriving events extend it or close it (emitting the closed session)
when the idle gap exceeds the threshold.

Batch equivalence: ``operators/sessionize.py`` computes the same
sessions with window functions; the streaming run must emit exactly
the batch sessions except each user's final (still-open) one —
asserted in tests/test_streaming_sessions.py.

Scale notes: state is one tiny tuple per user (bounded by user
cardinality, not event volume); grouping shuffles once on user_id per
micro-batch. For production, add a timeout
(GroupStateTimeout.EventTimeTimeout + watermark) so idle users' open
sessions close and state is reclaimed; the no-timeout configuration
here keeps replay tests deterministic.
"""

from __future__ import annotations

from collections.abc import Iterator
from typing import Any

import pandas as pd
from pyspark.sql import DataFrame
from pyspark.sql.streaming.state import GroupState, GroupStateTimeout
from pyspark.sql.types import (
    DoubleType,
    LongType,
    StructField,
    StructType,
    TimestampType,
)

from angelone_clickhouse_spark.streaming.epoch_commit import await_or_raise
from angelone_clickhouse_spark.streaming.workdirs import owned_tmpdir, replay_copy

SESSION_GAP_MIN = 30

OUTPUT_SCHEMA = StructType(
    [
        StructField("user_id", LongType()),
        StructField("session_start", TimestampType()),
        StructField("session_end", TimestampType()),
        StructField("n_events", LongType()),
        StructField("total_value", DoubleType()),
    ]
)

# open session carried between micro-batches
STATE_SCHEMA = StructType(
    [
        StructField("start_us", LongType()),
        StructField("last_us", LongType()),
        StructField("n_events", LongType()),
        StructField("total_value", DoubleType()),
    ]
)

_GAP_US = SESSION_GAP_MIN * 60 * 1_000_000

def _sessionize_group(
    key: tuple[Any, ...], pdfs: Iterator[pd.DataFrame], state: GroupState
) -> Iterator[pd.DataFrame]:
    (user_id,) = key
    pdf = pd.concat(list(pdfs)).sort_values(["ts", "event_id"])
    ts_us = (pdf["ts"].astype("int64") // 1000).tolist()  # ns -> us
    values = pdf["value"].tolist()

    if state.exists:
        start_us, last_us, n_events, total_value = state.get
    else:
        start_us = last_us = None
        n_events, total_value = 0, 0.0

    closed: list[tuple] = []
    for t_us, v in zip(ts_us, values):
        if last_us is not None and t_us - last_us > _GAP_US:
            closed.append((start_us, last_us, n_events, total_value))
            start_us, n_events, total_value = t_us, 0, 0.0
        if start_us is None:
            start_us = t_us
        last_us = t_us
        n_events += 1
        total_value += v

    state.update((start_us, last_us, n_events, total_value))
    if closed:
        yield pd.DataFrame(
            {
                "user_id": user_id,
                "session_start": pd.to_datetime([c[0] for c in closed], unit="us"),
                "session_end": pd.to_datetime([c[1] for c in closed], unit="us"),
                "n_events": [c[2] for c in closed],
                "total_value": [round(c[3], 2) for c in closed],
            }
        )


def streaming_sessionize(events: DataFrame) -> DataFrame:
    """events (streaming, with ts/event_id/user_id/value) -> closed
    sessions, one row per session, emitted as they close."""
    return events.groupBy("user_id").applyInPandasWithState(
        _sessionize_group,
        outputStructType=OUTPUT_SCHEMA,
        stateStructType=STATE_SCHEMA,
        outputMode="append",
        timeoutConf=GroupStateTimeout.NoTimeout,
    )


def gap_sessions(spark, sf_dir: str) -> DataFrame:
    """Driver-visible face of the stateful streaming operator: replay
    the events table through :func:`streaming_sessionize`
    (availableNow, memory sink) and return the CLOSED sessions. The
    oracle is the window-function sessionization minus each user's
    final still-open session — the same equivalence
    tests/test_streaming_sessions.py asserts across micro-batch
    boundaries. One time-ordered chunk here: per-batch ordering is the
    operator's own sort, so a single batch is exact regardless of file
    order (state carry-over is pytest-covered)."""
    import os
    
    from pyspark.sql import functions as F

    from angelone_clickhouse_spark.sources.tables import load_table

    work = owned_tmpdir(prefix="gap_sessions_")
    ev = load_table(spark, sf_dir, "events")
    # the normalized replay copy is harness setup, not operator work —
    # reuse it across calls (bench runs each query 3x); the streaming
    # job below re-runs in full every call with a fresh checkpoint
    src = replay_copy(
        sf_dir, "events", lambda d: ev.coalesce(1).write.parquet(d)
    )
    name = "gap_sessions_" + os.path.basename(work).rsplit("_", 1)[-1]
    stream = spark.readStream.schema(ev.schema).parquet(src)
    q = (
        streaming_sessionize(stream)
        .writeStream.format("memory")
        .queryName(name)
        .outputMode("append")
        .option("checkpointLocation", os.path.join(work, "ckpt"))
        .trigger(availableNow=True)
        .start()
    )
    await_or_raise(q, 300, "gap_sessions stream")
    # NTZ for the cross-engine compare: the op emits naive wall-clock
    # micros; under the UTC session the LTZ->NTZ cast is identity
    return spark.table(name).select(
        "user_id",
        F.col("session_start").cast("timestamp_ntz").alias("session_start"),
        F.col("session_end").cast("timestamp_ntz").alias("session_end"),
        "n_events",
        "total_value",
    )


SESSIONIZE_GAP_S = SESSION_GAP_MIN * 60

QUERIES = {"gap_sessions": gap_sessions}

# closed sessions = all sessions except each user's last; total_value
# is exact integer cents (the op's sequential float sum + round(.,2)
# recovers the cent value — per-session error << half a cent)
ORACLES = {
    "gap_sessions": f"""
WITH ordered AS (
  SELECT user_id, event_id, CAST(ts AS TIMESTAMP) AS ts, "value",
         CASE WHEN lag(ts) OVER w IS NULL
                   OR date_diff('second',
                                CAST(lag(ts) OVER w AS TIMESTAMP),
                                CAST(ts AS TIMESTAMP))
                      > {SESSIONIZE_GAP_S}
              THEN 1 ELSE 0 END AS is_new
  FROM events
  WINDOW w AS (PARTITION BY user_id ORDER BY ts, event_id)
),
sid AS (
  SELECT *,
         sum(is_new) OVER (
           PARTITION BY user_id ORDER BY ts, event_id
           ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW
         ) AS session_seq
  FROM ordered
),
sess AS (
  SELECT user_id, session_seq,
         min(ts) AS session_start,
         max(ts) AS session_end,
         count(*) AS n_events,
         CAST(sum(CAST(round(("value") * 100) AS BIGINT)) AS DOUBLE) / 100
           AS total_value
  FROM sid
  GROUP BY user_id, session_seq
)
SELECT user_id, session_start, session_end, n_events, total_value
FROM (
  SELECT *, max(session_seq) OVER (PARTITION BY user_id) AS last_seq
  FROM sess
)
WHERE session_seq < last_seq
""",
}
