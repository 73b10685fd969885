"""Parquet table loaders + the canonical tick-table derivation.

The reference system's one real table is ``angelone_market_data``
(reference db/clickhouse.go:16-28): a tick table
``(token, timestamp, last_traded_price, open/high/low/close, volume)``
clustered by timestamp (MergeTree ORDER BY timestamp). For
oracle-differential testing the driver only ships the synthetic star
schema (TESTDATA.md), so the engine derives a deterministic tick table
from ``events`` (FIXTURES.md B2 mapping: token <- user_id,
price <- value, ts <- ts). The SAME derivation is expressed once as a
DataFrame plan (:func:`ticks`) and once as a DuckDB CTE
(:data:`TICKS_ORACLE_CTE`) so every declared query Q1-Q8 can be
hash-checked against an independent engine.

Scale note: the derivation is pure narrow projection (no shuffle); at
100 TB the tick table would instead be the Parquet dataset written by
``streaming/ingest.py`` partitioned by date and sorted by timestamp —
same schema, so every query in operators/queries.py runs unchanged.

Declared schemas: :func:`load_table` reads each table with its
``SCHEMAS`` entry (``angelone_clickhouse_spark/__init__.py``) instead
of letting Spark infer one, which cost a Spark job and 60-110 ms per
call. Each data file's footer is checked against the declared schema
on the driver with pyarrow (no Spark job), once per (path,
st_mtime_ns, st_size): a file rewritten at the same path is checked
again, and a missing, extra or differently typed column raises
ValueError. :func:`table_version` is that triple for every data file
of a table; the process-wide caches built from a table's rows (gate
and session replay copies, the bucketed ANN index) key on it. A TIMESTAMP(NANOS) column (perfbench's events) is read as
a long, which needs ``spark.sql.legacy.parquet.nanosAsLong``; the
engine session sets it, and ``load_table`` sets it at runtime in a
plain session that lacks it. The long is then rebuilt as the declared
timestamp type, truncated to microseconds.
"""

from __future__ import annotations

import os

from pyspark.sql import Column, DataFrame, SparkSession
from pyspark.sql import functions as F
from pyspark.sql.types import (
    ArrayType,
    DataType,
    DoubleType,
    FloatType,
    IntegerType,
    LongType,
    StringType,
    StructField,
    StructType,
    TimestampNTZType,
    TimestampType,
)

from angelone_clickhouse_spark import SCHEMAS

_NANOS_AS_LONG = "spark.sql.legacy.parquet.nanosAsLong"
# the Spark type each Arrow type of a parquet footer reads as (the
# scalar types the declared schemas use)
_ARROW_TYPES = {
    "int32": IntegerType(),
    "int64": LongType(),
    "float": FloatType(),
    "double": DoubleType(),
    "string": StringType(),
    "large_string": StringType(),
}
_NANOS = "TIMESTAMP(NANOS)"
# data file -> (st_mtime_ns, st_size, its TIMESTAMP(NANOS) columns): a
# footer is checked once per version of the file, not once per call
_CHECKED: dict[str, tuple[int, int, frozenset[str]]] = {}


def _sf_dir() -> str:
    return os.environ.get("SPARK_GRAFT_SF_DIR", "/root/testdata/sf0.1")


def _spark_type(arrow_type, physical: str | None) -> DataType | str | None:
    """How Spark reads a footer column: its type, ``_NANOS`` for an
    INT64 nanosecond timestamp (read only as a long), None if unknown."""
    import pyarrow as pa

    if pa.types.is_timestamp(arrow_type):
        if physical == "INT96":  # pyarrow shows legacy INT96 as ns
            return TimestampType()
        if arrow_type.unit == "ns":
            return _NANOS
        return TimestampNTZType() if arrow_type.tz is None else TimestampType()
    if pa.types.is_list(arrow_type) or pa.types.is_large_list(arrow_type):
        inner = _spark_type(arrow_type.value_type, None)
        return ArrayType(inner) if isinstance(inner, DataType) else None
    return _ARROW_TYPES.get(str(arrow_type))


def _check_footer(path: str, name: str) -> frozenset[str]:
    """Check one data file's footer against the declared schema of
    ``name`` (pyarrow on the driver, no Spark job); returns its
    TIMESTAMP(NANOS) columns. Raises ValueError on a missing, extra or
    differently typed column."""
    import pyarrow.parquet as pq

    pf = pq.ParquetFile(path)
    cols = [pf.schema.column(i) for i in range(len(pf.schema))]
    physical = {c.path: c.physical_type for c in cols}
    got = {
        f.name: (f.type, _spark_type(f.type, physical.get(f.name)))
        for f in pf.schema_arrow
    }
    declared = SCHEMAS[name]
    problems = [f"extra column {c!r}" for c in got if c not in declared.names]
    nanos = set()
    for field in declared.fields:
        if field.name not in got:
            problems.append(f"missing column {field.name!r}")
            continue
        arrow_type, spark_type = got[field.name]
        if spark_type == _NANOS and field.dataType == TimestampNTZType():
            nanos.add(field.name)
        elif spark_type != field.dataType:
            problems.append(
                f"column {field.name!r} is {arrow_type},"
                f" declared {field.dataType.simpleString()}"
            )
    if problems:
        raise ValueError(
            f"{path} does not match the declared schema of table {name!r}: "
            + "; ".join(problems)
        )
    return frozenset(nanos)


def table_version(
    sf_dir: str | None, name: str
) -> tuple[tuple[str, int, int], ...]:
    """``(path, st_mtime_ns, st_size)`` of each data file of table
    ``name`` (a file or a directory of part files): a table rewritten
    at the same path gets another version. Every process-wide cache of
    a table's rows or derived state keys on it."""
    path = os.path.join(sf_dir or _sf_dir(), f"{name}.parquet")
    files = (
        sorted(
            os.path.join(path, n)
            for n in os.listdir(path)
            if not n.startswith(("_", "."))
        )
        if os.path.isdir(path)
        else [path]
    )
    return tuple(
        (f, st.st_mtime_ns, st.st_size) for f in files for st in [os.stat(f)]
    )


def _nanos_columns(sf_dir: str, name: str) -> frozenset[str]:
    """The declared columns that table ``name`` stores as
    TIMESTAMP(NANOS), checking each data file's footer when it is new
    or was rewritten (another mtime or size)."""
    nanos: frozenset[str] = frozenset()
    for f, mtime_ns, size in table_version(sf_dir, name):
        hit = _CHECKED.get(f)
        if hit is None or hit[:2] != (mtime_ns, size):
            hit = (mtime_ns, size, _check_footer(f, name))
            _CHECKED[f] = hit
        nanos |= hit[2]
    return nanos


def _ntz_from_nanos(c: str) -> Column:
    # truncating integer division, like DuckDB's ns -> us cast, with no
    # double-precision loss; NTZ arithmetic, so no session time zone
    micros = F.expr(f"`{c}` DIV 1000")
    epoch = F.lit("1970-01-01 00:00:00").cast("timestamp_ntz")
    return F.timestamp_add("MICROSECOND", micros, epoch)


def load_table(spark: SparkSession, sf_dir: str | None, name: str) -> DataFrame:
    """Load one synthetic table with its declared schema (no inference
    job). A TIMESTAMP(NANOS) column, which Spark's reader takes only as
    a long, is rebuilt as its declared TIMESTAMP_NTZ."""
    sf_dir = sf_dir or _sf_dir()
    path = os.path.join(sf_dir, f"{name}.parquet")
    declared = SCHEMAS[name]
    nanos = _nanos_columns(sf_dir, name)
    if not nanos:
        return spark.read.schema(declared).parquet(path)
    # a plain session lacks the conf that get_spark sets
    if spark.conf.get(_NANOS_AS_LONG, "false") != "true":
        spark.conf.set(_NANOS_AS_LONG, "true")
    read = StructType(
        [
            StructField(f.name, LongType()) if f.name in nanos else f
            for f in declared.fields
        ]
    )
    return (
        spark.read.schema(read)
        .parquet(path)
        .withColumns({c: _ntz_from_nanos(c) for c in sorted(nanos)})
    )


def register_tables(spark: SparkSession, sf_dir: str | None = None) -> None:
    """Register every synthetic table as a temp view (for spark.sql use)."""
    from angelone_clickhouse_spark import TABLES

    for name in TABLES:
        load_table(spark, sf_dir, name).createOrReplaceTempView(name)


def ticks(
    spark: SparkSession,
    sf_dir: str | None = None,
    tokens: tuple[str, ...] | None = None,
) -> DataFrame:
    """The canonical tick table, derived deterministically from ``events``.

    Schema mirrors the reference sink table (db/clickhouse.go:17-25)
    plus the wire fields the reference decoded then discarded
    (sequence_number — SURVEY.md D1/D5): token, ts, sequence_number,
    last_traded_price, open_price, high_price, low_price, close_price,
    volume. OHLC spreads are deterministic functions of (value,
    event_id) so that min/max/first/last aggregates have real work to do.

    ``tokens``: optional token filter applied as an *integer* predicate
    on the underlying user_id column. A predicate on the derived string
    column (``cast(user_id as string) = '7'``) cannot cross the cast,
    so it never reaches the parquet scan; pre-filtering on the source
    column gets PushedFilters row-group skipping — the derivation is
    injective, so semantics are identical.
    """
    ev = load_table(spark, sf_dir, "events")
    if tokens:
        ev = ev.filter(F.col("user_id").isin([int(t) for t in tokens]))
    return ev.select(
        F.col("user_id").cast("string").alias("token"),
        F.col("ts"),
        F.col("event_id").alias("sequence_number"),
        F.col("value").alias("last_traded_price"),
        (F.col("value") - F.col("event_id") % 7).alias("open_price"),
        (F.col("value") + F.col("event_id") % 11).alias("high_price"),
        (F.col("value") - F.col("event_id") % 13).alias("low_price"),
        (F.col("value") + F.col("event_id") % 5).alias("close_price"),
        (F.col("event_id") % 1000).cast("double").alias("volume"),
    )


# DuckDB rendition of ticks() — MUST stay semantically identical to the
# DataFrame plan above; every oracle in operators/queries.py prepends it.
def trunc_ntz(unit: str, col):
    """Timezone-independent truncation for TIMESTAMP_NTZ columns.

    ``F.date_trunc`` interprets an NTZ input in the session timezone
    and returns an *instant* (TIMESTAMP), so collected labels — and,
    for sub-hour-offset zones, the bucket boundaries themselves —
    shift with ``spark.sql.session.timeZone`` (the sessionize NTZ
    lesson, ROUND4.md #1). This helper stays in pure NTZ arithmetic
    (timestampdiff/timestampadd never leave naive time), matching
    DuckDB's naive ``date_trunc`` bit-for-bit under ANY session zone.

    ``col`` may be a Column or a column name (any identifier — the
    name is resolved via ``F.col``, not interpolated into SQL text,
    so backtick-worthy names and expressions both work; ADVICE r5).
    """
    if isinstance(col, str):
        col = F.col(col)
    epoch = F.lit("1970-01-01 00:00:00").cast("timestamp_ntz")
    return F.timestamp_add(unit, F.timestamp_diff(unit, epoch, col), epoch)


TICKS_ORACLE_CTE = """
WITH ticks AS (
  SELECT
    CAST(user_id AS VARCHAR)            AS token,
    CAST(ts AS TIMESTAMP)               AS ts,
    event_id                            AS sequence_number,
    "value"                             AS last_traded_price,
    "value" - (event_id % 7)            AS open_price,
    "value" + (event_id % 11)           AS high_price,
    "value" - (event_id % 13)           AS low_price,
    "value" + (event_id % 5)            AS close_price,
    CAST(event_id % 1000 AS DOUBLE)     AS volume
  FROM events
)
"""
