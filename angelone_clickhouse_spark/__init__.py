"""angelone_clickhouse_spark — a PySpark-native analytics engine.

A from-scratch rebuild of the capabilities of the reference system
``crypt0inf0/angelone_clickhouse`` (a Go market-data ingestion pipeline
feeding ClickHouse), re-expressed Spark-first:

- the streaming ingestion dataflow (binary tick decode -> project ->
  micro-batch append) as Structured Streaming over Parquet
  (``streaming/``, ``sources/``),
- the declared analytical query surface (SURVEY.md section 2.2, Q1-Q8)
  as Spark SQL / DataFrame plans over a Parquet-backed tick table
  (``operators/queries.py``),
- plus the large-scale training-data-pipeline operators the north star
  requires: deduplication, similarity search, text analysis, multimodal
  binary columns (``operators/``).

Everything is declarative DataFrame/SQL so Catalyst supplies predicate
pushdown, column pruning, partial aggregation, broadcast-join selection
and whole-stage codegen; Python UDFs appear only where Spark genuinely
lacks the semantics (fixed-layout binary decode, simhash, language-ID),
and then always as Arrow-batched pandas UDFs.
"""

from pyspark.sql.types import (
    ArrayType,
    DoubleType,
    FloatType,
    IntegerType,
    LongType,
    StringType,
    StructField,
    StructType,
    TimestampNTZType,
)

__version__ = "0.1.0"


def _schema(*cols: tuple[str, object]) -> StructType:
    return StructType([StructField(name, dtype) for name, dtype in cols])


_INT, _LONG, _DOUBLE, _STR = IntegerType(), LongType(), DoubleType(), StringType()
_TS = TimestampNTZType()

# The declared schema of every synthetic table (FIXTURES.md), in file
# column order: ``sources/tables.load_table`` reads with it instead of
# inferring one, and checks each file's footer against it.
SCHEMAS = {
    "region": _schema(("r_regionkey", _INT), ("r_name", _STR)),
    "nation": _schema(
        ("n_nationkey", _INT), ("n_name", _STR), ("n_regionkey", _INT)
    ),
    "customer": _schema(
        ("c_custkey", _LONG),
        ("c_name", _STR),
        ("c_nationkey", _INT),
        ("c_acctbal", _DOUBLE),
        ("c_mktsegment", _STR),
    ),
    "supplier": _schema(
        ("s_suppkey", _LONG),
        ("s_name", _STR),
        ("s_nationkey", _INT),
        ("s_acctbal", _DOUBLE),
    ),
    "part": _schema(
        ("p_partkey", _LONG),
        ("p_name", _STR),
        ("p_brand", _STR),
        ("p_type", _STR),
        ("p_size", _INT),
        ("p_retailprice", _DOUBLE),
    ),
    "orders": _schema(
        ("o_orderkey", _LONG),
        ("o_custkey", _LONG),
        ("o_orderstatus", _STR),
        ("o_totalprice", _DOUBLE),
        ("o_orderdate", _TS),
        ("o_orderpriority", _STR),
    ),
    "lineitem": _schema(
        ("l_orderkey", _LONG),
        ("l_partkey", _LONG),
        ("l_suppkey", _LONG),
        ("l_linenumber", _INT),
        ("l_quantity", _DOUBLE),
        ("l_extendedprice", _DOUBLE),
        ("l_discount", _DOUBLE),
        ("l_tax", _DOUBLE),
        ("l_returnflag", _STR),
        ("l_linestatus", _STR),
        ("l_shipdate", _TS),
    ),
    "events": _schema(
        ("event_id", _LONG),
        ("ts", _TS),
        ("user_id", _LONG),
        ("event_type", _STR),
        ("value", _DOUBLE),
        ("props", _STR),
    ),
    "documents": _schema(
        ("doc_id", _LONG),
        ("text", _STR),
        ("lang", _STR),
        ("source", _STR),
        ("n_chars", _LONG),
    ),
    "embeddings": _schema(
        ("vec_id", _LONG), ("embedding", ArrayType(FloatType())), ("label", _INT)
    ),
}
TABLES = tuple(SCHEMAS)
