"""Token-config JSON source (reference O10: config/tokens.json scan).

The reference loads a JSON array of {symbol, token, exchange} at
startup (main.go:168-177 over config/tokens.json:1-33) and joins it
against the static ExchangeMap (models/token.go:30-38). The engine
ships the same universe as a committed asset and reads it with an
EXPLICIT schema (never inferSchema on a hot path — SURVEY §1.3),
broadcasting it wherever ticks need symbol/exchange enrichment.
"""

from __future__ import annotations

import os

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F
from pyspark.sql.types import StringType, StructField, StructType

TOKEN_CONFIG_SCHEMA = StructType(
    [
        StructField("symbol", StringType(), False),
        StructField("token", StringType(), False),
        StructField("exchange", StringType(), False),
    ]
)

DEFAULT_CONFIG_PATH = os.path.join(
    os.path.dirname(os.path.dirname(os.path.dirname(os.path.abspath(__file__)))),
    "config",
    "tokens.json",
)

# models/token.go:30-38 (full map; the reference's exchange-type codes)
EXCHANGE_TYPE_MAP = {
    "nse_cm": 1,
    "nse_fo": 2,
    "bse_cm": 3,
    "bse_fo": 4,
    "mcx_fo": 5,
    "ncx_fo": 7,
    "cde_fo": 13,
}


def _quote(s: str) -> str:
    """Spark SQL string literal: ``\\`` is the literal's escape character."""
    return "'" + str(s).replace("\\", "\\\\").replace("'", "\\'") + "'"


def load_token_config(
    spark: SparkSession, path: str | None = None
) -> DataFrame:
    """Token-config universe as a DataFrame.

    r17 (guide §5/§6): the DEFAULT repo-committed config is parsed
    DRIVER-side — exactly the reference's startup load
    (main.go:168-177 reads the file once into memory) — and enters
    the plan as a VALUES LocalRelation: zero scan tasks, broadcast-
    ready, constant-foldable. The old ``spark.read.json`` spelling
    scheduled a defaultParallelism-wide stage of near-empty tasks for
    the 33-row multiLine file on EVERY execution (~1.4 s of the
    enrichment queries' cost at local[32], measured). An explicit
    ``path`` keeps the executor file-scan spelling — streaming
    callers point it at runtime-generated configs, and at a scale
    where the config were data-sized the scan is the right plan."""
    if path is None:
        import json

        with open(DEFAULT_CONFIG_PATH) as f:
            cfg = json.load(f)
        rows = ", ".join(
            f"({_quote(r['symbol'])}, {_quote(r['token'])},"
            f" {_quote(r['exchange'])})"
            for r in cfg
        )
        return spark.sql(
            f"SELECT * FROM (VALUES {rows}) AS t(symbol, token, exchange)"
        )
    # the reference config is one JSON array (config/tokens.json:1-33),
    # not JSON-lines -> multiLine
    return (
        spark.read.schema(TOKEN_CONFIG_SCHEMA)
        .option("multiLine", "true")
        .json(path)
    )


def exchange_type_df(spark: SparkSession) -> DataFrame:
    # VALUES LocalRelation for the 7-row static map (r17): the
    # createDataFrame spelling parallelized 7 rows into a
    # defaultParallelism-slice RDD stage per execution
    rows = ", ".join(
        f"({_quote(name)}, {code})" for name, code in EXCHANGE_TYPE_MAP.items()
    )
    return spark.sql(
        f"SELECT exchange, CAST(exchange_type AS INT) AS exchange_type"
        f" FROM (VALUES {rows}) AS m(exchange, exchange_type)"
    )


def enriched_token_config(spark: SparkSession, path: str | None = None) -> DataFrame:
    """config ⋈ exchange map, inner (unknown exchanges dropped — the
    reference's warn-and-drop path, main.go:183-186)."""
    cfg = load_token_config(spark, path)
    return cfg.join(F.broadcast(exchange_type_df(spark)), "exchange")


_REPO_ROOT = os.path.dirname(
    os.path.dirname(os.path.dirname(os.path.abspath(__file__)))
)
_ENRICHED_PARAMS = dict(n=2000, seed=42)
# params-hashed filename (frames.truth_sidecar_path): write-if-missing
# can never reuse a sidecar from different params/generator version
from angelone_clickhouse_spark.sources.frames import (  # noqa: E402
    truth_sidecar_path as _tsp,
)

ENRICHED_TRUTH_PATH = _tsp(_REPO_ROOT, "decode_enriched_truth", _ENRICHED_PARAMS)


def decode_ticks_enriched(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Generated wire frames decoded then enriched with the token
    config — the reference's full startup dataflow (O2/O6 + O10/O11)
    as one plan. Oracle-checked against the generator's truth sidecar
    joined to the same config universe."""
    from angelone_clickhouse_spark.functions.exact import avg_fixed_g
    from angelone_clickhouse_spark.sources.decoder import (
        decode_frames,
        wire_to_ticks,
    )
    from angelone_clickhouse_spark.sources.frames import (
        frames_df,
        generate_frames_and_truth,
        write_truth_sidecar,
    )

    frames, truth = generate_frames_and_truth(**_ENRICHED_PARAMS)
    if not os.path.exists(ENRICHED_TRUTH_PATH):
        # deterministic for fixed params; rewriting on every call put
        # ~0.3 s of driver-side parquet IO inside the benched region
        write_truth_sidecar(ENRICHED_TRUTH_PATH, truth)
    ticks = wire_to_ticks(decode_frames(frames_df(spark, frames)))
    cfg = enriched_token_config(spark)
    return (
        ticks.join(F.broadcast(cfg), "token")
        .groupBy("symbol", "exchange", "exchange_type")
        .agg(
            F.count(F.lit(1)).alias("n_ticks"),
            # exact half-up avg on the 1e-4 grid (price is paise/100, so
            # price*10000 is exactly paise*100) — round(avg(double), 4)
            # diverges cross-engine at decimal halves
            avg_fixed_g("last_traded_price", 4, "avg_price"),
        )
    )


def _config_values_sql() -> str:
    import json

    with open(DEFAULT_CONFIG_PATH) as f:
        cfg = json.load(f)
    rows = ", ".join(
        f"('{r['symbol']}', '{r['token']}', '{r['exchange']}')" for r in cfg
    )
    emap = ", ".join(
        f"('{name}', {code})" for name, code in EXCHANGE_TYPE_MAP.items()
    )
    return (
        f"cfg AS (SELECT * FROM (VALUES {rows}) "
        f"AS c(symbol, token, exchange)),\n"
        f"emap AS (SELECT * FROM (VALUES {emap}) "
        f"AS m(exchange, exchange_type))"
    )


QUERIES = {"decode_ticks_enriched": decode_ticks_enriched}
ORACLES: dict[str, str] = {
    # frames have no duplicates/corruption here, so every truth row is
    # a valid tick; avg is the exact integer spelling of avg_fixed_g
    # over paise*100 units
    "decode_ticks_enriched": f"""
WITH {_config_values_sql()}
SELECT c.symbol, c.exchange, m.exchange_type,
       count(*) AS n_ticks,
       CAST((sum(t.ltp_paise) * 100 + count(*) // 2) // count(*)
            AS DOUBLE) / 10000 AS avg_price
FROM read_parquet('{ENRICHED_TRUTH_PATH}') t
JOIN cfg c ON t.token = c.token
JOIN emap m ON c.exchange = m.exchange
GROUP BY c.symbol, c.exchange, m.exchange_type
""",
}

# materialize the sidecar at import (if missing) so the oracle is
# valid no matter whether the driver runs the SQL or the Spark plan
# first; the params-hashed filename makes if-missing sound
from angelone_clickhouse_spark.sources.frames import (  # noqa: E402
    generate_frames_and_truth as _gft,
    write_truth_sidecar as _wts,
)

if not os.path.exists(ENRICHED_TRUTH_PATH):
    _wts(ENRICHED_TRUTH_PATH, _gft(**_ENRICHED_PARAMS)[1])
