"""SparkSession factory with engine defaults.

Scale notes (the settings below are chosen for a real cluster, then
overridden down for local test runs):

- AQE on: runtime coalescing of shuffle partitions, skew-join splitting
  and dynamic broadcast decisions are what keep the declared query
  surface healthy at 100 TB without hand-tuned partition counts.
- ``spark.sql.session.timeZone=UTC``: the reference stores naive
  wall-clock timestamps (main.go:140 of the reference); we pin UTC so
  event-time semantics are reproducible across machines and match the
  DuckDB oracle.
- ``spark.sql.legacy.parquet.nanosAsLong=true``: the driver-generated
  ``events`` table carries TIMESTAMP(NANOS) which Spark's vectorized
  Parquet reader refuses by default; we read nanos as long and convert
  to a microsecond timestamp in the loader (sources/tables.py) — a
  single integer division, still fully codegen'd.
- Python workers: ``spark.python.daemon.module`` points at
  ``pyworker.py``, pyspark's own daemon with one patch. Every Python
  task (the ingest decode once per epoch, every batch UDF) starts with
  ``importlib.invalidate_caches()``, which before Python 3.12 makes each
  of a reused worker's ~16 ``pyspark.zip`` importers re-read the
  archive's 1.3k-entry directory (CPython gh-103200, fixed in 3.12):
  ~0.1 s of fixed cost per task on a 4-core host, paid on the critical
  path of every live ingest epoch. The patch re-reads an archive only
  when its mtime or size changed, so it is applied on Python < 3.12
  only; on 3.12+ the module is the stock daemon.
  ``spark.executorEnv.PYTHONPATH`` is the package's parent directory, so
  the daemon and every UDF import the engine from where it lives,
  whatever the driver's working directory. On a cluster the package
  must sit at the same path on the executors (or ship via
  ``--py-files``).
"""

from __future__ import annotations

import os

from pyspark.sql import SparkSession

DEFAULT_SHUFFLE_PARTITIONS = int(os.environ.get("SPARK_GRAFT_CPUS", "32"))
_ENGINE_ROOT = os.path.dirname(os.path.dirname(os.path.abspath(__file__)))


def get_spark(
    app_name: str = "angelone_clickhouse_spark",
    master: str | None = None,
    shuffle_partitions: int | None = None,
) -> SparkSession:
    """Build (or reuse) the engine SparkSession.

    ``master`` defaults to ``local[$SPARK_GRAFT_CPUS]`` when no cluster
    is configured; on a real deployment the session comes from
    spark-submit and ``master`` stays None.
    """
    cpus = os.environ.get("SPARK_GRAFT_CPUS", "32")
    builder = SparkSession.builder.appName(app_name)
    if master is None and "SPARK_MASTER" not in os.environ:
        master = f"local[{cpus}]"
    if master:
        builder = builder.master(master)
    sp = shuffle_partitions or DEFAULT_SHUFFLE_PARTITIONS
    builder = (
        builder.config("spark.sql.shuffle.partitions", str(sp))
        .config("spark.sql.adaptive.enabled", "true")
        .config("spark.sql.adaptive.coalescePartitions.enabled", "true")
        .config("spark.sql.adaptive.skewJoin.enabled", "true")
        # runtime bloom-filter pushdown: inject a bloom filter built
        # from the small side of a shuffle join into the big side's
        # scan — the 100 TB join-pruning knob (off by default in OSS)
        .config("spark.sql.optimizer.runtime.bloomFilter.enabled", "true")
        .config("spark.sql.session.timeZone", "UTC")
        .config("spark.sql.legacy.parquet.nanosAsLong", "true")
        .config("spark.sql.parquet.compression.codec", "snappy")
        .config("spark.sql.execution.arrow.pyspark.enabled", "true")
        .config("spark.driver.memory", os.environ.get("SPARK_GRAFT_DRIVER_MEM", "8g"))
        .config("spark.ui.enabled", "false")
        .config("spark.python.daemon.module", "angelone_clickhouse_spark.pyworker")
        .config("spark.executorEnv.PYTHONPATH", _ENGINE_ROOT)
    )
    spark = builder.getOrCreate()
    spark.sparkContext.setLogLevel("WARN")
    return spark
