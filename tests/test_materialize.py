"""Shared materialize helper (VERDICT r4 item 4): every operator that
cuts lineage exposes ``checkpoint_dir``; passing it must (a) produce
identical results to the default localCheckpoint path and (b) actually
write RELIABLE checkpoint data under the directory — the fault-tolerant
spelling a 100 TB cluster threads through one config value."""

from __future__ import annotations

import os

from angelone_clickhouse_spark.materialize import _ckpt_dir_matches


def test_ckpt_dir_matches_normalizes_schemes_and_subdirs():
    # Spark reports "file:/dir/<uuid>" after setCheckpointDir("/dir"):
    # the raw-string compare bug (ADVICE r4) would re-set every call
    assert _ckpt_dir_matches("file:/tmp/ck/3f2a-uuid", "/tmp/ck")
    assert _ckpt_dir_matches("file:///tmp/ck/3f2a-uuid", "/tmp/ck")
    assert _ckpt_dir_matches("/tmp/ck", "/tmp/ck")
    assert not _ckpt_dir_matches(None, "/tmp/ck")
    assert not _ckpt_dir_matches("file:/tmp/other/uuid", "/tmp/ck")
    # prefix of a DIFFERENT directory name must not match
    assert not _ckpt_dir_matches("/tmp/ck2/uuid", "/tmp/ck")


def test_reliable_checkpoint_path_matches_default(spark, tmp_path, sf_dir):
    """chunk_documents + distinct_users_theta through a reliable
    checkpoint dir: same rows as the default path, and checkpoint files
    exist on disk (proof the reliable spelling actually engaged)."""
    from angelone_clickhouse_spark.functions.scalar import distinct_users_theta
    from angelone_clickhouse_spark.operators.pipeline import chunk_documents

    ck = str(tmp_path / "reliable_ck")
    prev = spark.sparkContext.getCheckpointDir()
    try:
        default = sorted(map(tuple, chunk_documents(spark, sf_dir).collect()))
        reliable = sorted(
            map(
                tuple,
                chunk_documents(spark, sf_dir, checkpoint_dir=ck).collect(),
            )
        )
        assert reliable == default and len(default) > 0
        written = [
            os.path.join(dp, f) for dp, _, fs in os.walk(ck) for f in fs
        ]
        assert written, "no reliable checkpoint data written"

        d2 = sorted(map(tuple, distinct_users_theta(spark, sf_dir).collect()))
        r2 = sorted(
            map(
                tuple,
                distinct_users_theta(
                    spark, sf_dir, checkpoint_dir=ck
                ).collect(),
            )
        )
        assert r2 == d2 and len(d2) > 0
    finally:
        if prev is not None:
            spark.sparkContext.setCheckpointDir(prev)


def test_checkpoint_sized_coalesces_small_frames(spark):
    """checkpoint_sized (r17): a tiny materialized frame is read back
    through a row-count-derived partition count (1 here) with content
    intact; `sized` never INCREASES partitions and respects the
    rows_per_task knob."""
    from pyspark.sql import functions as F

    from angelone_clickhouse_spark.materialize import (
        checkpoint_sized,
        sized,
    )

    df = (
        spark.range(100)
        .repartition(16)
        .select(F.col("id"), (F.col("id") * 2).alias("v"))
    )
    ck = checkpoint_sized(df, "test tiny")
    assert ck.rdd.getNumPartitions() == 1
    assert sorted((r.id, r.v) for r in ck.collect()) == [
        (i, 2 * i) for i in range(100)
    ]
    # explicit knob: 100 rows at 10 rows/task -> 10 partitions
    ck10 = checkpoint_sized(df, "test tiny", rows_per_task=10)
    assert ck10.rdd.getNumPartitions() == 10
    # sized clamps to [1, current]: never adds partitions
    base = spark.range(50).repartition(4).localCheckpoint(eager=True)
    assert sized(base, 10**9).rdd.getNumPartitions() == 4
    assert sized(base, 0).rdd.getNumPartitions() == 1
    # empty frame: still one partition, still collects empty
    empty = spark.range(0).repartition(8)
    cke = checkpoint_sized(empty, "test empty")
    assert cke.rdd.getNumPartitions() == 1 and cke.collect() == []


def test_observed_reads_pinned_private_chain(spark):
    """observed() polls PySpark's private Observation._jo.getRowOrEmpty;
    pinned on PySpark 4.1.2. On another version, re-check the chain
    below and move the pin."""
    import pyspark
    from pyspark.sql import Observation
    from pyspark.sql import functions as F

    from angelone_clickhouse_spark.materialize import observed

    assert pyspark.__version__ == "4.1.2", pyspark.__version__
    obs = Observation()
    spark.range(5).observe(obs, F.count(F.lit(1)).alias("n")).collect()
    assert obs._jo is not None
    assert obs._jo.getRowOrEmpty().isDefined()
    assert observed(obs) == {"n": 5}


def test_observed_unattached_fails_clearly():
    """An Observation never passed to DataFrame.observe has no JVM
    handle: observed() raises at once instead of an AttributeError on
    None or a bounded wait."""
    import pytest
    from pyspark.sql import Observation

    from angelone_clickhouse_spark.materialize import observed

    with pytest.raises(RuntimeError, match=r"obs\._jo is None"):
        observed(Observation(), "unattached", timeout_s=0.1)
