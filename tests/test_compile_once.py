"""Fixed per-call cost paid once: a warm operator call compiles no new
classes (the engine session's codegen cache holds the working set), and
``load_table`` reads with the declared schema, running no Spark job and
checking each file's footer once per version of the file."""

from __future__ import annotations

import os
import time
import uuid

import pyarrow as pa
import pyarrow.parquet as pq
import pytest

from angelone_clickhouse_spark import SCHEMAS, TABLES
from angelone_clickhouse_spark.session import codegen_compiles
from angelone_clickhouse_spark.sources.tables import load_table


@pytest.mark.parametrize("op", ["dedup_ngram_jaccard", "bpe_encode", "pipeline_e2e"])
def test_warm_call_compiles_no_new_classes(spark, sf_dir, op):
    import __spark_entry__

    fn = __spark_entry__.queries()[op]
    fn(spark, sf_dir).collect()
    before = codegen_compiles(spark)
    fn(spark, sf_dir).collect()
    assert codegen_compiles(spark) - before == 0


def test_load_table_runs_no_job(spark, sf_dir):
    sc = spark.sparkContext
    group = f"load-table-{uuid.uuid4().hex}"
    sc.setJobGroup(group, group)
    try:
        frames = [load_table(spark, sf_dir, t) for t in TABLES]
    finally:
        sc.setLocalProperty("spark.jobGroup.id", None)
        sc.setLocalProperty("spark.job.description", None)
    time.sleep(0.5)  # listener events arrive asynchronously
    assert sc.statusTracker().getJobIdsForGroup(group) == []
    assert [f.schema for f in frames] == [SCHEMAS[t] for t in TABLES]


def _documents(doc_id_type=pa.int64(), n=5) -> pa.Table:
    return pa.table(
        {
            "doc_id": pa.array(range(n), doc_id_type),
            "text": [f"doc {i} text" for i in range(n)],
            "lang": ["en"] * n,
            "source": ["s"] * n,
            "n_chars": pa.array([10] * n, pa.int64()),
        }
    )


def test_declared_type_mismatch_raises(spark, tmp_path):
    pq.write_table(_documents(pa.int32()), tmp_path / "documents.parquet")
    with pytest.raises(ValueError, match="'doc_id' is int32, declared bigint"):
        load_table(spark, str(tmp_path), "documents")


def test_missing_and_extra_columns_raise(spark, tmp_path):
    pq.write_table(
        _documents().drop(["lang"]).append_column("extra", pa.array([1] * 5)),
        tmp_path / "documents.parquet",
    )
    with pytest.raises(ValueError, match="extra column 'extra'.*missing column 'lang'"):
        load_table(spark, str(tmp_path), "documents")


def test_rewritten_file_is_checked_again(spark, tmp_path):
    path = tmp_path / "documents.parquet"
    pq.write_table(_documents(), path)
    assert load_table(spark, str(tmp_path), "documents").count() == 5
    pq.write_table(_documents(pa.int32(), n=7), path)
    with pytest.raises(ValueError, match="'doc_id' is int32"):
        load_table(spark, str(tmp_path), "documents")
    pq.write_table(_documents(n=7), path)
    assert load_table(spark, str(tmp_path), "documents").count() == 7


def test_nanos_timestamps_read_as_declared_type(spark, tmp_path):
    """A TIMESTAMP(NANOS) column comes back as its declared type,
    truncated to microseconds, also in a session that lacks the
    nanos-as-long conf (a plain session)."""
    ts_ns = [1_704_067_200_123_456_789, 1_704_067_201_000_000_999]
    pq.write_table(
        pa.table(
            {
                "event_id": pa.array([1, 2], pa.int64()),
                "ts": pa.array(ts_ns, pa.timestamp("ns")),
                "user_id": pa.array([7, 8], pa.int64()),
                "event_type": ["click", "view"],
                "value": [1.5, 2.5],
                "props": ["{}", "{}"],
            }
        ),
        os.path.join(tmp_path, "events.parquet"),
    )
    key = "spark.sql.legacy.parquet.nanosAsLong"
    was = spark.conf.get(key)
    spark.conf.unset(key)
    try:
        df = load_table(spark, str(tmp_path), "events")
        assert spark.conf.get(key) == "true"
        assert df.schema == SCHEMAS["events"]
        got = [r.ts for r in df.orderBy("event_id").collect()]
    finally:
        spark.conf.set(key, was)
    want = pa.array([t // 1000 for t in ts_ns], pa.timestamp("us")).to_pylist()
    assert got == want
