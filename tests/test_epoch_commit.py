"""Direct unit tests of the shared epoch committer
(streaming/epoch_commit.py) — the at-least-once contract tested on
the module itself, not just through the gates and the ingest sink
that use it."""

from __future__ import annotations

import os

from angelone_clickhouse_spark.streaming.epoch_commit import (
    commit_epoch,
    commit_epoch_partitioned,
    epoch_prefix,
    sweep_prefix,
    sweep_prefix_partitioned,
)


def _flat_rows(spark, d):
    return sorted(
        r.x for r in spark.read.schema("x long").parquet(d).collect()
    )


def test_flat_commit_retry_replaces_not_appends(spark, tmp_path):
    out = str(tmp_path / "ds")
    df0 = spark.createDataFrame([(1,), (2,)], "x long")
    commit_epoch(0, [(df0, out)])
    assert _flat_rows(spark, out) == [1, 2]
    # the retry recomputes (possibly different content) — it must
    # REPLACE epoch 0's files, never append beside them
    df0b = spark.createDataFrame([(1,), (2,), (3,)], "x long")
    commit_epoch(0, [(df0b, out)])
    assert _flat_rows(spark, out) == [1, 2, 3]
    # a second epoch coexists under its own prefix
    commit_epoch(1, [(spark.createDataFrame([(9,)], "x long"), out)])
    assert _flat_rows(spark, out) == [1, 2, 3, 9]
    names = os.listdir(out)
    assert sum(n.startswith(epoch_prefix(0)) for n in names) == 1
    assert sum(n.startswith(epoch_prefix(1)) for n in names) == 1


def test_flat_sweep_only_touches_its_epoch(spark, tmp_path):
    out = str(tmp_path / "ds")
    commit_epoch(0, [(spark.createDataFrame([(1,)], "x long"), out)])
    commit_epoch(1, [(spark.createDataFrame([(2,)], "x long"), out)])
    # e1- must not be swept by the e10- prefix or by e0's retry
    sweep_prefix(out, epoch_prefix(10))
    sweep_prefix(out, epoch_prefix(0))
    assert _flat_rows(spark, out) == [2]
    # sweeping a dataset dir that does not exist is a no-op
    sweep_prefix(str(tmp_path / "missing"), epoch_prefix(0))


def _stage_partitioned(spark, staging, rows):
    (
        spark.createDataFrame(rows, "x long, date string")
        .write.mode("overwrite")
        .partitionBy("date")
        .parquet(staging)
    )


def test_partitioned_commit_retry_replaces_per_partition(spark, tmp_path):
    out = str(tmp_path / "ds")
    stage = str(tmp_path / "stage0")
    _stage_partitioned(
        spark, stage, [(1, "2024-01-01"), (2, "2024-01-02")]
    )
    commit_epoch_partitioned(stage, out, 0)
    got = sorted(
        (r.x, r.date)
        for r in spark.read.schema("x long, date string").parquet(out).collect()
    )
    assert got == [(1, "2024-01-01"), (2, "2024-01-02")]
    # retry of epoch 0 lands in ONE partition only this time: its
    # files in BOTH partitions must be swept (the crashed attempt's
    # 01-02 file disappears), epoch 1's survive
    stage1 = str(tmp_path / "stage1")
    _stage_partitioned(spark, stage1, [(9, "2024-01-02")])
    commit_epoch_partitioned(stage1, out, 1)
    stage0b = str(tmp_path / "stage0b")
    _stage_partitioned(spark, stage0b, [(5, "2024-01-01")])
    commit_epoch_partitioned(stage0b, out, 0)
    got = sorted(
        (r.x, r.date)
        for r in spark.read.schema("x long, date string").parquet(out).collect()
    )
    assert got == [(5, "2024-01-01"), (9, "2024-01-02")]


def test_partitioned_sweep_ignores_foreign_dirs(spark, tmp_path):
    out = str(tmp_path / "ds")
    stage = str(tmp_path / "stage")
    _stage_partitioned(spark, stage, [(1, "2024-01-01")])
    commit_epoch_partitioned(stage, out, 0)
    # a non-partition directory (e.g. _spark_metadata) is untouched
    foreign = os.path.join(out, "_meta")
    os.makedirs(foreign)
    with open(os.path.join(foreign, "e0-marker"), "w") as f:
        f.write("keep")
    sweep_prefix_partitioned(out, epoch_prefix(0))
    assert os.path.exists(os.path.join(foreign, "e0-marker"))
    # while the real partition file IS swept
    day = os.path.join(out, "date=2024-01-01")
    assert not any(n.startswith("e0-") for n in os.listdir(day))


def test_commit_retry_replaces_every_sink(spark, tmp_path):
    """A retry with DIFFERENT contents fully replaces the epoch in
    every sink, flat and keyed, and leaves other epochs alone."""
    from angelone_clickhouse_spark.streaming.keyed_index import (
        PART_COL,
        pk_of,
        read_keyed,
    )

    flat, keyed = str(tmp_path / "flat"), str(tmp_path / "keyed")

    def sinks(n):
        df = spark.range(n).selectExpr("id AS k", "id * 2 AS v")
        return [(df, flat), (df.withColumn(PART_COL, pk_of("k")), keyed)]

    commit_epoch(7, sinks(100))
    commit_epoch(8, [(spark.range(1).selectExpr("-1 AS k", "0 AS v"), flat)])
    commit_epoch(7, sinks(5))
    got = {(r.k, r.v) for r in spark.read.schema("k long, v long").parquet(flat).collect()}
    assert got == {(i, 2 * i) for i in range(5)} | {(-1, 0)}
    got = {(r.k, r.v) for r in read_keyed(spark, keyed, "k long, v long").collect()}
    assert got == {(i, 2 * i) for i in range(5)}


def test_commit_empty_sink_keeps_dir_without_file(spark, tmp_path):
    """A sink with zero rows this epoch gets no epoch file, but its
    directory exists (readers scan the whole directory)."""
    out, other = str(tmp_path / "empty"), str(tmp_path / "other")
    commit_epoch(
        0,
        [
            (spark.createDataFrame([], "x long"), out),
            (spark.createDataFrame([(1,)], "x long"), other),
        ],
    )
    assert os.path.isdir(out) and os.listdir(out) == []
    assert spark.read.schema("x long").parquet(out).count() == 0
    assert _flat_rows(spark, other) == [1]


def test_commit_cleans_only_its_own_staging(spark, tmp_path):
    """The commit removes its own epoch-<id> staging dir and nothing
    else under any sink's .stage root (flat compaction journals there)."""
    from angelone_clickhouse_spark.streaming.keyed_index import PART_COL

    flat, keyed = str(tmp_path / "flat"), str(tmp_path / "keyed")
    markers = []
    for d in (flat, keyed):
        os.makedirs(d + ".stage")
        markers.append(os.path.join(d + ".stage", "foreign"))
        with open(markers[-1], "w") as f:
            f.write("keep")
    df = spark.createDataFrame([(1,), (2,)], "x long")
    commit_epoch(
        3, [(df, flat), (df.withColumn(PART_COL, df.x.cast("int")), keyed)]
    )
    assert all(os.path.exists(m) for m in markers)
    assert os.listdir(flat + ".stage") == ["foreign"]
    assert _flat_rows(spark, flat) == [1, 2]


def test_flat_sink_compaction_soak_bounded_files(spark, tmp_path):
    """20+ epochs through the flat committer with periodic
    compaction (VERDICT r10 #6): the live file count stays bounded,
    reader results are identical to the uncompacted twin at every
    step, and the newest epoch's files survive untouched (the retry
    contract)."""
    from angelone_clickhouse_spark.streaming.compaction import (
        compact_flat_epoch_sink,
    )

    out = str(tmp_path / "sink")
    plain = str(tmp_path / "plain")
    max_live = 0
    for e in range(22):
        df = spark.createDataFrame(
            [(e, i) for i in range(3)], "epoch int, i int"
        )
        commit_epoch(e, [(df, out)])
        commit_epoch(e, [(df, plain)])
        if e % 5 == 4:
            stats = compact_flat_epoch_sink(spark, out, keep_recent=1)
            assert stats is not None
            assert stats["files_after"] < stats["files_before"]
        live = [n for n in os.listdir(out) if n.endswith(".parquet")]
        max_live = max(max_live, len(live))
        got = {
            (r.epoch, r.i) for r in spark.read.parquet(out).collect()
        }
        want = {
            (r.epoch, r.i) for r in spark.read.parquet(plain).collect()
        }
        assert got == want
    # bounded: never more than one consolidated file + the epochs
    # committed since the last fold (5) — far below the 22 the plain
    # twin accumulates
    assert max_live <= 7
    assert len(os.listdir(plain)) >= 22
    # the newest epoch keeps its own files (sweepable on retry)
    assert any(n.startswith("e21-") for n in os.listdir(out))


def test_flat_compaction_crash_recovery(spark, tmp_path):
    """A marker written but only half-executed (some victims deleted,
    staged files not yet renamed in) must replay to the exact
    compacted state on the next maintenance call."""
    import json
    import shutil

    from angelone_clickhouse_spark.streaming.compaction import (
        recover_flat_compaction,
    )

    out = str(tmp_path / "sink")
    for e in range(3):
        commit_epoch(e, [(spark.createDataFrame([(e,)], "epoch int"), out)])
    victims = [
        n
        for n in os.listdir(out)
        if n.startswith(("e0-", "e1-")) and n.endswith(".parquet")
    ]
    # stage the fold by hand, then simulate a crash mid-swap
    stage = out + ".stage"
    tmp = os.path.join(stage, "compact")
    os.makedirs(tmp, exist_ok=True)
    job = os.path.join(tmp, "job")
    spark.read.parquet(
        *[os.path.join(out, n) for n in victims]
    ).coalesce(1).write.mode("overwrite").parquet(job)
    part = [n for n in os.listdir(job) if n.startswith("part-")][0]
    os.rename(os.path.join(job, part), os.path.join(tmp, "f0.parquet"))
    shutil.rmtree(job)
    with open(os.path.join(stage, "compact.commit"), "w") as f:
        json.dump(
            {"remove": victims, "add": {"f0.parquet": "c-1-0.parquet"}}, f
        )
    os.remove(os.path.join(out, victims[0]))  # the crash point
    assert recover_flat_compaction(out)
    got = sorted(r.epoch for r in spark.read.parquet(out).collect())
    assert got == [0, 1, 2]
    names = os.listdir(out)
    assert "c-1-0.parquet" in names
    assert not any(n in names for n in victims)
    # idempotent: a second recovery call is a no-op
    assert not recover_flat_compaction(out)
