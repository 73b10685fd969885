"""Spark jobs per epoch of every stream-gate writer, pinned: each gate's
writer is called directly for two epochs on a small frame (as the retry
tests do), and the jobs each epoch ran are counted through a job group.
A refactor of the gate machinery must not add (or silently drop) a job.

Counted with adaptive execution off: AQE submits every shuffle stage as
a job of its own and, when one join side comes back empty, skips the
stages it has not yet submitted, so its count races (the exact
embedding gate's first epoch ran 13, 14 or 16 jobs). Without AQE a
job is an action or a broadcast, and the count is exact."""

from __future__ import annotations

import time
import uuid

import pytest
from pyspark.sql import functions as F

from angelone_clickhouse_spark.sources.tables import load_table

_LSH = dict(planes=7, n_tables=4, n_flips=2)

# jobs run by epoch 0 (empty index) and epoch 1 (index from epoch 0)
PINNED = {
    "stream_dedup_docs": [13, 13],
    "stream_novelty_docs": [4, 6],
    "stream_semdedup": [4, 8],
    "stream_semdedup_lsh": [8, 8],
    "stream_token_cms": [1, 1],
}


def _writer(gate, d):
    from functools import partial

    from angelone_clickhouse_spark.streaming import docdedup, embdedup, novelty, sketch
    from angelone_clickhouse_spark.streaming.epoch_commit import make_epoch_writer

    out, idx = f"{d}/verdicts", f"{d}/index"
    epoch_fn = {
        "stream_dedup_docs": docdedup.dedup_docs_gate,
        "stream_novelty_docs": novelty.novelty_gate,
        "stream_semdedup": embdedup.semdedup_gate,
        "stream_semdedup_lsh": partial(embdedup.semdedup_lsh_gate, **_LSH),
    }.get(gate)
    if epoch_fn is None:
        return make_epoch_writer(sketch.cms_epoch, f"{d}/cells")
    return make_epoch_writer(epoch_fn, out, idx)


def _batches(spark, sf_dir, gate):
    """Two small epochs of the gate's input table: ids 0..39 by parity."""
    table, key = (
        ("embeddings", "vec_id")
        if gate.startswith("stream_semdedup")
        else ("documents", "doc_id")
    )
    df = load_table(spark, sf_dir, table).filter(F.col(key) < 40)
    return [df.filter(F.col(key) % 2 == k).localCheckpoint(eager=True) for k in (0, 1)]


def _jobs_of(spark, fn) -> int:
    """Jobs ``fn`` ran, counted by job group once the status store has
    stopped changing (listener events arrive asynchronously)."""
    sc = spark.sparkContext
    group = f"gate-jobs-{uuid.uuid4().hex}"
    sc.setJobGroup(group, group)
    try:
        fn()
    finally:
        sc.setLocalProperty("spark.jobGroup.id", None)
        sc.setLocalProperty("spark.job.description", None)
    tracker, seen = sc.statusTracker(), -1
    deadline = time.monotonic() + 10
    while time.monotonic() < deadline:
        n = len(tracker.getJobIdsForGroup(group))
        if n == seen:
            return n
        seen = n
        time.sleep(0.3)
    return seen


@pytest.mark.parametrize("gate", sorted(PINNED))
def test_gate_writer_jobs_per_epoch_pinned(spark, sf_dir, tmp_path, gate):
    batches = _batches(spark, sf_dir, gate)
    writer = _writer(gate, str(tmp_path))
    aqe = spark.conf.get("spark.sql.adaptive.enabled")
    spark.conf.set("spark.sql.adaptive.enabled", "false")
    try:
        got = [_jobs_of(spark, lambda: writer(b, e)) for e, b in enumerate(batches)]
    finally:
        spark.conf.set("spark.sql.adaptive.enabled", aqe)
    assert got == PINNED[gate], (gate, got)
