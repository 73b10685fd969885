"""Streaming seen-gram novelty (streaming/novelty.py): stream ==
sequential-batch equivalence, retry idempotence, the index-is-a-set
invariant, and the short-doc edge."""

from __future__ import annotations

import os

from pyspark.sql import functions as F

from angelone_clickhouse_spark.streaming.epoch_commit import (
    N_STREAM_EPOCHS,
    make_epoch_writer,
    run_epochs,
    write_replay,
)
from angelone_clickhouse_spark.streaming.novelty import (
    GRAM_SCHEMA,
    novelty_epoch,
    novelty_gate,
    read_gram_index,
)


def novelty_docs_stream(spark, docs_dir, out_dir, index_dir, ckpt):
    writer = make_epoch_writer(novelty_gate, out_dir, index_dir)
    run_epochs(spark, "documents", docs_dir, writer, ckpt)


def _rows(df):
    return {
        (r.doc_id, r.n_grams, r.n_novel, r.novelty_milli)
        for r in df.collect()
    }


def _verdicts(spark, out_dir):
    return spark.read.schema(
        "doc_id long, n_grams long, n_novel long, novelty_milli long"
    ).parquet(out_dir)


def _sequential_replica(spark, sf_dir):
    from angelone_clickhouse_spark.sources.tables import load_table

    docs = load_table(spark, sf_dir, "documents")
    index = spark.createDataFrame([], GRAM_SCHEMA)
    out = set()
    for k in range(N_STREAM_EPOCHS):
        batch = docs.filter((F.col("doc_id") % N_STREAM_EPOCHS) == k)
        verdicts, new_grams = novelty_epoch(batch, index)
        out |= _rows(verdicts.localCheckpoint(eager=True))
        index = index.unionByName(
            new_grams.localCheckpoint(eager=True)
        ).localCheckpoint(eager=True)
    return out, index


def test_stream_equals_sequential_batch(spark, sf_dir, tmp_path):
    docs_dir = str(tmp_path / "in")
    write_replay(spark, sf_dir, "documents", docs_dir)
    out_dir, index_dir = str(tmp_path / "v"), str(tmp_path / "idx")
    novelty_docs_stream(
        spark, docs_dir, out_dir, index_dir, str(tmp_path / "ckpt")
    )
    got = _rows(_verdicts(spark, out_dir))
    want, want_index = _sequential_replica(spark, sf_dir)
    assert got == want
    # the persisted index is exactly the distinct seen-gram SET
    stream_index = [
        r.gram for r in read_gram_index(spark, index_dir).collect()
    ]
    assert len(stream_index) == len(set(stream_index))
    assert set(stream_index) == {r.gram for r in want_index.collect()}
    # every doc got exactly one verdict; both rate extremes occur
    n_docs = spark.read.parquet(docs_dir).count()
    assert len(got) == n_docs
    assert len({g[0] for g in got}) == n_docs
    assert any(g[3] == 1000 for g in got)
    assert any(g[3] is not None and g[3] < 1000 for g in got)


def test_epoch_retry_is_idempotent(spark, sf_dir, tmp_path):
    """Re-running an epoch must replace its own files in BOTH sinks —
    a doubled index append would undercount the next epoch's novelty
    only silently at the set level, but a doubled verdict file is an
    immediate row-count corruption."""
    docs_dir = str(tmp_path / "in")
    write_replay(spark, sf_dir, "documents", docs_dir)
    files = sorted(os.listdir(docs_dir))
    out_dir, index_dir = str(tmp_path / "v"), str(tmp_path / "idx")
    writer = make_epoch_writer(novelty_gate, out_dir, index_dir)

    def batch_of(name):
        return spark.read.parquet(os.path.join(docs_dir, name))

    writer(batch_of(files[0]), 0)
    once_v = _rows(_verdicts(spark, out_dir))
    once_i = {
        r.gram for r in read_gram_index(spark, index_dir).collect()
    }
    writer(batch_of(files[0]), 0)  # the retry
    assert _rows(_verdicts(spark, out_dir)) == once_v
    assert {
        r.gram for r in read_gram_index(spark, index_dir).collect()
    } == once_i
    writer(batch_of(files[1]), 1)
    assert _verdicts(spark, out_dir).count() == batch_of(
        files[0]
    ).count() + batch_of(files[1]).count()


def test_short_docs_scored_zero_not_indexed(spark):
    """Docs under NOVELTY_N words have no grams: n_grams 0, NULL
    rate, and nothing enters the index."""
    batch = spark.createDataFrame(
        [(1, "one two", "en", "t", 7), (2, "alpha beta gamma", "en", "t", 16)],
        "doc_id long, text string, lang string, source string, n_chars long",
    )
    index = spark.createDataFrame([], GRAM_SCHEMA)
    verdicts, new_grams = novelty_epoch(batch, index)
    got = _rows(verdicts)
    assert got == {(1, 0, 0, None), (2, 1, 1, 1000)}
    assert {r.gram for r in new_grams.collect()} == {"alpha beta gamma"}


def test_seen_gram_suppresses_novelty(spark):
    """A gram already in the index contributes to n_grams but never
    to n_novel, and is not re-appended."""
    batch = spark.createDataFrame(
        [(5, "alpha beta gamma delta", "en", "t", 22)],
        "doc_id long, text string, lang string, source string, n_chars long",
    )
    index = spark.createDataFrame([("alpha beta gamma",)], GRAM_SCHEMA)
    verdicts, new_grams = novelty_epoch(batch, index)
    assert _rows(verdicts) == {(5, 2, 1, 500)}
    assert {r.gram for r in new_grams.collect()} == {"beta gamma delta"}
