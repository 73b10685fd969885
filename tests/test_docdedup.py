"""Streaming survivor-index document dedup (streaming/docdedup.py):
stream == epoch-unrolled batch oracle, retry idempotence, restart
resume, and the short-doc edge."""

from __future__ import annotations

import os
import shutil

from pyspark.sql import functions as F

from angelone_clickhouse_spark.streaming.docdedup import (
    ORACLES,
    dedup_docs_gate,
    read_sig_index,
)
from angelone_clickhouse_spark.streaming.epoch_commit import (
    make_epoch_writer,
    run_epochs,
    write_replay,
)


def dedup_docs_stream(spark, docs_dir, out_dir, index_dir, ckpt):
    writer = make_epoch_writer(dedup_docs_gate, out_dir, index_dir)
    run_epochs(spark, "documents", docs_dir, writer, ckpt)


def _rows(df):
    return {
        (r.doc_id, r.dup_of_index, r.dup_of_batch, r.keep)
        for r in df.collect()
    }


def _verdicts(spark, out_dir):
    return spark.read.schema(
        "doc_id long, dup_of_index long, dup_of_batch long, keep boolean"
    ).parquet(out_dir)


def _oracle(oracle_rows, sf_dir):
    """The stream's semantics as the DuckDB oracle: every epoch's
    verdicts against the survivors of the epochs before it."""
    return oracle_rows(sf_dir, ORACLES["stream_dedup_docs"])


def test_stream_equals_sequential_batch(spark, sf_dir, tmp_path, oracle_rows):
    from angelone_clickhouse_spark.operators.dedup import minhash_signatures
    from angelone_clickhouse_spark.sources.tables import load_table

    docs_dir = str(tmp_path / "in")
    write_replay(spark, sf_dir, "documents", docs_dir)
    out_dir, index_dir = str(tmp_path / "v"), str(tmp_path / "idx")
    dedup_docs_stream(
        spark, docs_dir, out_dir, index_dir, str(tmp_path / "ckpt")
    )
    got = _rows(_verdicts(spark, out_dir))
    want = _oracle(oracle_rows, sf_dir)
    assert got == want
    # the persisted index is exactly the kept docs' signatures
    kept = [w[0] for w in want if w[3]]
    want_index = minhash_signatures(load_table(spark, sf_dir, "documents"))
    stream_index = {
        tuple(r) for r in read_sig_index(spark, index_dir).collect()
    }
    assert stream_index == {
        tuple(r) for r in want_index.filter(F.col("doc_id").isin(kept)).collect()
    }
    # every doc got exactly one verdict
    n_docs = spark.read.parquet(docs_dir).count()
    assert len(got) == n_docs
    assert len({g[0] for g in got}) == n_docs


def test_epoch_retry_is_idempotent(spark, sf_dir, tmp_path):
    """foreachBatch is at-least-once: re-running an epoch (crash
    between sink commit and streaming commit log) must replace its
    own files, not append duplicates — including the index, whose
    partial append would otherwise poison the NEXT epoch's matches."""
    docs_dir = str(tmp_path / "in")
    write_replay(spark, sf_dir, "documents", docs_dir)
    files = sorted(os.listdir(docs_dir))
    out_dir, index_dir = str(tmp_path / "v"), str(tmp_path / "idx")
    writer = make_epoch_writer(dedup_docs_gate, out_dir, index_dir)

    def batch_of(name):
        return spark.read.parquet(os.path.join(docs_dir, name))

    writer(batch_of(files[0]), 0)
    once_v = _rows(_verdicts(spark, out_dir))
    once_i = {tuple(r) for r in read_sig_index(spark, index_dir).collect()}
    writer(batch_of(files[0]), 0)  # the retry
    assert _rows(_verdicts(spark, out_dir)) == once_v
    assert {
        tuple(r) for r in read_sig_index(spark, index_dir).collect()
    } == once_i
    writer(batch_of(files[1]), 1)  # next epoch still sees a clean index
    assert len(_verdicts(spark, out_dir).collect()) == batch_of(
        files[0]
    ).count() + batch_of(files[1]).count()


def test_restart_resumes_from_checkpoint(spark, sf_dir, tmp_path, oracle_rows):
    """Stop after the first two epochs (only their files exist), then
    add the rest and re-run with the same checkpoint: the final state
    must equal a single uninterrupted run."""
    full_dir = str(tmp_path / "all")
    write_replay(spark, sf_dir, "documents", full_dir)
    files = sorted(os.listdir(full_dir))
    docs_dir = str(tmp_path / "in")
    os.makedirs(docs_dir)
    for name in files[:2]:
        shutil.copy2(os.path.join(full_dir, name), os.path.join(docs_dir, name))
    out_dir, index_dir = str(tmp_path / "v"), str(tmp_path / "idx")
    ckpt = str(tmp_path / "ckpt")
    dedup_docs_stream(spark, docs_dir, out_dir, index_dir, ckpt)
    assert len(_rows(_verdicts(spark, out_dir))) == spark.read.parquet(
        docs_dir
    ).count()
    for name in files[2:]:
        shutil.copy2(os.path.join(full_dir, name), os.path.join(docs_dir, name))
    dedup_docs_stream(spark, docs_dir, out_dir, index_dir, ckpt)
    assert _rows(_verdicts(spark, out_dir)) == _oracle(oracle_rows, sf_dir)


def test_short_docs_kept_but_not_indexed(spark, tmp_path):
    """Docs under 3 words have no signature: trivially kept, absent
    from the index, and never matched by later epochs."""
    batch = spark.createDataFrame(
        [(1, "one two", "en", "t", 7), (2, "one two", "en", "t", 7)],
        "doc_id long, text string, lang string, source string, n_chars long",
    )
    verdicts, kept = dedup_docs_gate(batch, str(tmp_path / "idx"))
    got = _rows(verdicts)
    assert got == {(1, None, None, True), (2, None, None, True)}
    assert kept.count() == 0
