"""Streaming survivor-index embedding dedup (streaming/embdedup.py):
stream == sequential-batch equivalence (a driver-side loop for the
exact gate, the epoch-unrolled DuckDB oracle for the LSH gate), retry
idempotence, restart resume, and a planted-duplicate sanity check.
Mirrors tests/test_docdedup.py — same contract, cosine instead of
MinHash."""

from __future__ import annotations

import os
import shutil

from pyspark.sql import functions as F

from angelone_clickhouse_spark.streaming.embdedup import (
    EMB_SCHEMA,
    INDEX_SCHEMA,
    VERDICT_SCHEMA,
    read_vec_index,
    semdedup_epoch,
    semdedup_gate,
)
from angelone_clickhouse_spark.streaming.epoch_commit import (
    N_STREAM_EPOCHS,
    make_epoch_writer,
    run_epochs,
    write_replay,
)


def semdedup_stream(spark, emb_dir, out_dir, index_dir, ckpt):
    writer = make_epoch_writer(semdedup_gate, out_dir, index_dir)
    run_epochs(spark, "embeddings", emb_dir, writer, ckpt)


def _rows(df):
    return {
        (r.vec_id, r.dup_of_index, r.dup_of_batch, r.keep)
        for r in df.collect()
    }


def _verdicts(spark, out_dir):
    return spark.read.schema(VERDICT_SCHEMA).parquet(out_dir)


def _index_rows(spark, index_dir):
    return {
        (r.vec_id, tuple(r.v))
        for r in read_vec_index(spark, index_dir).collect()
    }


def _sequential_replica(spark, sf_dir):
    """The stream's semantics as a driver-side loop over batch jobs:
    epoch k's vectors vs the accumulated kept-vector index."""
    from angelone_clickhouse_spark.sources.tables import load_table

    emb = load_table(spark, sf_dir, "embeddings")
    index = spark.createDataFrame([], INDEX_SCHEMA)
    out = set()
    for k in range(N_STREAM_EPOCHS):
        batch = emb.filter((F.col("vec_id") % N_STREAM_EPOCHS) == k)
        verdicts, kept = semdedup_epoch(batch, index)
        verdicts = verdicts.localCheckpoint(eager=True)
        out |= _rows(verdicts)
        index = index.unionByName(
            kept.localCheckpoint(eager=True)
        ).localCheckpoint(eager=True)
    return out, index


def test_stream_equals_sequential_batch(spark, sf_dir, tmp_path):
    emb_dir = str(tmp_path / "in")
    write_replay(spark, sf_dir, "embeddings", emb_dir)
    out_dir, index_dir = str(tmp_path / "v"), str(tmp_path / "idx")
    semdedup_stream(
        spark, emb_dir, out_dir, index_dir, str(tmp_path / "ckpt")
    )
    got = _rows(_verdicts(spark, out_dir))
    want, want_index = _sequential_replica(spark, sf_dir)
    assert got == want
    assert _index_rows(spark, index_dir) == {
        (r.vec_id, tuple(r.v)) for r in want_index.collect()
    }
    n_vec = spark.read.parquet(emb_dir).count()
    assert len(got) == n_vec
    assert len({g[0] for g in got}) == n_vec
    # non-degenerate: the gate must both keep and drop something
    assert any(g[3] for g in got) and any(not g[3] for g in got)


def test_epoch_retry_is_idempotent(spark, sf_dir, tmp_path):
    """foreachBatch is at-least-once: re-running an epoch must
    replace its own files, not append duplicates — including the
    index, whose partial append would poison the NEXT epoch."""
    emb_dir = str(tmp_path / "in")
    write_replay(spark, sf_dir, "embeddings", emb_dir)
    files = sorted(os.listdir(emb_dir))
    out_dir, index_dir = str(tmp_path / "v"), str(tmp_path / "idx")
    writer = make_epoch_writer(semdedup_gate, out_dir, index_dir)

    def batch_of(name):
        return spark.read.schema(EMB_SCHEMA).parquet(
            os.path.join(emb_dir, name)
        )

    writer(batch_of(files[0]), 0)
    once_v = _rows(_verdicts(spark, out_dir))
    once_i = _index_rows(spark, index_dir)
    writer(batch_of(files[0]), 0)  # the retry
    assert _rows(_verdicts(spark, out_dir)) == once_v
    assert _index_rows(spark, index_dir) == once_i
    writer(batch_of(files[1]), 1)  # next epoch still sees a clean index
    assert len(_verdicts(spark, out_dir).collect()) == batch_of(
        files[0]
    ).count() + batch_of(files[1]).count()


def test_restart_resumes_from_checkpoint(spark, sf_dir, tmp_path):
    """Stop after the first two epochs, add the rest, re-run with the
    same checkpoint: final state equals one uninterrupted run."""
    full_dir = str(tmp_path / "all")
    write_replay(spark, sf_dir, "embeddings", full_dir)
    files = sorted(os.listdir(full_dir))
    emb_dir = str(tmp_path / "in")
    os.makedirs(emb_dir)
    for name in files[:2]:
        shutil.copy2(
            os.path.join(full_dir, name), os.path.join(emb_dir, name)
        )
    out_dir, index_dir = str(tmp_path / "v"), str(tmp_path / "idx")
    ckpt = str(tmp_path / "ckpt")
    semdedup_stream(spark, emb_dir, out_dir, index_dir, ckpt)
    assert len(_rows(_verdicts(spark, out_dir))) == spark.read.parquet(
        emb_dir
    ).count()
    for name in files[2:]:
        shutil.copy2(
            os.path.join(full_dir, name), os.path.join(emb_dir, name)
        )
    semdedup_stream(spark, emb_dir, out_dir, index_dir, ckpt)
    got = _rows(_verdicts(spark, out_dir))
    want, _ = _sequential_replica(spark, sf_dir)
    assert got == want


def test_planted_duplicates_gated(spark):
    """A vector identical to an indexed survivor is a dup_of_index; a
    within-batch copy of a new vector is a dup_of_batch pointing at
    the smaller id; an orthogonal vector is kept."""
    dim = 4
    e1 = [1.0, 0.0, 0.0, 0.0]
    e2 = [0.0, 1.0, 0.0, 0.0]
    index = spark.createDataFrame([(0, e1)], INDEX_SCHEMA)
    batch = spark.createDataFrame(
        [
            (10, [float(x) for x in e1], 0),  # copy of indexed 0
            (11, [float(x) for x in e2], 0),  # novel
            (12, [float(x) for x in e2], 0),  # copy of 11 (same batch)
        ],
        EMB_SCHEMA,
    )
    verdicts, kept = semdedup_epoch(batch, index)
    got = _rows(verdicts)
    assert got == {
        (10, 0, None, False),
        (11, None, None, True),
        (12, None, 11, False),
    }
    assert {r.vec_id for r in kept.collect()} == {11}


# --- LSH-fronted gate (stream_semdedup_lsh) --------------------------

from functools import partial  # noqa: E402

from angelone_clickhouse_spark.streaming.embdedup import (  # noqa: E402
    ORACLES,
    _as_double_vecs,
    _keyed_lsh_rows,
    _probe_keys,
    _with_cells,
    read_lsh_index,
    semdedup_lsh_epoch_keyed,
    semdedup_lsh_gate,
)
from angelone_clickhouse_spark.streaming.keyed_index import (  # noqa: E402
    PART_COL,
    keyed_pairs,
)

_LSH = dict(planes=7, n_tables=4, n_flips=2)


def semdedup_lsh_stream(spark, emb_dir, out_dir, index_dir, ckpt, planes):
    from angelone_clickhouse_spark.operators.embedding_fast import (
        KNN_ANN_FLIPS,
        KNN_ANN_TABLES,
    )

    gate = partial(
        semdedup_lsh_gate,
        planes=planes,
        n_tables=KNN_ANN_TABLES,
        n_flips=KNN_ANN_FLIPS,
    )
    writer = make_epoch_writer(gate, out_dir, index_dir)
    run_epochs(spark, "embeddings", emb_dir, writer, ckpt)


def _lsh_oracle(oracle_rows, sf_dir):
    """The LSH stream's semantics as the DuckDB oracle: same cells,
    same epochs, same exact verify."""
    return oracle_rows(sf_dir, ORACLES["stream_semdedup_lsh"])


def test_lsh_stream_equals_sequential_batch(
    spark, sf_dir, tmp_path, oracle_rows
):
    from angelone_clickhouse_spark.operators.embedding_fast import (
        KNN_ANN_TABLES,
        _adaptive_planes,
    )
    from angelone_clickhouse_spark.sources.tables import load_table

    emb_dir = str(tmp_path / "in")
    write_replay(spark, sf_dir, "embeddings", emb_dir)
    planes = _adaptive_planes(load_table(spark, sf_dir, "embeddings").count())
    out_dir, index_dir = str(tmp_path / "v"), str(tmp_path / "idx")
    semdedup_lsh_stream(
        spark, emb_dir, out_dir, index_dir, str(tmp_path / "ckpt"), planes
    )
    got = _rows(_verdicts(spark, out_dir))
    want = _lsh_oracle(oracle_rows, sf_dir)
    assert got == want
    # the persisted index is exactly the kept vectors with their cells
    kept = [w[0] for w in want if w[3]]
    want_index = _with_cells(
        _as_double_vecs(
            load_table(spark, sf_dir, "embeddings").filter(
                F.col("vec_id").isin(kept)
            )
        ),
        planes,
        KNN_ANN_TABLES,
    )
    got_idx = {
        (r.vec_id, tuple(r.v), tuple(r.cells))
        for r in read_lsh_index(spark, index_dir).collect()
    }
    assert got_idx == {
        (r.vec_id, tuple(r.v), tuple(r.cells))
        for r in want_index.collect()
    }
    n_vec = spark.read.parquet(emb_dir).count()
    assert len(got) == n_vec and len({g[0] for g in got}) == n_vec
    assert any(g[3] for g in got) and any(not g[3] for g in got)


def test_lsh_gate_is_superset_filtered_exact_gate(spark, sf_dir, oracle_rows):
    """Containment contract vs the exact gate: every LSH-gate dup
    verdict is also an exact-gate dup at the same threshold (the LSH
    front only ever REMOVES candidate pairs), and every exact keep
    stays a keep under LSH."""
    exact, _ = _sequential_replica(spark, sf_dir)
    lsh = _lsh_oracle(oracle_rows, sf_dir)
    exact_by_id = {r[0]: r for r in exact}
    for vec_id, dup_idx, dup_batch, keep in lsh:
        e = exact_by_id[vec_id]
        if not keep:
            # an LSH dup must be an exact dup too (possibly of a
            # different, smaller-qualifying id under the full scan)
            assert not e[3]
        if e[3]:
            assert keep


def test_lsh_epoch_retry_is_idempotent(spark, sf_dir, tmp_path):
    emb_dir = str(tmp_path / "in")
    write_replay(spark, sf_dir, "embeddings", emb_dir)
    files = sorted(os.listdir(emb_dir))
    out_dir, index_dir = str(tmp_path / "v"), str(tmp_path / "idx")
    writer = make_epoch_writer(
        partial(semdedup_lsh_gate, **_LSH), out_dir, index_dir
    )

    def batch_of(name):
        return spark.read.schema(EMB_SCHEMA).parquet(
            os.path.join(emb_dir, name)
        )

    writer(batch_of(files[0]), 0)
    once_v = _rows(_verdicts(spark, out_dir))
    once_i = {
        (r.vec_id, tuple(r.v), tuple(r.cells))
        for r in read_lsh_index(spark, index_dir).collect()
    }
    writer(batch_of(files[0]), 0)  # the retry
    assert _rows(_verdicts(spark, out_dir)) == once_v
    assert {
        (r.vec_id, tuple(r.v), tuple(r.cells))
        for r in read_lsh_index(spark, index_dir).collect()
    } == once_i
    writer(batch_of(files[1]), 1)
    assert len(_verdicts(spark, out_dir).collect()) == batch_of(
        files[0]
    ).count() + batch_of(files[1]).count()


def test_lsh_restart_resumes_from_checkpoint(
    spark, sf_dir, tmp_path, oracle_rows
):
    from angelone_clickhouse_spark.operators.embedding_fast import (
        _adaptive_planes,
    )
    from angelone_clickhouse_spark.sources.tables import load_table

    full_dir = str(tmp_path / "all")
    write_replay(spark, sf_dir, "embeddings", full_dir)
    planes = _adaptive_planes(load_table(spark, sf_dir, "embeddings").count())
    files = sorted(os.listdir(full_dir))
    emb_dir = str(tmp_path / "in")
    os.makedirs(emb_dir)
    for name in files[:2]:
        shutil.copy2(
            os.path.join(full_dir, name), os.path.join(emb_dir, name)
        )
    out_dir, index_dir = str(tmp_path / "v"), str(tmp_path / "idx")
    ckpt = str(tmp_path / "ckpt")
    semdedup_lsh_stream(spark, emb_dir, out_dir, index_dir, ckpt, planes)
    for name in files[2:]:
        shutil.copy2(
            os.path.join(full_dir, name), os.path.join(emb_dir, name)
        )
    semdedup_lsh_stream(spark, emb_dir, out_dir, index_dir, ckpt, planes)
    assert _rows(_verdicts(spark, out_dir)) == _lsh_oracle(oracle_rows, sf_dir)


def _celled(spark, rows):
    return _with_cells(
        spark.createDataFrame(rows, "vec_id long, v array<double>"),
        _LSH["planes"],
        _LSH["n_tables"],
    )


def test_lsh_planted_duplicates_gated(spark):
    """Identical vectors always share every LSH cell (same sign
    pattern on every hyperplane), so exact copies are gated exactly
    like the full-scan gate; an orthogonal vector is kept."""
    dim = 64
    e1 = [1.0] + [0.0] * (dim - 1)
    e2 = [0.0, 1.0] + [0.0] * (dim - 2)
    stored = _keyed_lsh_rows(_celled(spark, [(0, e1)])).drop(PART_COL)
    new_vec = _celled(spark, [(10, e1), (11, e2), (12, e2)])
    verdicts, kept = semdedup_lsh_epoch_keyed(
        new_vec, stored, _LSH["planes"], _LSH["n_flips"]
    )
    got = _rows(verdicts)
    assert got == {
        (10, 0, None, False),
        (11, None, None, True),
        (12, None, 11, False),
    }
    assert {r.vec_id for r in kept.collect()} == {11}


def test_lsh_probe_volume_sublinear_in_index(spark, sf_dir):
    """The scale claim: the verify tail runs on LSH-collided pairs
    only — the keyed candidate join's volume (unverified) is a small
    fraction of |index| x |batch| (what the full-scan gate matmuls
    every epoch)."""
    from angelone_clickhouse_spark.operators.embedding_fast import (
        KNN_ANN_FLIPS,
        KNN_ANN_TABLES,
        _adaptive_planes,
    )
    from angelone_clickhouse_spark.sources.tables import load_table

    emb = load_table(spark, sf_dir, "embeddings")
    planes = _adaptive_planes(emb.count())
    half = emb.count() // 2
    index = _with_cells(
        _as_double_vecs(emb.filter(F.col("vec_id") < half)),
        planes,
        KNN_ANN_TABLES,
    )
    batch = _with_cells(
        _as_double_vecs(emb.filter(F.col("vec_id") >= half)),
        planes,
        KNN_ANN_TABLES,
    )
    probe = batch.select(
        "vec_id",
        F.explode(_probe_keys(planes, KNN_ANN_FLIPS)).alias("cell_key"),
    ).dropDuplicates(["vec_id", "cell_key"])
    stored = _keyed_lsh_rows(index).select(
        "cell_key", F.col("vec_id").alias("other_id")
    )
    n_cand = (
        keyed_pairs(
            probe,
            stored,
            stored.limit(0),
            batch.select("vec_id"),
            ["cell_key"],
            "vec_id",
            F.lit(True),
        )
        .select("vec_id", "other_id")
        .distinct()
        .count()
    )
    full = index.count() * batch.count()
    assert 0 < n_cand < 0.5 * full, (n_cand, full)
