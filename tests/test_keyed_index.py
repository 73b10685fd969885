"""Physically keyed survivor-index storage (streaming/keyed_index.py
— VERDICT r11 weak #1): pruning soundness, plan-level partition
pruning, structural index-side join shape, and the measured per-epoch
read bound. The stream==batch / retry / restart contracts are covered
by test_docdedup.py / test_embdedup.py over the same writers."""

from __future__ import annotations

import os
from functools import partial

import pytest
from pyspark.sql import functions as F

from angelone_clickhouse_spark.plantree import (
    nodes_with_ancestors,
    scan_ancestors,
)
from angelone_clickhouse_spark.sources.tables import load_table
from angelone_clickhouse_spark.streaming.epoch_commit import (
    commit_epoch,
    make_epoch_writer,
)
from angelone_clickhouse_spark.streaming.keyed_index import (
    P_KEYED,
    checkpoint_with_pks,
    keyed_bytes,
    pk_of,
    pk_of_band,
    read_keyed,
)

_LSH = dict(planes=7, n_tables=4, n_flips=2)


@pytest.fixture()
def lsh_store(spark, sf_dir, tmp_path):
    """A keyed LSH survivor index built from two replay epochs, plus
    a tiny (2-vector) third batch — small enough that its probe keys
    hash into a strict subset of the partitions."""
    from angelone_clickhouse_spark.streaming.embdedup import semdedup_lsh_gate

    emb = load_table(spark, sf_dir, "embeddings")
    out_dir, index_dir = str(tmp_path / "v"), str(tmp_path / "idx")
    w = make_epoch_writer(partial(semdedup_lsh_gate, **_LSH), out_dir, index_dir)
    w(emb.filter(F.col("vec_id") % 4 == 0), 0)
    w(emb.filter(F.col("vec_id") % 4 == 1), 1)
    tiny = emb.filter(F.col("vec_id").isin([2, 6]))
    return index_dir, tiny


def _lsh_probe(tiny):
    """The tiny batch's celled vectors and the partitions its probe
    keys hash into, derived as the gate derives them."""
    from angelone_clickhouse_spark.streaming.embdedup import (
        _as_double_vecs,
        _probe_keys,
        _with_cells,
    )

    return checkpoint_with_pks(
        _with_cells(_as_double_vecs(tiny), _LSH["planes"], _LSH["n_tables"]),
        pk_arr=F.transform(
            _probe_keys(_LSH["planes"], _LSH["n_flips"]), lambda k: pk_of(k)
        ),
    )


def _lsh_epoch(spark, index_dir, tiny, full_store):
    """The keyed epoch of the tiny batch over its probe partitions
    (or, with ``full_store``, over every partition), and those
    partitions."""
    from angelone_clickhouse_spark.streaming.embdedup import (
        semdedup_lsh_epoch_keyed,
    )

    new_vec, pks = _lsh_probe(tiny)
    stored = read_keyed(
        spark,
        index_dir,
        "cell_key long, vec_id long, v array<double>",
        pks=None if full_store else pks,
    )
    verdicts, _ = semdedup_lsh_epoch_keyed(
        new_vec, stored, _LSH["planes"], _LSH["n_flips"]
    )
    return verdicts, pks


def test_lsh_pruned_epoch_equals_full_index_epoch(spark, lsh_store):
    """Pruning soundness, tested directly: the keyed epoch over the
    PRUNED partitions yields bit-identical verdicts to the keyed epoch
    over the FULL store — a survivor sharing no probed cell can never
    collide."""
    index_dir, tiny = lsh_store
    got, _ = _lsh_epoch(spark, index_dir, tiny, False)
    want, _ = _lsh_epoch(spark, index_dir, tiny, True)
    assert {tuple(r) for r in got.collect()} == {
        tuple(r) for r in want.collect()
    }


def test_lsh_epoch_scan_is_partition_pruned_and_broadcast_joined(
    spark, lsh_store
):
    """The physical half of the r10/r11 fix: (a) the index FileScan
    carries a PartitionFilters IN-set on pk — plan-time pruning to
    the epoch's candidate partitions; (b) structurally (plantree, not
    substring order), the scan's nearest join ancestor is a
    BroadcastHashJoin with NO Exchange and NO SortMergeJoin between —
    the index side never shuffles, even with auto-broadcast off."""
    index_dir, tiny = lsh_store
    old = spark.conf.get("spark.sql.autoBroadcastJoinThreshold")
    spark.conf.set("spark.sql.autoBroadcastJoinThreshold", "-1")
    try:
        verdicts, _ = _lsh_epoch(spark, index_dir, tiny, False)
        plan = verdicts._jdf.queryExecution().executedPlan().toString()
    finally:
        spark.conf.set("spark.sql.autoBroadcastJoinThreshold", old)
    chains = scan_ancestors(plan, os.path.basename(index_dir))
    assert len(chains) == 1, plan[:2000]
    anc = chains[0]
    scan_line = [
        t
        for t, _ in nodes_with_ancestors(plan)
        if "FileScan" in t and os.path.basename(index_dir) in t
    ][0]
    assert "PartitionFilters: [pk" in scan_line and (
        " INSET " in scan_line or " IN (" in scan_line
    ), scan_line
    # walk from the scan upward: the first join must be a broadcast
    # hash join, with no Exchange before it
    below_first_join = []
    first_join = None
    for node in reversed(anc):  # nearest ancestor first
        if "Join" in node:
            first_join = node
            break
        below_first_join.append(node)
    assert first_join is not None and "BroadcastHashJoin" in first_join, anc
    assert not any("Exchange" in n for n in below_first_join), anc
    # the only tolerated SMJ ancestor is the batch-sized final
    # verdict LeftOuter; an inner SMJ would mean the index shuffled
    assert not any(
        "SortMergeJoin" in n and "LeftOuter" not in n for n in anc
    ), anc


def test_lsh_epoch_read_bound_is_pruned_bytes(spark, lsh_store):
    """The measured claim: a small epoch's index read is bounded by
    its candidate partitions' bytes — a strict subset of the store.
    (At fixture scale a FULL replay epoch probes most partitions; the
    bound is the contract, and it tightens as key space grows with
    the corpus while a trigger's probe set stays fixed.)"""
    index_dir, tiny = lsh_store
    _, pks = _lsh_probe(tiny)
    assert 0 < len(pks) < P_KEYED
    pruned, total = keyed_bytes(index_dir, pks), keyed_bytes(index_dir)
    assert 0 < pruned < total, (pruned, total, len(pks))


@pytest.fixture()
def sig_store(spark, sf_dir, tmp_path):
    """A keyed signature index from two document replay epochs, plus
    a tiny 2-doc batch."""
    from angelone_clickhouse_spark.streaming.docdedup import dedup_docs_gate

    docs = load_table(spark, sf_dir, "documents")
    out_dir, index_dir = str(tmp_path / "v"), str(tmp_path / "idx")
    w = make_epoch_writer(dedup_docs_gate, out_dir, index_dir)
    w(docs.filter(F.col("doc_id") % 4 == 0), 0)
    w(docs.filter(F.col("doc_id") % 4 == 1), 1)
    tiny = docs.filter(F.col("doc_id").isin([2, 6]))
    return index_dir, tiny


def _doc_epoch(spark, index_dir, tiny, full_store):
    """The keyed epoch of the tiny batch over its band-key partitions
    (or, with ``full_store``, over every partition), and those
    partitions."""
    from angelone_clickhouse_spark.operators.dedup import (
        _band_keys,
        minhash_signatures,
    )
    from angelone_clickhouse_spark.streaming.docdedup import (
        KEYED_SIG_SCHEMA,
        dedup_epoch_keyed,
    )

    sig = minhash_signatures(tiny).localCheckpoint(eager=True)
    bn, pks = checkpoint_with_pks(_band_keys(sig), pk_col=pk_of_band())
    stored = read_keyed(
        spark, index_dir, KEYED_SIG_SCHEMA, pks=None if full_store else pks
    )
    verdicts, _ = dedup_epoch_keyed(tiny, sig, bn, stored)
    return verdicts, pks


def test_doc_pruned_epoch_equals_full_index_epoch(spark, sig_store):
    index_dir, tiny = sig_store
    got, _ = _doc_epoch(spark, index_dir, tiny, False)
    want, _ = _doc_epoch(spark, index_dir, tiny, True)
    assert {tuple(r) for r in got.collect()} == {
        tuple(r) for r in want.collect()
    }


def test_doc_epoch_scan_is_partition_pruned(spark, sig_store):
    from angelone_clickhouse_spark.plantree import nodes_with_ancestors

    index_dir, tiny = sig_store
    old = spark.conf.get("spark.sql.autoBroadcastJoinThreshold")
    spark.conf.set("spark.sql.autoBroadcastJoinThreshold", "-1")
    try:
        verdicts, pks = _doc_epoch(spark, index_dir, tiny, False)
        assert 0 < len(pks) < P_KEYED
        plan = verdicts._jdf.queryExecution().executedPlan().toString()
    finally:
        spark.conf.set("spark.sql.autoBroadcastJoinThreshold", old)
    scans = [
        (t, a)
        for t, a in nodes_with_ancestors(plan)
        if "FileScan" in t and os.path.basename(index_dir) in t
    ]
    assert len(scans) == 1, plan[:2000]
    scan_line, anc = scans[0]
    assert "PartitionFilters: [pk" in scan_line and (
        " INSET " in scan_line or " IN (" in scan_line
    ), scan_line
    below_first_join = []
    first_join = None
    for node in reversed(anc):
        if "Join" in node:
            first_join = node
            break
        below_first_join.append(node)
    assert first_join is not None and "BroadcastHashJoin" in first_join, anc
    assert not any("Exchange" in n for n in below_first_join), anc
    # measured read bound
    pruned, total = keyed_bytes(index_dir, pks), keyed_bytes(index_dir)
    assert 0 < pruned < total, (pruned, total, len(pks))


def test_lsh_retention_expires_old_survivors(spark, tmp_path):
    """Opt-in TTL (retention_epochs): survivors older than the window
    stop gating new arrivals — a duplicate of an EXPIRED survivor is
    kept (deliberately: a re-crawl after the window is new), while a
    duplicate of a retained survivor is still gated."""
    from angelone_clickhouse_spark.streaming.embdedup import (
        EMB_SCHEMA,
        read_lsh_index,
        semdedup_lsh_gate,
    )

    dim = 64
    e1 = [1.0] + [0.0] * (dim - 1)
    e2 = [0.0, 1.0] + [0.0] * (dim - 2)
    out_dir, index_dir = str(tmp_path / "v"), str(tmp_path / "idx")
    w = make_epoch_writer(
        partial(semdedup_lsh_gate, **_LSH), out_dir, index_dir, retention_epochs=1
    )
    mk = lambda rows: spark.createDataFrame(rows, EMB_SCHEMA)  # noqa: E731
    w(mk([(0, e1, 0)]), 0)
    w(mk([(10, e2, 0)]), 1)

    def _epoch2_verdicts():
        return {
            (r.vec_id, r.dup_of_index, r.keep)
            for r in spark.read.schema(
                "vec_id long, dup_of_index long, dup_of_batch long,"
                " keep boolean"
            )
            .parquet(out_dir)
            .collect()
            if r.vec_id >= 20
        }

    w(mk([(20, e1, 0), (21, e2, 0)]), 2)
    # 20 duplicates the EXPIRED epoch-0 survivor -> treated as new;
    # 21 duplicates the RETAINED epoch-1 survivor -> gated
    want = {(20, None, True), (21, 10, False)}
    assert _epoch2_verdicts() == want
    # expiry ran at epoch START, so the index now holds the retained
    # epoch-1 survivor plus epoch 2's kept vector, and epoch 0 is gone
    assert {
        r.vec_id for r in read_lsh_index(spark, index_dir).collect()
    } == {10, 20}
    # retry determinism: expire-before-read means a retried epoch sees
    # the same gating set the first attempt saw
    w(mk([(20, e1, 0), (21, e2, 0)]), 2)
    assert _epoch2_verdicts() == want


def test_doc_retention_expires_old_survivors(spark, tmp_path):
    """retention_epochs wiring on the document gate: an epoch-0
    survivor's exact copy arriving after the window is kept."""
    from angelone_clickhouse_spark.streaming.docdedup import (
        DOCS_SCHEMA,
        dedup_docs_gate,
        read_sig_index,
    )

    text_a = "alpha beta gamma delta epsilon zeta eta theta"
    text_b = "one two three four five six seven eight nine"
    mk = lambda rows: spark.createDataFrame(  # noqa: E731
        [(i, t, "en", "t", len(t)) for i, t in rows], DOCS_SCHEMA
    )
    out_dir, index_dir = str(tmp_path / "v"), str(tmp_path / "idx")
    w = make_epoch_writer(
        dedup_docs_gate, out_dir, index_dir, retention_epochs=1
    )
    w(mk([(0, text_a)]), 0)
    w(mk([(10, text_b)]), 1)
    w(mk([(20, text_a), (21, text_b)]), 2)
    verdicts = {
        (r.doc_id, r.dup_of_index, r.keep)
        for r in spark.read.schema(
            "doc_id long, dup_of_index long, dup_of_batch long,"
            " keep boolean"
        )
        .parquet(out_dir)
        .collect()
        if r.doc_id >= 20
    }
    assert verdicts == {(20, None, True), (21, 10, False)}
    assert {
        r.doc_id for r in read_sig_index(spark, index_dir).collect()
    } == {10, 20}


def test_novelty_retention_forgets_old_grams(spark, tmp_path):
    """retention_epochs wiring on the novelty scorer: grams seen only
    before the window count as novel again."""
    from angelone_clickhouse_spark.streaming.novelty import (
        novelty_gate,
        read_gram_index,
    )

    DOCS = "doc_id long, text string, lang string, source string, n_chars long"
    text_a = "alpha beta gamma delta epsilon"
    text_b = "one two three four five"
    mk = lambda rows: spark.createDataFrame(  # noqa: E731
        [(i, t, "en", "t", len(t)) for i, t in rows], DOCS
    )
    out_dir, index_dir = str(tmp_path / "v"), str(tmp_path / "idx")
    w = make_epoch_writer(
        novelty_gate, out_dir, index_dir, retention_epochs=1
    )
    w(mk([(0, text_a)]), 0)
    w(mk([(10, text_b)]), 1)
    w(mk([(20, text_a)]), 2)  # grams of epoch 0, now expired
    rows = {
        r.doc_id: (r.n_grams, r.n_novel)
        for r in spark.read.schema(
            "doc_id long, n_grams long, n_novel long, novelty_milli long"
        )
        .parquet(out_dir)
        .collect()
    }
    # doc 20 repeats doc 0's text, but those grams expired -> all novel
    assert rows[20][0] > 0 and rows[20] == (rows[0][0], rows[0][1])
    assert read_gram_index(spark, index_dir).count() > 0
    # epoch 0's files are physically gone from every partition dir
    import os as _os

    leftover = [
        n
        for d in _os.listdir(index_dir)
        if d.startswith("pk=")
        for n in _os.listdir(_os.path.join(index_dir, d))
        if n.startswith("e0-")
    ]
    assert leftover == []


def test_commit_epoch_two_sinks_one_job(spark, tmp_path):
    """commit_epoch with a flat and a keyed sink: one staging job must
    land BOTH sinks exactly as two separate commits would — flat rows
    under the epoch prefix, keyed rows in their pk partitions, the
    superset union's null-padded foreign columns invisible to each
    sink's explicit-schema reader, an empty keyed side handled, and a
    crashed attempt's files swept on retry."""
    from angelone_clickhouse_spark.streaming.keyed_index import PART_COL

    flat_dir, keyed_dir = str(tmp_path / "flat"), str(tmp_path / "keyed")
    flat = spark.createDataFrame(
        [(1, True), (2, False)], "doc_id long, keep boolean"
    )
    keyed = spark.createDataFrame(
        [(1, "a", 10), (2, "b", 11)], "doc_id long, tag string, h long"
    ).withColumn(PART_COL, pk_of(F.col("h")))
    commit_epoch(0, [(flat, flat_dir), (keyed, keyed_dir)])
    # flat sink: epoch-prefixed file, explicit-schema read sees ONLY
    # the flat columns
    files = os.listdir(flat_dir)
    assert files and all(f.startswith("e0-") for f in files)
    got_flat = sorted(
        (r.doc_id, r.keep)
        for r in spark.read.schema("doc_id long, keep boolean")
        .parquet(flat_dir)
        .collect()
    )
    assert got_flat == [(1, True), (2, False)]
    # keyed sink: hive partition dirs, epoch-prefixed files inside
    got_keyed = sorted(
        (r.doc_id, r.tag, r.h)
        for r in read_keyed(
            spark, keyed_dir, "doc_id long, tag string, h long"
        ).collect()
    )
    assert got_keyed == [(1, "a", 10), (2, "b", 11)]
    pdirs = [d for d in os.listdir(keyed_dir) if d.startswith(f"{PART_COL}=")]
    assert pdirs
    for d in pdirs:
        assert all(
            f.startswith("e0-")
            for f in os.listdir(os.path.join(keyed_dir, d))
        )
    # retry: re-committing the same epoch replaces, never duplicates
    commit_epoch(0, [(flat, flat_dir), (keyed, keyed_dir)])
    assert (
        spark.read.schema("doc_id long, keep boolean")
        .parquet(flat_dir)
        .count()
        == 2
    )
    assert (
        read_keyed(spark, keyed_dir, "doc_id long, tag string, h long")
        .count()
        == 2
    )
    # empty keyed side: flat still commits, keyed store untouched
    commit_epoch(
        1,
        [
            (
                spark.createDataFrame(
                    [(3, True)], "doc_id long, keep boolean"
                ),
                flat_dir,
            ),
            (keyed.limit(0), keyed_dir),
        ],
    )
    assert (
        spark.read.schema("doc_id long, keep boolean")
        .parquet(flat_dir)
        .count()
        == 3
    )
    assert (
        read_keyed(spark, keyed_dir, "doc_id long, tag string, h long")
        .count()
        == 2
    )
