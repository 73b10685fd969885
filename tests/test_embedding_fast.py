from __future__ import annotations

import pyspark.sql
import pytest
from pyspark.sql import functions as F

from angelone_clickhouse_spark.operators import embedding_fast
from angelone_clickhouse_spark.operators.dedup import dedup_embedding
from angelone_clickhouse_spark.operators.similarity import N_QUERIES, ann_topk_cosine



def _assert_probe_side_only_exchange(plan: str) -> None:
    """Structural form of the zero-corpus-side-Exchange claim
    (ADVICE r11: the old substring-order check passed whenever a
    Generate occurred anywhere after the first Exchange). Using the
    parsed operator tree: the plan's single shuffle Exchange must sit
    between the probe side's explode (Generate) and the SMJ — i.e.
    exactly one of the two index scans has an Exchange ancestor, and
    that scan's ancestor chain reads Generate-then-Exchange going up;
    the other scan reaches the join with NO Exchange ancestor."""
    from angelone_clickhouse_spark.plantree import nodes_with_ancestors

    nodes = nodes_with_ancestors(plan)
    shuffles = [t for t, _ in nodes if t.startswith("Exchange")]
    assert len(shuffles) == 1, shuffles
    scans = [
        (t, anc)
        for t, anc in nodes
        if "FileScan" in t or "Scan parquet" in t
    ]
    assert len(scans) == 2, [t[:80] for t, _ in scans]
    with_ex = [
        (t, anc)
        for t, anc in scans
        if any(a.startswith("Exchange") for a in anc)
    ]
    without_ex = [
        t
        for t, anc in scans
        if not any(a.startswith("Exchange") for a in anc)
    ]
    assert len(with_ex) == 1 and len(without_ex) == 1
    # probe side: ancestors are root-first, so the Generate (explode)
    # must appear AFTER the Exchange in the chain (i.e. below it)
    anc = with_ex[0][1]
    ex_i = next(i for i, a in enumerate(anc) if a.startswith("Exchange"))
    gen_i = [i for i, a in enumerate(anc) if a.startswith("Generate")]
    assert gen_i and gen_i[0] > ex_i, anc

def test_retargeted_registry_names_share_one_callable():
    """Each fast name is registered on the one kept implementation and
    checked by the same oracle as its exact twin."""
    import __spark_entry__ as entrymod

    reg, orc = entrymod.queries(), entrymod.oracle_sql()
    for fast, kept in (
        ("dedup_embedding_fast", "dedup_embedding"),
        ("ann_topk_fast", "ann_topk_cosine"),
    ):
        assert reg[fast] is reg[kept]
        assert orc[fast] == orc[kept]


def test_fast_pairs_multiblock_equal_singleblock(spark, sf_dir, monkeypatch):
    """The blocked all-pairs grid must emit every pair exactly once
    regardless of block count: force >1 block and compare with the
    single-block result."""
    one = sorted(
        (r.vec_a, r.vec_b, r.cos_sim)
        for r in dedup_embedding(spark, sf_dir).collect()
    )
    monkeypatch.setattr(embedding_fast, "BLOCK_ROWS", 64)  # 500 rows -> 8 blocks
    many = sorted(
        (r.vec_a, r.vec_b, r.cos_sim)
        for r in dedup_embedding(spark, sf_dir).collect()
    )
    assert one == many


def test_no_unbounded_driver_materialization(spark, sf_dir, monkeypatch):
    """The embedding fast paths must never materialize the corpus on
    the driver (the 100 TB scale contract): every internal collect /
    toPandas while BUILDING the plans must be bounded by the query-set
    size. The final .collect() of results happens after restore."""
    seen: list[int] = []
    real_collect = pyspark.sql.DataFrame.collect
    real_topandas = pyspark.sql.DataFrame.toPandas

    def spy_collect(self):
        out = real_collect(self)
        seen.append(len(out))
        return out

    def spy_topandas(self):
        out = real_topandas(self)
        seen.append(len(out))
        return out

    monkeypatch.setattr(pyspark.sql.DataFrame, "collect", spy_collect)
    monkeypatch.setattr(pyspark.sql.DataFrame, "toPandas", spy_topandas)
    plans = [
        dedup_embedding(spark, sf_dir),
        ann_topk_cosine(spark, sf_dir),
    ]
    assert max(seen, default=0) <= N_QUERIES
    monkeypatch.undo()
    for df in plans:
        assert df.count() > 0




def test_knn_graph_matches_bruteforce(spark, sf_dir):
    """Brute-force the full self-kNN graph in numpy/python under the
    exact final ranking (rounded cosine DESC, neighbor_id ASC)."""
    import numpy as np

    from angelone_clickhouse_spark.operators.embedding_fast import (
        KNN_K,
        knn_graph,
    )

    rows = spark.read.parquet(f"{sf_dir}/embeddings.parquet").collect()
    ids = np.array([r.vec_id for r in rows], dtype=np.int64)
    m = np.array([r.embedding for r in rows], dtype=np.float64)
    m /= np.linalg.norm(m, axis=1, keepdims=True)
    cos = np.round(m @ m.T, 6)
    expect = set()
    for i in range(len(ids)):
        order = sorted(
            ((cos[i, j], ids[j]) for j in range(len(ids)) if j != i),
            key=lambda t: (-t[0], t[1]),
        )
        for rank, (c, nid) in enumerate(order[:KNN_K], start=1):
            expect.add((int(ids[i]), int(nid), rank))
    got = knn_graph(spark, sf_dir).collect()
    assert {(r.src_id, r.neighbor_id, r.rank) for r in got} == expect
    assert len(got) == len(ids) * KNN_K


def test_knn_graph_multiblock_equal_singleblock(spark, sf_dir, monkeypatch):
    """Per-cell shortlists + the off-diagonal reverse direction must
    reconstruct the identical graph at any block count."""
    from angelone_clickhouse_spark.operators.embedding_fast import knn_graph

    one = sorted(
        (r.src_id, r.neighbor_id, r.cos_sim, r.rank)
        for r in knn_graph(spark, sf_dir).collect()
    )
    monkeypatch.setattr(embedding_fast, "BLOCK_ROWS", 64)  # 500 rows -> 8 blocks
    many = sorted(
        (r.src_id, r.neighbor_id, r.cos_sim, r.rank)
        for r in knn_graph(spark, sf_dir).collect()
    )
    assert one == many


def test_knn_label_purity_matches_bruteforce(spark, sf_dir):
    """Brute-force the purity rollup over the brute-force graph; the
    fixture must exercise both pure and mixed neighborhoods."""
    import numpy as np

    from angelone_clickhouse_spark.operators.embedding_fast import (
        KNN_K,
        knn_label_purity,
    )

    rows = spark.read.parquet(f"{sf_dir}/embeddings.parquet").collect()
    ids = np.array([r.vec_id for r in rows], dtype=np.int64)
    labels = {r.vec_id: r.label for r in rows}
    m = np.array([r.embedding for r in rows], dtype=np.float64)
    m /= np.linalg.norm(m, axis=1, keepdims=True)
    cos = np.round(m @ m.T, 6)
    expect = {}
    for i in range(len(ids)):
        order = sorted(
            ((cos[i, j], ids[j]) for j in range(len(ids)) if j != i),
            key=lambda t: (-t[0], t[1]),
        )[:KNN_K]
        same = sum(1 for _, nid in order if labels[nid] == labels[ids[i]])
        expect[int(ids[i])] = (
            labels[ids[i]],
            len(order),
            same,
            1000 * same // len(order),
        )
    got = knn_label_purity(spark, sf_dir).collect()
    assert len(got) == len(ids)
    for r in got:
        assert (
            r.label,
            r.n_neighbors,
            r.n_same_label,
            r.purity_milli,
        ) == expect[r.src_id]
    purities = {v[3] for v in expect.values()}
    # non-degenerate: mixed neighborhoods AND at least one same-label
    # hit somewhere (the fixture labels are noisy, so fully-pure
    # neighborhoods need not exist)
    assert len(purities) > 1
    assert max(purities) > 0


def test_sparse_vec_ids_leave_empty_cells_harmless(spark, monkeypatch):
    """vec_ids need not be contiguous: a residue class of
    vec_id % n_blocks with no members makes a cell side EMPTY, which
    must yield an empty cell result, not a numpy shape crash — for
    the pair grid and both kNN directions."""
    import numpy as np

    from angelone_clickhouse_spark.operators.embedding_fast import (
        KNN_K,
        candidate_pairs_fast,
        knn_graph,
    )

    rng = np.random.RandomState(7)
    # ids all = 1 (mod 3): with BLOCK_ROWS=4 -> n_blocks=3, residues
    # 0 and 2 are EMPTY blocks
    ids = [1, 4, 7, 10, 13, 16, 19, 22, 25, 28]
    rows = [(int(i), [float(x) for x in rng.randn(8)], 0) for i in ids]
    df = spark.createDataFrame(
        rows, "vec_id long, embedding array<float>, label int"
    )
    import os
    import tempfile

    d = tempfile.mkdtemp(prefix="sparse_emb_")
    df.write.mode("overwrite").parquet(os.path.join(d, "embeddings.parquet"))
    monkeypatch.setattr(embedding_fast, "BLOCK_ROWS", 4)
    pairs = candidate_pairs_fast(spark, d, -1.0).collect()
    assert len(pairs) == len(ids) * (len(ids) - 1) // 2  # every pair once
    g = knn_graph(spark, d).collect()
    assert len(g) == len(ids) * KNN_K
    assert {r.src_id for r in g} == set(ids)


def test_adaptive_planes_formula():
    """planes = max(4, ceil(log2(n / target_bucket))) — holds bucket
    size ~constant as the corpus grows (the linear-candidate-volume
    contract of knn_graph_ann's scale story)."""
    ap = embedding_fast._adaptive_planes
    assert ap(500) == 6
    assert ap(2000) == 8
    assert ap(20000) == 12  # the sf1.0 SCALE corpus
    assert ap(8) == 4  # floor
    assert ap(1) == 4  # degenerate corpus never goes below the floor


def test_knn_ann_graph_contract(spark, sf_dir):
    """Structural contract of BOTH ANN twins (LSH and IVF): <= k
    ranked neighbors per source, no self-edges, ranks dense from 1,
    and every edge shared with the exact graph carries the identical
    rounded cosine (the shared exact-rescore tail)."""
    exact = {
        (r.src_id, r.neighbor_id): r.cos_sim
        for r in embedding_fast.knn_graph(spark, sf_dir).collect()
    }
    for graph_fn in (
        embedding_fast.knn_graph_ann,
        embedding_fast.knn_graph_ivf,
    ):
        ann = graph_fn(spark, sf_dir).collect()
        per_src: dict[int, list] = {}
        for r in ann:
            assert r.src_id != r.neighbor_id
            per_src.setdefault(r.src_id, []).append(r)
        for rows in per_src.values():
            assert len(rows) <= embedding_fast.KNN_K
            assert sorted(r.rank for r in rows) == list(
                range(1, len(rows) + 1)
            )
        shared = 0
        for r in ann:
            key = (r.src_id, r.neighbor_id)
            if key in exact:
                assert abs(exact[key] - r.cos_sim) <= 1e-9
                shared += 1
        assert shared > 0


def test_knn_ann_amplified_recall_at_least_090(spark, sf_dir):
    """The amplified setting's whole point (VERDICT r9 #3): corpus
    mean recall vs the exact graph >= 0.9, measured on the
    near-uniform fixture (LSH's worst case)."""
    rows = embedding_fast.knn_ann_recall(spark, sf_dir).collect()
    by_setting: dict[str, list[float]] = {}
    for r in rows:
        by_setting.setdefault(r.setting, []).append(r.recall)
    amp = by_setting["amplified"]
    assert sum(amp) / len(amp) >= 0.9
    # the cheap default must still find SOMETHING (it is an index,
    # not a stub) — and cost strictly less than the amplified run
    dflt = by_setting["default"]
    assert sum(dflt) / len(dflt) > 0.05


def test_knn_ann_bucketed_equals_per_run_twin(spark, sf_dir):
    """knn_graph_ann_bucketed's contract: bit-identical output to
    knn_graph_ann at the same setting (both rank the SAME full LSH
    candidate union with the shared exact tail), which is what lets
    the per-run twin's DuckDB oracle check the write-once path
    verbatim."""
    got = {
        (r.src_id, r.neighbor_id, r.cos_sim, r.rank)
        for r in embedding_fast.knn_graph_ann_bucketed(
            spark, sf_dir
        ).collect()
    }
    want = {
        (r.src_id, r.neighbor_id, r.cos_sim, r.rank)
        for r in embedding_fast.knn_graph_ann(spark, sf_dir).collect()
    }
    assert got == want and len(got) > 0


def test_knn_ann_bucketed_probe_join_shuffles_only_probe_side(
    spark, sf_dir
):
    """The 100 TB claim of the write-once index (VERDICT r10 weak
    #1): the candidate join's corpus side is the bucketed scan with
    ZERO Exchange — with auto-broadcast off the SMJ plan contains
    exactly one Exchange, and it hangs off the probe side's explode
    (Generate), never the plain index scan."""
    name, planes = embedding_fast.ann_corpus_index(
        spark, sf_dir, embedding_fast.KNN_ANN_TABLES
    )
    old = spark.conf.get("spark.sql.autoBroadcastJoinThreshold")
    spark.conf.set("spark.sql.autoBroadcastJoinThreshold", "-1")
    try:
        j = embedding_fast._ann_bucketed_candidate_join(
            spark, name, planes, embedding_fast.KNN_ANN_FLIPS
        )
        plan = j._jdf.queryExecution().executedPlan().toString()
    finally:
        spark.conf.set("spark.sql.autoBroadcastJoinThreshold", old)
    assert "SortMergeJoin" in plan
    _assert_probe_side_only_exchange(plan)


def test_ann_corpus_index_cached_within_session(spark, sf_dir):
    """Second call returns the same catalog table without a rebuild
    (the write-once discipline the op's scale story relies on)."""
    a = embedding_fast.ann_corpus_index(spark, sf_dir)
    b = embedding_fast.ann_corpus_index(spark, sf_dir)
    assert a == b
    assert spark.catalog.tableExists(a[0])


def test_knn_ann_default_recall_floor_at_gate_sf(spark):
    """The scale-shaped default arm must clear its stated recall
    floor at the driver's gate SF (VERDICT r10 #7) — the guard that
    keeps the registry's cheap arm from silently decaying into a
    stub under a future settings change."""
    from tests.conftest import SF_CORRECT

    rows = embedding_fast.knn_ann_recall(spark, SF_CORRECT).collect()
    dflt = [r.recall for r in rows if r.setting == "default"]
    assert dflt
    mean = sum(dflt) / len(dflt)
    assert mean >= embedding_fast.KNN_ANN_DEFAULT_RECALL_FLOOR, mean


def test_ann_topk_bucketed_contract(spark, sf_dir):
    """Query-side probe of the shared bucketed index: <= TOP_K dense
    ranks per query, no self-matches, and every edge shared with the
    exact top-k carries the identical rounded cosine. Also certifies
    index reuse: the call must not create a second catalog table for
    the same (sf_dir, settings)."""
    before = {t.name for t in spark.catalog.listTables()}
    embedding_fast.ann_corpus_index(spark, sf_dir)
    rows = embedding_fast.ann_topk_bucketed(spark, sf_dir).collect()
    after = {t.name for t in spark.catalog.listTables()}
    assert after == before | {
        t.name
        for t in spark.catalog.listTables()
        if t.name.startswith("ann_cells_")
    }
    exact = {
        (r.query_id, r.neighbor_id): r.cos_sim
        for r in ann_topk_cosine(spark, sf_dir).collect()
    }
    per_q: dict[int, list] = {}
    for r in rows:
        assert r.query_id != r.neighbor_id
        assert r.query_id < N_QUERIES
        per_q.setdefault(r.query_id, []).append(r)
    assert per_q
    shared = 0
    for q, rs in per_q.items():
        assert len(rs) <= 5
        assert sorted(r.rank for r in rs) == list(range(1, len(rs) + 1))
        for r in rs:
            if (q, r.neighbor_id) in exact:
                assert abs(exact[(q, r.neighbor_id)] - r.cos_sim) <= 1e-9
                shared += 1
    assert shared > 0


def test_knn_ann_incremental_equals_one_shot(spark, sf_dir):
    """The append-maintained index must be indistinguishable from the
    one-shot build: same (cell_key, vec_id) multiset in the catalog
    table, and bit-identical graph output — which is what lets the
    per-run twin's DuckDB oracle check the incremental path
    verbatim."""
    inc_name, inc_planes = embedding_fast.ann_corpus_index_incremental(
        spark, sf_dir
    )
    one_name, one_planes = embedding_fast.ann_corpus_index(spark, sf_dir)
    assert inc_planes == one_planes  # pinned from the FULL corpus
    inc_cells = sorted(
        (r.cell_key, r.vec_id) for r in spark.table(inc_name).collect()
    )
    one_cells = sorted(
        (r.cell_key, r.vec_id) for r in spark.table(one_name).collect()
    )
    assert inc_cells == one_cells and len(inc_cells) > 0
    got = {
        (r.src_id, r.neighbor_id, r.cos_sim, r.rank)
        for r in embedding_fast.knn_graph_ann_incremental(
            spark, sf_dir
        ).collect()
    }
    want = {
        (r.src_id, r.neighbor_id, r.cos_sim, r.rank)
        for r in embedding_fast.knn_graph_ann_bucketed(
            spark, sf_dir
        ).collect()
    }
    assert got == want and len(got) > 0


def test_knn_ann_incremental_append_preserves_probe_plan(spark, sf_dir):
    """After the delta append the table holds >1 file per bucket, and
    the probe join's plan is UNCHANGED vs the one-shot index: with
    auto-broadcast off, exactly one Exchange, hanging off the probe
    explode — the appended bucketed scan still satisfies the join's
    hash distribution from catalog metadata (the 100 TB claim:
    corpus growth costs O(|delta|) index work and zero probe-plan
    regression)."""
    name, planes = embedding_fast.ann_corpus_index_incremental(
        spark, sf_dir
    )
    import os

    loc = (
        spark.sql(f"DESCRIBE TABLE EXTENDED {name}")
        .filter("col_name = 'Location'")
        .collect()[0][1]
    )
    files = [
        f
        for f in os.listdir(loc.replace("file:", ""))
        if f.endswith(".parquet")
    ]
    assert len(files) > embedding_fast.ANN_INDEX_BUCKETS  # base + delta
    old = spark.conf.get("spark.sql.autoBroadcastJoinThreshold")
    spark.conf.set("spark.sql.autoBroadcastJoinThreshold", "-1")
    try:
        j = embedding_fast._ann_bucketed_candidate_join(
            spark, name, planes, embedding_fast.KNN_ANN_FLIPS
        )
        plan = j._jdf.queryExecution().executedPlan().toString()
    finally:
        spark.conf.set("spark.sql.autoBroadcastJoinThreshold", old)
    assert "SortMergeJoin" in plan
    _assert_probe_side_only_exchange(plan)


def test_ann_index_compact_one_file_per_bucket_same_cells(spark, sf_dir):
    """build -> append -> compact: compaction collapses the
    append-accumulated files to one sorted file per bucket, keeps the
    (cell_key, vec_id) multiset identical, and the probe plan over
    the compacted table is the same single-probe-side-Exchange SMJ."""
    import os

    name, planes = embedding_fast.ann_corpus_index_incremental(
        spark, sf_dir
    )
    cname = embedding_fast.ann_index_compact(spark, name)

    def _files(t):
        loc = (
            spark.sql(f"DESCRIBE TABLE EXTENDED {t}")
            .filter("col_name = 'Location'")
            .collect()[0][1]
        )
        return [
            f
            for f in os.listdir(loc.replace("file:", ""))
            if f.endswith(".parquet")
        ]

    assert len(_files(name)) > embedding_fast.ANN_INDEX_BUCKETS
    assert len(_files(cname)) == embedding_fast.ANN_INDEX_BUCKETS
    assert sorted(
        (r.cell_key, r.vec_id) for r in spark.table(cname).collect()
    ) == sorted((r.cell_key, r.vec_id) for r in spark.table(name).collect())
    old = spark.conf.get("spark.sql.autoBroadcastJoinThreshold")
    spark.conf.set("spark.sql.autoBroadcastJoinThreshold", "-1")
    try:
        j = embedding_fast._ann_bucketed_candidate_join(
            spark, cname, planes, embedding_fast.KNN_ANN_FLIPS
        )
        plan = j._jdf.queryExecution().executedPlan().toString()
    finally:
        spark.conf.set("spark.sql.autoBroadcastJoinThreshold", old)
    assert "SortMergeJoin" in plan and plan.count("Exchange") == 1


def test_ann_index_delete_tombstones_then_compaction_folds(spark, sf_dir):
    """The delete lifecycle (VERDICT r11 #6): (a) ann_topk_deleted
    returns no tombstoned id on either side; (b) compaction with the
    tombstone table physically drops the deleted ids' cell rows;
    (c) probing the compacted table WITHOUT any tombstone filter
    yields the same candidate set as the logical (tombstone
    anti-join) path — delete semantics survive the physical fold;
    (d) the probe plan over the compacted table keeps the
    probe-side-only-Exchange shape."""
    from angelone_clickhouse_spark.operators.similarity import _vectors

    m, r = embedding_fast.ANN_DELETE_MOD, embedding_fast.ANN_DELETE_REM
    got = embedding_fast.ann_topk_deleted(spark, sf_dir)
    rows = got.collect()
    assert rows, "fixture should produce neighbors"
    assert all(
        row.query_id % m != r and row.neighbor_id % m != r for row in rows
    )
    name, planes = embedding_fast.ann_corpus_index(
        spark, sf_dir, embedding_fast.KNN_ANN_TABLES
    )
    deleted = _vectors(spark, sf_dir).select("vec_id").filter(
        F.pmod(F.col("vec_id"), F.lit(m)) == r
    )
    tomb = embedding_fast.ann_index_delete(
        spark, name, deleted, overwrite=True
    )
    cname = embedding_fast.ann_index_compact(spark, name, tombstone_table=tomb)
    # (b) physically gone
    assert (
        spark.table(cname)
        .filter(F.pmod(F.col("vec_id"), F.lit(m)) == r)
        .count()
        == 0
    )
    assert spark.table(name).filter(
        F.pmod(F.col("vec_id"), F.lit(m)) == r
    ).count() > 0  # the un-compacted table still holds them (logical)
    # (c) compacted probe without tombstone filter == logical path
    cand_compacted = (
        embedding_fast._ann_bucketed_candidate_join(
            spark,
            cname,
            planes,
            embedding_fast.KNN_ANN_FLIPS,
            src_filter=F.col("vec_id") < embedding_fast.N_QUERIES,
        )
        .select("src_id", F.col("vec_id").alias("neighbor_id"))
        .dropDuplicates(["src_id", "neighbor_id"])
    )
    got_edges = {
        (row.query_id, row.neighbor_id)
        for row in embedding_fast._rescore_rank_edges(
            spark, sf_dir, cand_compacted, embedding_fast.TOP_K
        )
        .select(
            F.col("src_id").alias("query_id"), "neighbor_id"
        )
        .collect()
    }
    assert got_edges == {(row.query_id, row.neighbor_id) for row in rows}
    # (d) plan shape unchanged over the compacted table
    old = spark.conf.get("spark.sql.autoBroadcastJoinThreshold")
    spark.conf.set("spark.sql.autoBroadcastJoinThreshold", "-1")
    try:
        j = embedding_fast._ann_bucketed_candidate_join(
            spark, cname, planes, embedding_fast.KNN_ANN_FLIPS
        )
        plan = j._jdf.queryExecution().executedPlan().toString()
    finally:
        spark.conf.set("spark.sql.autoBroadcastJoinThreshold", old)
    assert "SortMergeJoin" in plan
    _assert_probe_side_only_exchange(plan)


def test_ann_topk_filtered_neighbors_respect_predicate(spark, sf_dir):
    """Filtered vector search: every returned neighbor satisfies the
    metadata predicate; ranking is computed over the FILTERED set
    (dense ranks 1..n per query); and the predicate is pushed down
    to the b-side vectors scan (PushedFilters on label), not applied
    as a post-join filter."""
    from angelone_clickhouse_spark.operators.similarity import (
        _vectors,
    )

    got = embedding_fast.ann_topk_filtered(spark, sf_dir)
    rows = got.collect()
    assert rows, "fixture should produce filtered neighbors"
    allowed = {
        r.vec_id
        for r in _vectors(spark, sf_dir)
        .filter(F.col("label") == embedding_fast.ANN_FILTER_LABEL)
        .select("vec_id")
        .collect()
    }
    assert all(r.neighbor_id in allowed for r in rows)
    by_q = {}
    for r in rows:
        by_q.setdefault(r.query_id, []).append(r.rank)
    for q, ranks in by_q.items():
        assert sorted(ranks) == list(range(1, len(ranks) + 1)), q
    plan = got._jdf.queryExecution().executedPlan().toString()
    assert "PushedFilters" in plan and "EqualTo(label," in plan, plan[:3000]


def test_knn_pagerank_matches_python_reference(spark, sf_dir):
    """Replay the damped integer power iteration in plain Python over
    the operator's own edge list (knn_graph is oracle-certified
    separately) and compare every node's rank exactly — plus the
    structural invariants: every vector ranked, floor rank = the
    teleport base for nodes with no in-edges."""
    from angelone_clickhouse_spark.operators.embedding_fast import (
        KNN_K,
        PR_BASE_MICRO,
        PR_DAMP_PCT,
        PR_INIT_MICRO,
        PR_ITERS,
        knn_graph,
        knn_pagerank,
    )

    edges = [
        (r.src_id, r.neighbor_id)
        for r in knn_graph(spark, sf_dir).select("src_id", "neighbor_id").collect()
    ]
    nodes = {s for s, _ in edges} | {
        r.vec_id
        for r in spark.read.parquet(f"{sf_dir}/embeddings.parquet")
        .select("vec_id")
        .collect()
    }
    ranks = {v: PR_INIT_MICRO for v in nodes}
    for _ in range(PR_ITERS):
        mass = dict.fromkeys(nodes, 0)
        for s, d in edges:
            mass[d] += ranks[s] // KNN_K
        ranks = {
            v: PR_BASE_MICRO + (PR_DAMP_PCT * mass[v]) // 100
            for v in nodes
        }
    got = {r.vec_id: r.rank_micro for r in knn_pagerank(spark, sf_dir).collect()}
    assert got == ranks
    assert min(got.values()) >= PR_BASE_MICRO


def test_knn_triangles_matches_python_reference(spark, sf_dir):
    """Undirect the operator's own edge list in Python, count each
    node's closed wedges by brute force, and compare degree /
    triangle count / milli coefficient exactly."""
    from angelone_clickhouse_spark.operators.embedding_fast import (
        knn_graph,
        knn_triangles,
    )

    edges = {
        (min(r.src_id, r.neighbor_id), max(r.src_id, r.neighbor_id))
        for r in knn_graph(spark, sf_dir)
        .select("src_id", "neighbor_id")
        .collect()
    }
    nbrs = {}
    for a, b in edges:
        nbrs.setdefault(a, set()).add(b)
        nbrs.setdefault(b, set()).add(a)
    got = {r.vec_id: r for r in knn_triangles(spark, sf_dir).collect()}
    all_ids = {
        r.vec_id
        for r in spark.read.parquet(f"{sf_dir}/embeddings.parquet")
        .select("vec_id")
        .collect()
    }
    assert set(got) == all_ids
    for v in all_ids:
        ns = sorted(nbrs.get(v, ()))
        tri = sum(
            1
            for i in range(len(ns))
            for j in range(i + 1, len(ns))
            if (ns[i], ns[j]) in edges
        )
        r = got[v]
        assert r.degree == len(ns)
        assert r.n_triangles == tri
        if len(ns) >= 2:
            assert r.clustering_milli == (2000 * tri) // (
                len(ns) * (len(ns) - 1)
            )
        else:
            assert r.clustering_milli is None
