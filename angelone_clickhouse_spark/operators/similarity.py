"""Similarity search over the ``embeddings`` table (north star:
"similarity search").

- ``ann_topk_cosine``: exact brute-force top-k cosine for a query set —
  the correctness baseline, oracle-checked. Ranking is over the cosine
  ROUNDED to 6 decimals with a vec_id tiebreak so Spark and DuckDB
  produce the identical top-k under floating-point noise.
- ``ann_lsh_topk``: the scale path — random-hyperplane LSH: vectors
  hash to sign-pattern buckets, candidates come only from the query's
  bucket (multi-probe over all hyperplane subsets is a natural
  extension), and only candidates are scored. rows-only driver check;
  tests/test_similarity.py measures recall against the exact op.

Scale notes: brute force is O(|Q| x |N|) — fine for |Q| small even at
100 TB (it is one broadcast of the query set + a map-side score +
per-partition top-k then global k-merge; no shuffle of the corpus).
The LSH variant bounds the scored set per query; its hyperplanes are
deterministic functions of (plane index, dimension index) hashes so
every executor derives the same projections with no driver-side
randomness to ship.
"""

from __future__ import annotations

import numpy as np
import pandas as pd
from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F
from pyspark.sql.window import Window

from angelone_clickhouse_spark.sources.tables import load_table

N_QUERIES = 5  # vec_id < 5 are the query vectors
TOP_K = 5
N_PLANES = 4  # 16 buckets; tune up with corpus size (buckets ~ 2^planes)


def _vectors(spark: SparkSession, sf_dir: str) -> DataFrame:
    e = load_table(spark, sf_dir, "embeddings")
    v = F.expr("transform(embedding, x -> cast(x as double))")
    return e.select("vec_id", "label", v.alias("v"), _norm(v).alias("nrm"))


# The cosine's two folds sum in ascending-component order, one double
# multiply then add per step: bit-identical to DuckDB's
# list_dot_product, which is what lets every cosine path share the
# oracles' exact 6-decimal rounding.
def _norm(v):
    return F.sqrt(
        F.aggregate(
            F.zip_with(v, v, lambda x, y: x * y),
            F.lit(0.0),
            lambda acc, x: acc + x,
        )
    )


def _cos(av, bv, an, bn):
    dot = F.aggregate(
        F.zip_with(av, bv, lambda x, y: x * y), F.lit(0.0), lambda acc, x: acc + x
    )
    return dot / (an * bn)


def _rank_topk(scored: DataFrame, k: int) -> DataFrame:
    """Per-query top-k tail every exact/approx ANN op shares: rank a
    (query_id, neighbor_id, cos_sim) frame by (cos_sim DESC,
    neighbor_id ASC) — the ONE tiebreak definition the cross-op
    recall audit certifies — keep rank <= k, emit the int rank.
    Living in one place keeps the exact/approx ranking contract from
    drifting between ops."""
    w = Window.partitionBy("query_id").orderBy(
        F.desc("cos_sim"), F.asc("neighbor_id")
    )
    return (
        scored.withColumn("rank", F.row_number().over(w))
        .filter(F.col("rank") <= k)
        .select(
            "query_id",
            "neighbor_id",
            "cos_sim",
            F.col("rank").cast("int").alias("rank"),
        )
    )


def exact_topk(
    spark: SparkSession,
    sf_dir: str,
    k: int = TOP_K,
    vecs: DataFrame | None = None,
) -> DataFrame:
    """Exact top-k: query vectors broadcast against the corpus.
    ``vecs`` lets a composite caller (ann_recall_audit) thread ONE
    materialized corpus projection through every arm (r17, the
    n_vecs-threading pattern)."""
    if vecs is None:
        vecs = _vectors(spark, sf_dir)
    q = vecs.filter(F.col("vec_id") < N_QUERIES).select(
        F.col("vec_id").alias("query_id"),
        F.col("v").alias("qv"),
        F.col("nrm").alias("qn"),
    )
    scored = (
        vecs.crossJoin(F.broadcast(q))
        .filter(F.col("vec_id") != F.col("query_id"))
        .select(
            "query_id",
            F.col("vec_id").alias("neighbor_id"),
            F.round(
                _cos(F.col("qv"), F.col("v"), F.col("qn"), F.col("nrm")), 6
            ).alias("cos_sim"),
        )
    )
    return _rank_topk(scored, k)


def ann_topk_cosine(spark: SparkSession, sf_dir: str) -> DataFrame:
    return exact_topk(spark, sf_dir, TOP_K)


EMB_DIM = 64  # embeddings fixture dimension (TESTDATA.md)


def _plane(p: int, dim: int = EMB_DIM) -> list[float]:
    """Hyperplane p as concrete floats: h_p[d] = (md5_60('p_d') mod
    2001 - 1000)/1000 — the exact arithmetic the DuckDB oracle runs in
    SQL (md5-hex-prefix integer is the cross-engine hash; xxhash64
    exists only in Spark). Computed driver-side once: leaving it as a
    per-row transform() made Spark evaluate n_planes*dim md5+conv
    string ops per corpus row (~0.5M md5s at sf0.1 — the round-2
    ann_lsh_topk regression)."""
    import hashlib

    out = []
    for d in range(dim):
        h60 = int(hashlib.md5(f"{p}_{d}".encode()).hexdigest()[:15], 16)
        out.append(((h60 % 2001) - 1000) / 1000.0)
    return out


def _bucket(
    vecs: DataFrame,
    n_planes: int = N_PLANES,
    plane_offset: int = 0,
    out: str = "bucket",
) -> DataFrame:
    """Random-hyperplane bucket id: bit p = sign(v . h_{p+offset}).
    Planes are deterministic literals (see _plane), so every executor
    — and the oracle — derives identical projections with no
    randomness to ship. ``plane_offset`` selects an independent plane
    family, which is how the multi-TABLE amplification picks table
    t's planes (offset = t * n_planes) in one corpus pass."""
    # One SQL string per bucket column instead of per-element lit():
    # n_planes*dim literal floats through F.lit cost one Py4J round
    # trip EACH (~4 s of driver-side analysis for a 10-table, 6-plane
    # setting before any work ran); a single parsed expr() carries
    # the same zip_with/aggregate fold — identical arithmetic, same
    # plan — for one round trip. repr() floats round-trip exactly.
    def plane_dot(p: int) -> str:
        arr = ", ".join(f"{x!r}D" for x in _plane(p + plane_offset))
        return (
            f"aggregate(zip_with(v, array({arr}), (x, h) -> x * h), "
            f"0.0D, (acc, x) -> acc + x)"
        )

    bits = " | ".join(
        f"(CASE WHEN ({plane_dot(p)}) > 0.0D THEN {1 << p}L ELSE 0L END)"
        for p in range(n_planes)
    )
    return vecs.withColumn(out, F.expr(f"CAST(({bits}) AS BIGINT)"))


def _bucket_cols(
    vecs: DataFrame,
    n_planes: int,
    n_tables: int,
    out_prefix: str = "b",
    v_col: str = "v",
) -> DataFrame:
    """All ``n_tables`` tables' bucket ids in ONE vectorized pandas
    UDF pass (table t uses plane family offset t*n_planes): adds
    columns ``{out_prefix}0 .. {out_prefix}{n_tables-1}``, output
    bit-identical to chaining :func:`_bucket` once per table.

    r16 optimization (guide §4.1/§4.2): the expr spelling evaluates
    an interpreted aggregate/zip_with fold per (row, plane) — higher-
    order array lambdas have no codegen, so a 10-table amplified
    setting pays n_tables x n_planes x dim interpreted lambda steps
    per row (~1.9 s for one projection pass at sf0.1, the largest
    single cost inside every LSH arm). The UDF computes the SAME
    arithmetic vectorized across the Arrow batch: per plane, the
    component accumulation runs in ascending-component order with a
    separate IEEE double multiply then add per step
    (``acc = acc + X[:, j] * h[j]`` — two ufuncs, no FMA
    contraction), which is exactly the expr fold's
    ``(acc, x) -> acc + x`` over ``zip_with(v, h, (x, h) -> x * h)``
    sequence — so every bucket bit, every candidate set, and the
    DuckDB-oracle contract are unchanged (bit-equality vs _bucket
    asserted over the fixture corpus in tests/test_similarity.py).
    Scale: one narrow column crosses the Python boundary per pass;
    the plane matrix is a driver-built closure constant
    (n_tables*n_planes*dim doubles, KBs)."""
    from pyspark.sql.types import ArrayType, LongType

    H = np.array(
        [_plane(p) for p in range(n_tables * n_planes)], dtype=np.float64
    )
    nt, npl = n_tables, n_planes

    @F.pandas_udf(ArrayType(LongType()))
    def _all_buckets(vs: pd.Series) -> pd.Series:
        if len(vs) == 0:
            return pd.Series([], dtype=object)
        X = np.array(list(vs), dtype=np.float64)
        out = np.zeros((X.shape[0], nt), dtype=np.int64)
        for t in range(nt):
            for p in range(npl):
                h = H[t * npl + p]
                acc = np.zeros(X.shape[0])
                for j in range(X.shape[1]):
                    acc = acc + X[:, j] * h[j]
                out[:, t] |= np.where(
                    acc > 0.0, np.int64(1 << p), np.int64(0)
                )
        return pd.Series(list(out))

    tmp = f"_{out_prefix}_all"
    b = vecs.withColumn(tmp, _all_buckets(F.col(v_col)))
    return b.select(
        *vecs.columns,
        *[
            F.col(tmp)[t].alias(f"{out_prefix}{t}")
            for t in range(n_tables)
        ],
    )


def _cell_keys(planes: int, n_tables: int, prefix: str) -> F.Column:
    """array<long> of a row's LSH cells from the bucket columns
    ``{prefix}0 ..`` that :func:`_bucket_cols` adds: cell_key =
    t * 2^planes + bucket_t, so one long encodes (table, bucket) and
    bit-flips below ``planes`` stay inside table t."""
    return F.array(
        *[
            F.lit(t * (1 << planes)).cast("long") + F.col(f"{prefix}{t}")
            for t in range(n_tables)
        ]
    )


def lsh_topk(
    spark: SparkSession,
    sf_dir: str,
    n_planes: int = N_PLANES,
    n_flips: int | None = None,
    k: int = TOP_K,
    n_tables: int = 1,
    vecs: DataFrame | None = None,
) -> DataFrame:
    """LSH-bucketed top-k with multi-probe and multi-TABLE
    amplification: score corpus vectors that share a bucket with the
    query in ANY of ``n_tables`` independent hash tables — in table t
    the query probes its own bucket plus every bucket one
    hyperplane-flip away (vectors near a hyperplane land on either
    side with near-equal probability, so hamming-1 probes recover
    most of a single probe's recall loss). A candidate missed by one
    table with probability (1-p) survives all L tables with
    (1-p)^L — the classic LSH amplification — and the union
    candidate set is rescored EXACTLY (true cosine) before ranking,
    so extra tables only ever add recall.

    ``n_planes`` sets the per-table bucket count (2^planes — more
    planes = smaller candidate sets, lower recall per probe);
    ``n_flips`` sets how many planes get a hamming-1 probe;
    ``n_tables`` the amplification factor; ``k`` the result depth.
    The trade-off is measured, not asserted: see
    :func:`ann_recall_audit`, whose grid includes a production-grade
    (recall >= 0.9) amplified setting next to the cheap default.

    Scale shape: ALL tables' buckets are computed in ONE corpus pass
    (n_tables*n_planes dot products per row, map-side), the corpus is
    exploded n_tables-fold onto (table, bucket) keys, and the tiny
    probe side is broadcast — the corpus is never collected and never
    shuffled for scoring; the only exchange is the per-query top-k
    window (and, when n_tables > 1, the candidate de-dup)."""
    if n_flips is None:
        n_flips = n_planes
    if not 0 <= n_flips <= n_planes:
        # a flip on plane p >= n_planes XORs a bit no corpus bucket
        # can have — the probe joins zero rows forever. Silent dead
        # probes would make a recall-tuning sweep plateau for the
        # wrong reason, so out-of-range settings fail loudly.
        raise ValueError(
            f"n_flips={n_flips} out of range [0, n_planes={n_planes}]"
        )
    if vecs is None:
        vecs = _vectors(spark, sf_dir)
    vecs = _bucket_cols(vecs, n_planes, n_tables)
    tb = vecs.select(
        "vec_id",
        "v",
        "nrm",
        F.explode(
            F.array(
                *[
                    F.struct(
                        F.lit(t).alias("t"), F.col(f"b{t}").alias("bucket")
                    )
                    for t in range(n_tables)
                ]
            )
        ).alias("tb"),
    ).select(
        "vec_id",
        "v",
        "nrm",
        F.col("tb.t").alias("t"),
        F.col("tb.bucket").alias("bucket"),
    )
    q = tb.filter(F.col("vec_id") < N_QUERIES).select(
        F.col("vec_id").alias("query_id"),
        F.col("v").alias("qv"),
        F.col("nrm").alias("qn"),
        F.col("t").alias("qt"),
        F.explode(
            F.array(
                F.col("bucket"),
                *[
                    F.col("bucket").bitwiseXOR(F.lit(1 << p).cast("long"))
                    for p in range(n_flips)
                ],
            )
        ).alias("qbucket"),
    )
    scored = (
        tb.join(
            F.broadcast(q),
            (F.col("t") == F.col("qt"))
            & (F.col("bucket") == F.col("qbucket")),
        )
        .filter(F.col("vec_id") != F.col("query_id"))
        .select(
            "query_id",
            F.col("vec_id").alias("neighbor_id"),
            F.round(
                _cos(F.col("qv"), F.col("v"), F.col("qn"), F.col("nrm")), 6
            ).alias("cos_sim"),
        )
    )
    if n_tables > 1:
        # a candidate found by several tables appears once per table;
        # scoring is deterministic, so de-dup after scoring is exact
        scored = scored.dropDuplicates(["query_id", "neighbor_id"])
    return _rank_topk(scored, k)


def ann_lsh_topk(spark: SparkSession, sf_dir: str) -> DataFrame:
    return lsh_topk(spark, sf_dir)


def ann_lsh_topk_amplified(spark: SparkSession, sf_dir: str) -> DataFrame:
    """The PRODUCTION-GRADE amplified setting as a first-class
    registry entry (VERDICT r9 #7): the measured recall-0.96
    configuration from AUDIT_SETTINGS — 10 independent 6-plane hash
    tables with full hamming-1 multi-probe, candidates unioned and
    exactly rescored. Until now this setting lived only inside the
    audit grid; a real deployment runs THIS, not the cheap default."""
    return lsh_topk(spark, sf_dir, 6, 6, TOP_K, 10)


N_CENTROIDS = 8  # IVF list count; ~sqrt(corpus) at real scale
N_PROBE = 2  # IVF lists probed per query


def ann_ivf_topk(spark: SparkSession, sf_dir: str) -> DataFrame:
    """IVF (inverted-file) top-k — the other classic ANN scale path
    next to LSH: partition the corpus into N_CENTROIDS lists by
    nearest centroid, then score each query only against its N_PROBE
    closest lists.

    Centroids are SEED corpus vectors (vec_id N_QUERIES ..
    N_QUERIES+N_CENTROIDS-1), not k-means means: a float mean is
    summation-order-dependent and would break the cross-engine oracle,
    while seed vectors keep every value bit-reproducible. At cluster
    scale you'd run k-means|| for real centroids and persist the
    assignment as a bucketed table (the probe join then prunes
    partitions); the plan shape here — broadcast centroids, map-side
    argmin assignment, probe-join, per-query top-k — is unchanged.
    Oracle-checked in DuckDB (same seeds, same rounding, same
    tiebreaks); recall vs the exact op measured in tests."""
    vecs = _vectors(spark, sf_dir)
    cents = vecs.filter(
        (F.col("vec_id") >= N_QUERIES)
        & (F.col("vec_id") < N_QUERIES + N_CENTROIDS)
    ).select(
        F.col("vec_id").alias("cent_id"),
        F.col("v").alias("cv"),
        F.col("nrm").alias("cn"),
    )
    sim_to_cent = F.round(
        _cos(F.col("v"), F.col("cv"), F.col("nrm"), F.col("cn")), 6
    )
    aw = Window.partitionBy("vec_id").orderBy(
        F.desc("cent_sim"), F.asc("cent_id")
    )
    members = (
        vecs.crossJoin(F.broadcast(cents))
        .select("vec_id", "v", "nrm", "cent_id", sim_to_cent.alias("cent_sim"))
        .withColumn("arn", F.row_number().over(aw))
        .filter(F.col("arn") == 1)
        .select("vec_id", "v", "nrm", "cent_id")
    )
    q = vecs.filter(F.col("vec_id") < N_QUERIES).select(
        F.col("vec_id").alias("query_id"),
        F.col("v").alias("qv"),
        F.col("nrm").alias("qn"),
    )
    qsim = F.round(
        _cos(F.col("qv"), F.col("cv"), F.col("qn"), F.col("cn")), 6
    )
    pw = Window.partitionBy("query_id").orderBy(
        F.desc("probe_sim"), F.asc("cent_id")
    )
    probes = (
        q.crossJoin(F.broadcast(cents))
        .select("query_id", "qv", "qn", "cent_id", qsim.alias("probe_sim"))
        .withColumn("prn", F.row_number().over(pw))
        .filter(F.col("prn") <= N_PROBE)
        .select("query_id", "qv", "qn", "cent_id")
    )
    scored = (
        members.join(F.broadcast(probes), "cent_id")
        .filter(F.col("vec_id") != F.col("query_id"))
        .select(
            "query_id",
            F.col("vec_id").alias("neighbor_id"),
            F.round(
                _cos(F.col("qv"), F.col("v"), F.col("qn"), F.col("nrm")), 6
            ).alias("cos_sim"),
        )
    )
    return _rank_topk(scored, TOP_K)


KM_ITERS = 2  # Lloyd refinement rounds for kmeans_refine


def kmeans_refine_float(
    spark: SparkSession, sf_dir: str, iters: int = KM_ITERS
) -> DataFrame:
    """Lloyd's k-means over the embedding corpus: start from the same
    SEED centroids IVF uses (deterministic corpus rows), then run
    ``iters`` assign/update rounds and return per-cluster stats of the
    final assignment (members, mean squared distance).

    This is the iterative-algorithm pattern on Spark: each round is
    (broadcast tiny centroids) -> map-side argmin assignment -> one
    groupBy (cluster, dim) partial-aggregated mean, and the new
    centroid table is ``localCheckpoint``-ed so round N+1's plan does
    not replay rounds 1..N (at cluster scale: persist to a table, or
    this lineage doubles every round — see memory of connected
    components). Not driver-registered: centroid means are float sums
    whose order Spark does not fix, so no bit-exact oracle exists by
    construction; tests assert the invariants instead (partition of
    the corpus, non-increasing inertia, stable cluster count). The
    registered :func:`kmeans_refine` runs the same iteration count in
    exact integer-grid arithmetic, where a full unrolled-per-round
    DuckDB oracle DOES exist.
    """
    vecs = _vectors(spark, sf_dir).select("vec_id", "v")
    cents = (
        vecs.filter(
            (F.col("vec_id") >= N_QUERIES)
            & (F.col("vec_id") < N_QUERIES + N_CENTROIDS)
        )
        .select(
            (F.col("vec_id") - N_QUERIES).alias("cent_id"),
            F.col("v").alias("cv"),
        )
        .localCheckpoint(eager=True)
    )
    d2 = F.aggregate(
        F.zip_with(F.col("v"), F.col("cv"), lambda x, y: (x - y) * (x - y)),
        F.lit(0.0),
        lambda acc, x: acc + x,
    )
    aw = Window.partitionBy("vec_id").orderBy(F.asc("d2"), F.asc("cent_id"))

    def assign(c: DataFrame) -> DataFrame:
        return (
            vecs.crossJoin(F.broadcast(c))
            .select("vec_id", "v", "cent_id", d2.alias("d2"))
            .withColumn("rn", F.row_number().over(aw))
            .filter(F.col("rn") == 1)
            .select("vec_id", "v", "cent_id", "d2")
        )

    members = assign(cents)
    for _ in range(iters):
        new_cents = (
            members.select(
                "cent_id", F.posexplode("v").alias("pos", "x")
            )
            .groupBy("cent_id", "pos")
            .agg(F.avg("x").alias("m"))
            .groupBy("cent_id")
            .agg(
                F.transform(
                    F.array_sort(
                        F.collect_list(F.struct("pos", "m"))
                    ),
                    lambda s: s["m"],
                ).alias("cv")
            )
            .localCheckpoint(eager=True)
        )
        members = assign(new_cents)
    return members.groupBy("cent_id").agg(
        F.count(F.lit(1)).alias("n_members"),
        F.round(F.sum("d2"), 4).alias("inertia"),
    )


Q_BITS = 127  # int8 quantization range for ann_topk_quantized
Q_SHORTLIST = 3 * TOP_K  # candidates kept from the quantized pass


def ann_topk_quantized(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Scalar-quantized ANN — the memory-bound 100 TB path next to LSH
    and IVF: embeddings quantize to int8 (per-vector symmetric scale
    q = round(x / max|x| * 127)), candidate generation runs on integer
    dot products (4x smaller vectors, SIMD-friendly, and — here —
    bit-exact on any engine), then only the Q_SHORTLIST survivors are
    re-scored with the exact float cosine. Quantization error can
    reorder near-ties, so the guarantee is recall (tests), not
    identity with brute force; the DuckDB oracle replays the identical
    quantize -> integer-score -> shortlist -> exact-re-score pipeline,
    so the whole operator is value-checked end to end.

    Scale notes: same broadcast-queries/map-side-score shape as
    ann_topk_cosine — no corpus shuffle; the int8 table is the one
    you'd persist (4x the vectors per executor-byte), floats fetched
    only for the shortlist."""
    vecs = _vectors(spark, sf_dir)
    mx = F.aggregate(
        F.transform("v", lambda x: F.abs(x)),
        F.lit(0.0),
        lambda a, x: F.greatest(a, x),
    )
    qv = F.expr(
        f"transform(v, x -> cast(round(x / mxv * {Q_BITS}) as bigint))"
    )
    quant = vecs.withColumn("mxv", mx).select(
        "vec_id", "v", "nrm", qv.alias("q")
    )
    q = quant.filter(F.col("vec_id") < N_QUERIES).select(
        F.col("vec_id").alias("query_id"),
        F.col("v").alias("qv"),
        F.col("nrm").alias("qn"),
        F.col("q").alias("qq"),
    )
    idot = F.aggregate(
        F.zip_with("q", "qq", lambda x, y: x * y),
        F.lit(0).cast("long"),
        lambda acc, x: acc + x,
    )
    cw = Window.partitionBy("query_id").orderBy(
        F.desc("int_score"), F.asc("neighbor_id")
    )
    shortlist = (
        quant.crossJoin(F.broadcast(q))
        .filter(F.col("vec_id") != F.col("query_id"))
        .select(
            "query_id",
            F.col("vec_id").alias("neighbor_id"),
            idot.alias("int_score"),
            "v",
            "nrm",
            "qv",
            "qn",
        )
        .withColumn("crn", F.row_number().over(cw))
        .filter(F.col("crn") <= Q_SHORTLIST)
    )
    return _rank_topk(
        shortlist.select(
            "query_id",
            "neighbor_id",
            F.round(
                _cos(F.col("qv"), F.col("v"), F.col("qn"), F.col("nrm")), 6
            ).alias("cos_sim"),
        ),
        TOP_K,
    )


KM_GRID = 1_000_000  # integer grid for the deterministic k-means twin

PQ_M = 8  # product-quantization subspaces (EMB_DIM must divide evenly)
PQ_SUB = EMB_DIM // PQ_M  # dims per subspace
PQ_K = 16  # codewords per subspace codebook
# ADC shortlist: deeper than the scalar twin's (3k) because 16
# codewords per 8-dim subspace is a far coarser score than int8 — on
# the near-uniform fixture vectors (PQ's worst case: no cluster
# structure for codewords to exploit) recall@5 measures 0.24 at 3k
# and 0.64 at 10k; a deployment sizes this by the same recall audit
# the LSH family uses. Still a vanishing scan fraction at scale.
PQ_SHORTLIST = 10 * TOP_K


def ann_topk_pq(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Product-quantized ANN (Jégou/Douze/Schmid, TPAMI 2011) — the
    compressed-domain 100 TB path next to the scalar-quantized arm:
    vectors split into PQ_M subspaces, each subvector encoded as the
    id of its nearest codeword (PQ_K per subspace), so the persisted
    index stores PQ_M small ints per vector (here 8 codes for 64
    floats — a 32x footprint cut at 1 byte/code). Search is ADC
    (asymmetric distance computation): the query precomputes one
    PQ_M x PQ_K table of exact subspace distances, approximate
    distance to any coded vector is PQ_M table lookups summed, the
    best PQ_SHORTLIST by ADC are re-scored with the exact float
    cosine, and the final ranking is the shared _rank_topk contract.

    Determinism (the kmeans_assign device): codebooks are the grid
    subvectors of PQ_K fixed corpus rows (vec_id N_QUERIES ..
    N_QUERIES+PQ_K-1 — same seed convention as IVF/k-means; a real
    deployment trains them with kmeans_refine per subspace),
    encode/ADC run in pure long arithmetic on the floor(x*KM_GRID)
    grid with a codeword-id tiebreak (array_min over struct(d2, cw)),
    so codes and shortlists are bit-identical on any engine; like the
    scalar twin the guarantee vs brute force is recall (tests), while
    the DuckDB oracle replays the identical encode -> ADC ->
    shortlist -> exact-re-score pipeline for a full value check.

    Scale notes: the codebook is ONE broadcast row (PQ_M*PQ_K
    subvectors); encoding and ADC are map-side expressions over the
    corpus — no shuffle, no UDF, whole-stage codegen end to end; the
    only exchange is the per-query shortlist window shared with every
    ANN arm. At 100 TB you persist (vec_id, codes) — the table ADC
    scans is PQ_M bytes/vector, floats fetched only for the
    shortlist re-score, which is why PQ is the memory-bound regime's
    index of choice."""
    vecs = _vectors(spark, sf_dir)
    grid = vecs.select(
        "vec_id",
        "v",
        "nrm",
        F.expr(
            f"transform(v, x -> cast(floor(x * {KM_GRID}) as bigint))"
        ).alias("g"),
    )
    cbs = (
        grid.filter(
            (F.col("vec_id") >= N_QUERIES)
            & (F.col("vec_id") < N_QUERIES + PQ_K)
        )
        .select(
            (F.col("vec_id") - N_QUERIES).alias("cw"),
            F.col("g").alias("cg"),
        )
        .agg(F.array_sort(F.collect_list(F.struct("cw", "cg"))).alias("cbs"))
    )
    # exact long L2^2 between this row's subspace m and codeword c
    sub_d2 = (
        f"aggregate(sequence(m * {PQ_SUB}, m * {PQ_SUB} + {PQ_SUB - 1}), "
        f"cast(0 as bigint), "
        f"(acc, i) -> acc + (g[i] - c.cg[i]) * (g[i] - c.cg[i]))"
    )
    with_cb = grid.crossJoin(F.broadcast(cbs))
    coded = with_cb.select(
        "vec_id",
        "v",
        "nrm",
        F.expr(
            f"transform(sequence(0, {PQ_M - 1}), m -> "
            f"array_min(transform(cbs, c -> "
            f"struct({sub_d2} as d2, c.cw as cw))).cw)"
        ).alias("codes"),
    )
    q = with_cb.filter(F.col("vec_id") < N_QUERIES).select(
        F.col("vec_id").alias("query_id"),
        F.col("v").alias("qv"),
        F.col("nrm").alias("qn"),
        F.expr(
            f"transform(sequence(0, {PQ_M - 1}), m -> "
            f"transform(cbs, c -> {sub_d2}))"
        ).alias("dtab"),
    )
    adc = F.expr(
        f"aggregate(sequence(0, {PQ_M - 1}), cast(0 as bigint), "
        f"(acc, m) -> acc + dtab[m][codes[m]])"
    )
    cw = Window.partitionBy("query_id").orderBy(
        F.asc("adc"), F.asc("neighbor_id")
    )
    shortlist = (
        coded.crossJoin(F.broadcast(q))
        .filter(F.col("vec_id") != F.col("query_id"))
        .select(
            "query_id",
            F.col("vec_id").alias("neighbor_id"),
            adc.alias("adc"),
            "v",
            "nrm",
            "qv",
            "qn",
        )
        .withColumn("crn", F.row_number().over(cw))
        .filter(F.col("crn") <= PQ_SHORTLIST)
    )
    return _rank_topk(
        shortlist.select(
            "query_id",
            "neighbor_id",
            F.round(
                _cos(F.col("qv"), F.col("v"), F.col("qn"), F.col("nrm")), 6
            ).alias("cos_sim"),
        ),
        TOP_K,
    )


def kmeans_assign(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Deterministic k-means twin of :func:`kmeans_refine`, built so a
    bit-exact cross-engine oracle EXISTS: embeddings snap to an integer
    grid (floor(x*1e6) — floor of the identical IEEE double product on
    both engines), seed-centroid assignment and the one Lloyd update
    run in pure integer arithmetic (order-independent long sums;
    truncating integer division, which Spark's ``div`` and DuckDB's
    ``//`` both implement), and the re-assignment argmin ranks exact
    integer distances with a cent_id tiebreak. Float Lloyd's update
    (means whose summation order Spark does not fix) stays covered by
    kmeans_refine's invariant tests; THIS query is the driver-checkable
    face of the operator.

    ONE Spark implementation: this is exactly :func:`kmeans_refine`
    at ``update_rounds=1`` (same grid, seeds, argmin, update rules),
    so the plan code lives there alone — but the DuckDB oracle stays
    a HAND-WRITTEN one-round unroll, deliberately NOT the generated
    ``_kmeans_refine_oracle_sql(1)``: two independent SQL spellings
    of the same computation keep the differential able to catch a
    generator bug (the r8 advice on mirrored oracles)."""
    return kmeans_refine(spark, sf_dir, update_rounds=1)


def kmeans_refine(
    spark: SparkSession, sf_dir: str, update_rounds: int = KM_ITERS
) -> DataFrame:
    """Multi-round Lloyd refinement in exact integer-grid arithmetic —
    the driver-checkable face of the ITERATIVE algorithm (the float
    variant lives in :func:`kmeans_refine_float`, invariant-tested).
    Same grid/seed/argmin/update rules as :func:`kmeans_assign`, run
    for ``update_rounds`` centroid updates instead of one; because
    every step is order-independent integer math (long sums, truncating
    div, cent_id tiebreak), the whole ITERATION is reproducible
    bit-for-bit in DuckDB by unrolling one CTE pair per round
    (:func:`_kmeans_refine_oracle_sql`) — closing the r3 no-oracle row.

    Plan shape per round: broadcast tiny centroid table -> map-side
    argmin (no shuffle of the corpus) -> one partial-aggregated
    groupBy(cent_id, dim); ``localCheckpoint`` cuts the doubling
    lineage between rounds (at cluster scale: persist to a table).
    """
    e = load_table(spark, sf_dir, "embeddings")
    vi = F.expr(
        f"transform(embedding, x -> "
        f"cast(floor(cast(x as double) * {KM_GRID}) as bigint))"
    )
    # every assignment pass re-reads the grid vectors: materialize the
    # float->grid transform once instead of re-running it per round
    vecs = e.select("vec_id", vi.alias("v")).localCheckpoint(eager=True)
    cents = vecs.filter(
        (F.col("vec_id") >= N_QUERIES)
        & (F.col("vec_id") < N_QUERIES + N_CENTROIDS)
    ).select((F.col("vec_id") - N_QUERIES).alias("cent_id"), F.col("v").alias("cv"))
    d2 = F.aggregate(
        F.zip_with("v", "cv", lambda x, y: (x - y) * (x - y)),
        F.lit(0).cast("long"),
        lambda acc, x: acc + x,
    )
    aw = Window.partitionBy("vec_id").orderBy(F.asc("d2"), F.asc("cent_id"))

    def assign(c: DataFrame) -> DataFrame:
        return (
            vecs.crossJoin(F.broadcast(c))
            .select("vec_id", "v", "cent_id", d2.alias("d2"))
            .withColumn("rn", F.row_number().over(aw))
            .filter(F.col("rn") == 1)
            .select("vec_id", "v", "cent_id", "d2")
        )

    members = assign(cents)
    for _ in range(update_rounds):
        cents = (
            members.select("cent_id", F.posexplode("v").alias("pos", "x"))
            .groupBy("cent_id", "pos")
            .agg(F.expr("sum(x) div count(1)").alias("m"))
            .groupBy("cent_id")
            .agg(
                F.transform(
                    F.array_sort(F.collect_list(F.struct("pos", "m"))),
                    lambda s: s["m"],
                ).alias("cv")
            )
            .localCheckpoint(eager=True)
        )
        members = assign(cents)
    return members.groupBy("cent_id").agg(
        F.count(F.lit(1)).alias("n_members"),
        F.sum("d2").alias("inertia_grid2"),
    )


def _kmeans_refine_oracle_sql(update_rounds: int = KM_ITERS) -> str:
    """DuckDB spelling of :func:`kmeans_refine`: the Lloyd iteration
    unrolled as one (assignment, means) CTE pair per update round —
    exact integer arithmetic end-to-end, so every round agrees with
    Spark bit-for-bit."""
    dist = (
        f"CAST(list_sum(list_transform(generate_series(1, {EMB_DIM}), "
        f"i -> (v.v[i] - c.cv[i]) * (v.v[i] - c.cv[i]))) AS BIGINT)"
    )
    ctes = [
        f"""v AS (
  SELECT vec_id,
         list_transform(embedding::DOUBLE[],
                        x -> CAST(floor(x * {KM_GRID}) AS BIGINT)) AS v
  FROM embeddings
)""",
        f"""c0 AS (
  SELECT vec_id - {N_QUERIES} AS cent_id, v AS cv FROM v
  WHERE vec_id >= {N_QUERIES} AND vec_id < {N_QUERIES + N_CENTROIDS}
)""",
    ]
    for r in range(update_rounds):
        ctes.append(
            f"""a{r} AS (
  SELECT vec_id, v, cent_id,
         row_number() OVER (PARTITION BY vec_id ORDER BY d2, cent_id) AS rn
  FROM (
    SELECT v.vec_id, v.v, c.cent_id, {dist} AS d2
    FROM v CROSS JOIN c{r} c
  )
)"""
        )
        ctes.append(
            f"""c{r + 1} AS (
  SELECT cent_id, list(m ORDER BY pos) AS cv
  FROM (
    SELECT cent_id, i AS pos, CAST(sum(v[i]) // count(*) AS BIGINT) AS m
    FROM (SELECT vec_id, v, cent_id FROM a{r} WHERE rn = 1),
         UNNEST(generate_series(1, {EMB_DIM})) AS u(i)
    GROUP BY cent_id, i
  )
  GROUP BY cent_id
)"""
        )
    ctes.append(
        f"""afinal AS (
  SELECT vec_id, cent_id, d2,
         row_number() OVER (PARTITION BY vec_id ORDER BY d2, cent_id) AS rn
  FROM (
    SELECT v.vec_id, c.cent_id, {dist} AS d2
    FROM v CROSS JOIN c{update_rounds} c
  )
)"""
    )
    return (
        "WITH "
        + ",\n".join(ctes)
        + """
SELECT cent_id,
       count(*) AS n_members,
       CAST(sum(d2) AS BIGINT) AS inertia_grid2
FROM afinal
WHERE rn = 1
GROUP BY cent_id
"""
    )


# (n_planes, n_flips, k, n_tables) settings the recall audit sweeps:
# the cheap single-table default, a more-selective index without
# multi-probe (recall should DROP — smaller candidate sets, no
# recovery probes), the same selective index with full multi-probe at
# deeper k, and the PRODUCTION-GRADE amplified setting (VERDICT r6
# item 4): 10 independent hash tables over the selective 6-plane
# index, candidates unioned and exactly rescored. Measured at sf0.1
# (2000 near-uniform vectors — the WORST case for LSH, neighbors
# barely closer than random): recall 0.96 vs 0.48 for the default,
# at the cost of scanning ~68% of the corpus across the table union
# (vs ~33% single-table) — amplification buys recall with linear
# table cost, and on real clustered embeddings the same setting scans
# far less. Tuning at real scale = rerun the audit with scale-sized
# settings (planes ~ log2(corpus/target_bucket_rows)); the machinery
# is setting-agnostic.
AUDIT_SETTINGS: tuple[tuple[int, int, int, int], ...] = (
    (N_PLANES, N_PLANES, TOP_K, 1),
    (6, 0, TOP_K, 1),
    (6, 6, 2 * TOP_K, 1),
    (6, 6, TOP_K, 10),
)


def ann_recall_audit(
    spark: SparkSession, sf_dir: str, checkpoint_dir: str | None = None
) -> DataFrame:
    """Recall@k of the LSH-bucketed ANN path against the exact top-k,
    measured entirely in-engine across AUDIT_SETTINGS — the
    settings×recall table every approximate-index deployment builds
    before trusting (or tuning) the index at scale (VERDICT r5 #7).
    Per (setting, query): how many of the exact top-k neighbors that
    setting's LSH run recovered, and the recall ratio (one IEEE
    division of exact longs).

    Both sides are the registry's own operators, so a green row here
    certifies the exact/approx pair agree on their shared contract
    (ids, ranking ties) — composition, like pipeline_e2e.

    Scale notes: both operand plans keep their own scale contracts
    (corpus never shuffled for scoring, queries broadcast); per
    setting the audit adds one join keyed on (query_id, neighbor_id)
    — both sides are k·|queries| rows, tiny by construction — and a
    |queries|-row rollup; settings union afterwards (no barrier
    between them). The exact side is ONE brute-force scan at
    max(k), materialized and prefix-filtered per setting (the
    ranking is a total order, so top-k is a prefix of top-max_k):
    union branches get no common-subplan elimination, so without
    the materialization every setting would re-run the O(|Q|·N)
    scan."""
    from angelone_clickhouse_spark.materialize import (
        checkpoint_sized,
        materialize,
    )

    # ONE corpus projection feeds the exact arm AND every LSH arm
    # (r17, VERDICT r16 #4 — the n_vecs-threading pattern): each arm
    # used to rebuild _vectors (scan + cast + interpreted norm fold)
    # inside its own subplan; union branches get no common-subplan
    # elimination, so the projection ran once per arm.
    vecs = checkpoint_sized(_vectors(spark, sf_dir), "audit vectors")
    max_k = max(k for _, _, k, _ in AUDIT_SETTINGS)
    exact_all = materialize(
        exact_topk(spark, sf_dir, max_k, vecs=vecs).select(
            "query_id", "neighbor_id", "rank"
        ),
        checkpoint_dir,
    )  # k·|queries| rows — tiny
    per_setting = []
    for n_planes, n_flips, k, n_tables in AUDIT_SETTINGS:
        exact = exact_all.filter(F.col("rank") <= k).select(
            "query_id", "neighbor_id"
        )
        approx = lsh_topk(
            spark, sf_dir, n_planes, n_flips, k, n_tables, vecs=vecs
        ).select("query_id", "neighbor_id", F.lit(1).alias("hit"))
        per_setting.append(
            exact.join(approx, ["query_id", "neighbor_id"], "left")
            .groupBy("query_id")
            .agg(
                F.count(F.lit(1)).alias("k"),
                F.sum(F.coalesce("hit", F.lit(0))).alias("n_matched"),
            )
            .select(
                F.lit(n_planes).alias("n_planes"),
                F.lit(n_flips).alias("n_flips"),
                F.lit(n_tables).alias("n_tables"),
                "query_id",
                "k",
                "n_matched",
                (F.col("n_matched") / F.col("k")).alias("recall"),
            )
        )
    out = per_setting[0]
    for s in per_setting[1:]:
        out = out.unionByName(s)
    return out


SEM_TAU = 0.30  # within-cluster cosine at/above this marks the larger id a dup


def semdedup(spark: SparkSession, sf_dir: str) -> DataFrame:
    """SemDeDup (Abbas et al. 2023, arXiv:2303.09540): semantic
    deduplication by clustering embeddings, then dropping items whose
    within-cluster cosine similarity to a lower-id item reaches
    SEM_TAU. Per vector: its cluster and an ``is_dup`` verdict. The
    drop rule is the anti-join relaxation (any lower-id neighbor ≥ τ
    marks a dup, whether or not that neighbor is itself a dup) —
    deterministic and shuffle-parallel, unlike the paper's sequential
    greedy scan, and it drops a superset of the greedy choice.

    Determinism: cluster assignment reuses :func:`kmeans_assign`'s
    integer-grid argmin (exact long distances, cent_id tiebreak);
    cosine is the sequential-fold double dot product that is
    bit-identical to DuckDB's list_dot_product, rounded to 6.

    Scale notes (100 TB): centroids broadcast, assignment is map-side
    argmin + one per-vec shuffle. The pairwise stage is sound
    prune-then-verify (the dedup_embedding device): a blocked numpy
    matmul emits candidates at cos >= τ-ε (ε ≫ float-summation noise,
    so no true pair is pruned), the same-cluster filter and the exact
    sequential-fold cosine run only on those — identical output to the
    naive within-cluster self-join at matmul speed. Pair cost is
    bounded by both the candidate density AND cluster size (~n/k, the
    paper's contract; k grows with corpus so clusters stay
    executor-sized)."""
    from angelone_clickhouse_spark.operators.embedding_fast import (
        _PRUNE_EPS,
        candidate_pairs_fast,
    )

    e = load_table(spark, sf_dir, "embeddings")
    gv = F.expr(
        f"transform(embedding, x -> "
        f"cast(floor(cast(x as double) * {KM_GRID}) as bigint))"
    )
    dv = F.expr("transform(embedding, x -> cast(x as double))")
    vecs = e.select("vec_id", gv.alias("g"), dv.alias("v")).select(
        "vec_id", "g", "v", _norm(F.col("v")).alias("nrm")
    )
    cents = vecs.filter(
        (F.col("vec_id") >= N_QUERIES)
        & (F.col("vec_id") < N_QUERIES + N_CENTROIDS)
    ).select(
        (F.col("vec_id") - N_QUERIES).alias("cent_id"),
        F.col("g").alias("cg"),
    )
    d2 = F.aggregate(
        F.zip_with("g", "cg", lambda x, y: (x - y) * (x - y)),
        F.lit(0).cast("long"),
        lambda acc, x: acc + x,
    )
    aw = Window.partitionBy("vec_id").orderBy(F.asc("d2"), F.asc("cent_id"))
    assigned = (
        vecs.crossJoin(F.broadcast(cents))
        .select("vec_id", "v", "nrm", "cent_id", d2.alias("d2"))
        .withColumn("rn", F.row_number().over(aw))
        .filter(F.col("rn") == 1)
        .select("vec_id", "cent_id", "v", "nrm")
    )
    # _PRUNE_EPS (two 1e-6 grid steps + noise) is the sound widening —
    # numpy and JVM cosines can round one grid step apart, so a 1-step
    # margin would leave soundness to ~1-ulp luck at the boundary
    cand = candidate_pairs_fast(spark, sf_dir, SEM_TAU - _PRUNE_EPS).select(
        "vec_a", "vec_b"
    )
    a = assigned.select(
        F.col("vec_id").alias("vec_a"),
        F.col("cent_id").alias("cent_a"),
        F.col("v").alias("va"),
        F.col("nrm").alias("na"),
    )
    b = assigned.select(
        F.col("vec_id").alias("vec_b"),
        F.col("cent_id").alias("cent_b"),
        F.col("v").alias("vb"),
        F.col("nrm").alias("nb"),
    )
    cos = F.round(_cos(F.col("va"), F.col("vb"), F.col("na"), F.col("nb")), 6)
    dup = (
        cand.join(a, "vec_a")
        .join(b, "vec_b")
        .filter(F.col("cent_a") == F.col("cent_b"))
        .select("vec_b", cos.alias("cos_sim"))
        .filter(F.col("cos_sim") >= SEM_TAU)
        .select(F.col("vec_b").alias("vec_id"))
        .distinct()
        .withColumn("dropped", F.lit(True))
    )
    # No broadcast hint on dup: it is bounded by corpus size (worst
    # case nearly every vec_id is a duplicate), so forcing a broadcast
    # would OOM executors at 100 TB; AQE picks broadcast when the
    # verdict set is actually small (ADVICE r5).
    return (
        assigned.select("vec_id", "cent_id")
        .join(dup, "vec_id", "left")
        .select(
            "vec_id",
            "cent_id",
            F.coalesce("dropped", F.lit(False)).alias("is_dup"),
        )
    )


QUERIES = {
    "kmeans_refine": kmeans_refine,
    "kmeans_assign": kmeans_assign,
    "semdedup": semdedup,
    "ann_recall_audit": ann_recall_audit,
    "ann_topk_cosine": ann_topk_cosine,
    "ann_lsh_topk": ann_lsh_topk,
    "ann_lsh_topk_amplified": ann_lsh_topk_amplified,
    "ann_ivf_topk": ann_ivf_topk,
    "ann_topk_quantized": ann_topk_quantized,
    "ann_topk_pq": ann_topk_pq,
}

def _exact_oracle_sql(k: int = TOP_K) -> str:
    return f"""
WITH e AS (
  SELECT vec_id,
         embedding::DOUBLE[] AS v,
         sqrt(list_dot_product(embedding::DOUBLE[], embedding::DOUBLE[])) AS nrm
  FROM embeddings
),
scored AS (
  SELECT q.vec_id AS query_id,
         n.vec_id AS neighbor_id,
         round(list_dot_product(q.v, n.v) / (q.nrm * n.nrm), 6) AS cos_sim
  FROM e q JOIN e n ON n.vec_id <> q.vec_id
  WHERE q.vec_id < {N_QUERIES}
)
SELECT query_id, neighbor_id, cos_sim, rank
FROM (
  SELECT *, CAST(row_number() OVER (
           PARTITION BY query_id
           ORDER BY cos_sim DESC, neighbor_id ASC
         ) AS INTEGER) AS rank
  FROM scored
) r
WHERE rank <= {k}
"""


ORACLES = {"ann_topk_cosine": _exact_oracle_sql()}


def _lsh_oracle_sql(
    n_planes: int = N_PLANES,
    n_flips: int | None = None,
    k: int = TOP_K,
    n_tables: int = 1,
) -> str:
    """Generated DuckDB spelling of lsh_topk at a given (planes,
    flips, k, tables) setting: identical md5-derived hyperplanes
    (table t uses plane family offset t*n_planes), sign-pattern
    buckets, hamming-1 multi-probe, candidate union across tables
    with exact rescoring, and rounded-cosine ranking."""
    if n_flips is None:
        n_flips = n_planes

    def plane(p: int) -> str:
        return (
            f"list_transform(generate_series(0, len(v) - 1), "
            f"d -> ((('0x' || substring(md5('{p}_' || d), 1, 15))::BIGINT "
            f"% 2001 - 1000) / 1000.0))"
        )

    def bucket_expr(offset: int) -> str:
        return " | ".join(
            f"(CASE WHEN list_dot_product(v, {plane(p + offset)}) > 0 "
            f"THEN {1 << p} ELSE 0 END)"
            for p in range(n_planes)
        )

    if n_tables > 1:
        bcols = ", ".join(
            f"({bucket_expr(t * n_planes)}) AS b{t}" for t in range(n_tables)
        )
        tb_union = "\n  UNION ALL ".join(
            f"SELECT vec_id, v, nrm, {t} AS t, b{t} AS bucket FROM b"
            for t in range(n_tables)
        )
        probes = ", ".join(
            ["bucket"] + [f"xor(bucket, {1 << p})" for p in range(n_flips)]
        )
        return f"""
WITH e AS (
  SELECT vec_id,
         embedding::DOUBLE[] AS v,
         sqrt(list_dot_product(embedding::DOUBLE[], embedding::DOUBLE[])) AS nrm
  FROM embeddings
),
b AS (
  SELECT vec_id, v, nrm, {bcols} FROM e
),
tb AS (
  {tb_union}
),
q AS (
  SELECT vec_id AS query_id, v AS qv, nrm AS qn, t, probe
  FROM tb, UNNEST([{probes}]) AS pr(probe)
  WHERE vec_id < {N_QUERIES}
),
scored AS (
  SELECT DISTINCT q.query_id, n.vec_id AS neighbor_id,
         round(list_dot_product(q.qv, n.v) / (q.qn * n.nrm), 6) AS cos_sim
  FROM q JOIN tb n ON n.t = q.t AND n.bucket = q.probe
  WHERE n.vec_id <> q.query_id
)
SELECT query_id, neighbor_id, cos_sim, rank
FROM (
  SELECT *, CAST(row_number() OVER (
           PARTITION BY query_id
           ORDER BY cos_sim DESC, neighbor_id ASC
         ) AS INTEGER) AS rank
  FROM scored
) r
WHERE rank <= {k}
"""

    bucket = bucket_expr(0)
    probes = ", ".join(
        ["bucket"] + [f"xor(bucket, {1 << p})" for p in range(n_flips)]
    )
    return f"""
WITH e AS (
  SELECT vec_id,
         embedding::DOUBLE[] AS v,
         sqrt(list_dot_product(embedding::DOUBLE[], embedding::DOUBLE[])) AS nrm
  FROM embeddings
),
b AS (
  SELECT vec_id, v, nrm, ({bucket}) AS bucket FROM e
),
q AS (
  SELECT vec_id AS query_id, v AS qv, nrm AS qn, probe
  FROM b, UNNEST([{probes}]) AS t(probe)
  WHERE vec_id < {N_QUERIES}
),
scored AS (
  SELECT q.query_id, n.vec_id AS neighbor_id,
         round(list_dot_product(q.qv, n.v) / (q.qn * n.nrm), 6) AS cos_sim
  FROM q JOIN b n ON n.bucket = q.probe
  WHERE n.vec_id <> q.query_id
)
SELECT query_id, neighbor_id, cos_sim, rank
FROM (
  SELECT *, CAST(row_number() OVER (
           PARTITION BY query_id
           ORDER BY cos_sim DESC, neighbor_id ASC
         ) AS INTEGER) AS rank
  FROM scored
) r
WHERE rank <= {k}
"""


ORACLES["ann_lsh_topk"] = _lsh_oracle_sql()
ORACLES["ann_lsh_topk_amplified"] = _lsh_oracle_sql(6, 6, TOP_K, 10)


def _recall_audit_oracle_sql() -> str:
    """Per AUDIT_SETTINGS: compose that setting's exact and LSH
    oracles verbatim (a drift in either operand's oracle surfaces
    here too) and union the settings — the settings×recall table."""
    parts = []
    for n_planes, n_flips, k, n_tables in AUDIT_SETTINGS:
        parts.append(
            f"""
SELECT {n_planes} AS n_planes, {n_flips} AS n_flips,
       {n_tables} AS n_tables,
       e.query_id,
       count(*) AS k,
       CAST(sum(CASE WHEN a.neighbor_id IS NOT NULL THEN 1 ELSE 0 END)
            AS BIGINT) AS n_matched,
       CAST(sum(CASE WHEN a.neighbor_id IS NOT NULL THEN 1 ELSE 0 END)
            AS DOUBLE) / count(*) AS recall
FROM ({_exact_oracle_sql(k)}) e
LEFT JOIN ({_lsh_oracle_sql(n_planes, n_flips, k, n_tables)}) a
  ON e.query_id = a.query_id AND e.neighbor_id = a.neighbor_id
GROUP BY e.query_id
"""
        )
    return " UNION ALL ".join(f"({p})" for p in parts)


ORACLES["ann_recall_audit"] = _recall_audit_oracle_sql()

ORACLES["ann_topk_quantized"] = f"""
WITH e AS (
  SELECT vec_id,
         embedding::DOUBLE[] AS v,
         sqrt(list_dot_product(embedding::DOUBLE[], embedding::DOUBLE[]))
           AS nrm
  FROM embeddings
),
quant AS (
  SELECT vec_id, v, nrm,
         list_transform(v, x -> CAST(round(
           x / list_aggregate(list_transform(v, y -> abs(y)), 'max')
             * {Q_BITS}) AS BIGINT)) AS q
  FROM e
),
qs AS (
  SELECT vec_id AS query_id, v AS qv, nrm AS qn, q AS qq FROM quant
  WHERE vec_id < {N_QUERIES}
),
short AS (
  SELECT query_id, neighbor_id, qv, qn, v, nrm,
         row_number() OVER (
           PARTITION BY query_id ORDER BY int_score DESC, neighbor_id ASC
         ) AS crn
  FROM (
    SELECT qs.query_id, n.vec_id AS neighbor_id, qs.qv, qs.qn, n.v, n.nrm,
           CAST(list_sum(list_transform(generate_series(1, {EMB_DIM}),
                i -> n.q[i] * qs.qq[i])) AS BIGINT) AS int_score
    FROM quant n CROSS JOIN qs
    WHERE n.vec_id <> qs.query_id
  )
),
scored AS (
  SELECT query_id, neighbor_id,
         round(list_dot_product(qv, v) / (qn * nrm), 6) AS cos_sim
  FROM short WHERE crn <= {Q_SHORTLIST}
)
SELECT query_id, neighbor_id, cos_sim, rank
FROM (
  SELECT *, CAST(row_number() OVER (
           PARTITION BY query_id
           ORDER BY cos_sim DESC, neighbor_id ASC
         ) AS INTEGER) AS rank
  FROM scored
)
WHERE rank <= {TOP_K}
"""

# DuckDB twin of ann_topk_pq: identical grid codebooks (the PQ_K
# fixed corpus rows), per-(vec, subspace) encode with the same
# (d2, cw) tiebreak, ADC over the code table, shortlist, exact float
# re-score — value-checked end to end like the scalar-quantized twin.
_PQ_D2 = (
    f"CAST(list_sum(list_transform(generate_series(1, {PQ_SUB}), "
    f"j -> (e.g[m.m * {PQ_SUB} + j] - c.cg[m.m * {PQ_SUB} + j]) "
    f"   * (e.g[m.m * {PQ_SUB} + j] - c.cg[m.m * {PQ_SUB} + j]))) "
    f"AS BIGINT)"
)

ORACLES["ann_topk_pq"] = f"""
WITH e AS (
  SELECT vec_id,
         embedding::DOUBLE[] AS v,
         sqrt(list_dot_product(embedding::DOUBLE[], embedding::DOUBLE[]))
           AS nrm,
         list_transform(embedding::DOUBLE[],
                        x -> CAST(floor(x * {KM_GRID}) AS BIGINT)) AS g
  FROM embeddings
),
cb AS (
  SELECT vec_id - {N_QUERIES} AS cw, g AS cg FROM e
  WHERE vec_id >= {N_QUERIES} AND vec_id < {N_QUERIES + PQ_K}
),
m AS (SELECT unnest(generate_series(0, {PQ_M - 1})) AS m),
dist AS (
  SELECT e.vec_id, m.m, c.cw, {_PQ_D2} AS d2
  FROM e CROSS JOIN m CROSS JOIN cb c
),
codes AS (
  SELECT vec_id, m, cw AS code FROM (
    SELECT *, row_number() OVER (
      PARTITION BY vec_id, m ORDER BY d2, cw) AS rn
    FROM dist
  ) WHERE rn = 1
),
adc AS (
  SELECT d.vec_id AS query_id, c.vec_id AS neighbor_id,
         sum(d.d2) AS adc
  FROM codes c JOIN dist d ON d.m = c.m AND d.cw = c.code
  WHERE d.vec_id < {N_QUERIES} AND c.vec_id <> d.vec_id
  GROUP BY 1, 2
),
short AS (
  SELECT query_id, neighbor_id,
         row_number() OVER (
           PARTITION BY query_id ORDER BY adc, neighbor_id) AS crn
  FROM adc
),
scored AS (
  SELECT s.query_id, s.neighbor_id,
         round(list_dot_product(q.v, n.v) / (q.nrm * n.nrm), 6) AS cos_sim
  FROM short s
  JOIN e q ON q.vec_id = s.query_id
  JOIN e n ON n.vec_id = s.neighbor_id
  WHERE s.crn <= {PQ_SHORTLIST}
)
SELECT query_id, neighbor_id, cos_sim, rank
FROM (
  SELECT *, CAST(row_number() OVER (
           PARTITION BY query_id
           ORDER BY cos_sim DESC, neighbor_id ASC
         ) AS INTEGER) AS rank
  FROM scored
)
WHERE rank <= {TOP_K}
"""

ORACLES["kmeans_refine"] = _kmeans_refine_oracle_sql(KM_ITERS)

ORACLES["kmeans_assign"] = f"""
WITH v AS (
  SELECT vec_id,
         list_transform(embedding::DOUBLE[],
                        x -> CAST(floor(x * {KM_GRID}) AS BIGINT)) AS v
  FROM embeddings
),
c0 AS (
  SELECT vec_id - {N_QUERIES} AS cent_id, v AS cv FROM v
  WHERE vec_id >= {N_QUERIES} AND vec_id < {N_QUERIES + N_CENTROIDS}
),
a0 AS (
  SELECT vec_id, v, cent_id, d2,
         row_number() OVER (PARTITION BY vec_id ORDER BY d2, cent_id) AS rn
  FROM (
    SELECT v.vec_id, v.v, c.cent_id,
           CAST(list_sum(list_transform(generate_series(1, {EMB_DIM}),
                i -> (v.v[i] - c.cv[i]) * (v.v[i] - c.cv[i]))) AS BIGINT) AS d2
    FROM v CROSS JOIN c0 c
  )
),
m0 AS (SELECT vec_id, v, cent_id FROM a0 WHERE rn = 1),
c1 AS (
  SELECT cent_id, list(m ORDER BY pos) AS cv
  FROM (
    SELECT cent_id, i AS pos, CAST(sum(v[i]) // count(*) AS BIGINT) AS m
    FROM m0, UNNEST(generate_series(1, {EMB_DIM})) AS u(i)
    GROUP BY cent_id, i
  )
  GROUP BY cent_id
),
a1 AS (
  SELECT vec_id, cent_id, d2,
         row_number() OVER (PARTITION BY vec_id ORDER BY d2, cent_id) AS rn
  FROM (
    SELECT v.vec_id, c.cent_id,
           CAST(list_sum(list_transform(generate_series(1, {EMB_DIM}),
                i -> (v.v[i] - c.cv[i]) * (v.v[i] - c.cv[i]))) AS BIGINT) AS d2
    FROM v CROSS JOIN c1 c
  )
)
SELECT cent_id,
       count(*) AS n_members,
       CAST(sum(d2) AS BIGINT) AS inertia_grid2
FROM a1
WHERE rn = 1
GROUP BY cent_id
"""

ORACLES["semdedup"] = f"""
WITH v AS (
  SELECT vec_id,
         list_transform(embedding::DOUBLE[],
                        x -> CAST(floor(x * {KM_GRID}) AS BIGINT)) AS g,
         embedding::DOUBLE[] AS v,
         sqrt(list_dot_product(embedding::DOUBLE[], embedding::DOUBLE[])) AS nrm
  FROM embeddings
),
c AS (
  SELECT vec_id - {N_QUERIES} AS cent_id, g AS cg FROM v
  WHERE vec_id >= {N_QUERIES} AND vec_id < {N_QUERIES + N_CENTROIDS}
),
a AS (
  SELECT vec_id, cent_id, v, nrm FROM (
    SELECT v.vec_id, c.cent_id, v.v, v.nrm,
           row_number() OVER (PARTITION BY v.vec_id ORDER BY
             CAST(list_sum(list_transform(generate_series(1, {EMB_DIM}),
                  i -> (v.g[i] - c.cg[i]) * (v.g[i] - c.cg[i]))) AS BIGINT),
             c.cent_id) AS rn
    FROM v CROSS JOIN c
  ) WHERE rn = 1
),
dup AS (
  SELECT DISTINCT qb.vec_id
  FROM a qa JOIN a qb ON qa.cent_id = qb.cent_id AND qa.vec_id < qb.vec_id
  WHERE round(list_dot_product(qa.v, qb.v) / (qa.nrm * qb.nrm), 6)
        >= {SEM_TAU}
)
SELECT vec_id, cent_id,
       (vec_id IN (SELECT vec_id FROM dup)) AS is_dup
FROM a
"""

ORACLES["ann_ivf_topk"] = f"""
WITH e AS (
  SELECT vec_id,
         embedding::DOUBLE[] AS v,
         sqrt(list_dot_product(embedding::DOUBLE[], embedding::DOUBLE[])) AS nrm
  FROM embeddings
),
cents AS (
  SELECT vec_id AS cent_id, v AS cv, nrm AS cn
  FROM e
  WHERE vec_id >= {N_QUERIES} AND vec_id < {N_QUERIES + N_CENTROIDS}
),
assign AS (
  SELECT e.vec_id, e.v, e.nrm, c.cent_id,
         row_number() OVER (
           PARTITION BY e.vec_id
           ORDER BY round(list_dot_product(e.v, c.cv) / (e.nrm * c.cn), 6)
                    DESC, c.cent_id ASC
         ) AS arn
  FROM e CROSS JOIN cents c
),
members AS (
  SELECT vec_id, v, nrm, cent_id FROM assign WHERE arn = 1
),
q AS (SELECT vec_id AS query_id, v AS qv, nrm AS qn FROM e
      WHERE vec_id < {N_QUERIES}),
probes AS (
  SELECT query_id, qv, qn, cent_id,
         row_number() OVER (
           PARTITION BY query_id
           ORDER BY round(list_dot_product(qv, cv) / (qn * cn), 6)
                    DESC, cent_id ASC
         ) AS prn
  FROM q CROSS JOIN cents
),
scored AS (
  SELECT p.query_id, m.vec_id AS neighbor_id,
         round(list_dot_product(p.qv, m.v) / (p.qn * m.nrm), 6) AS cos_sim
  FROM (SELECT * FROM probes WHERE prn <= {N_PROBE}) p
  JOIN members m ON m.cent_id = p.cent_id
  WHERE m.vec_id <> p.query_id
)
SELECT query_id, neighbor_id, cos_sim, rank
FROM (
  SELECT *, CAST(row_number() OVER (
           PARTITION BY query_id
           ORDER BY cos_sim DESC, neighbor_id ASC
         ) AS INTEGER) AS rank
  FROM scored
)
WHERE rank <= {TOP_K}
"""
