"""Benchmark harness: every registered query at $SPARK_GRAFT_SF_DIR.

Output contract (driver keeps only the LAST ~2000 chars of stdout and
parses a JSON line out of that tail — BENCH_r02's `parsed: null` was
this line outgrowing the window once the registry hit 82 queries):

1. ``bench_full.json`` (repo root) — the complete record: per-query
   run arrays + medians, failures, ingest reconciliation fields.
2. stdout, second-to-last line — the full compact JSON (may be
   front-clipped in the driver's tail; harmless, it is for humans).
3. stdout, LAST line — a summary JSON guaranteed < 1500 bytes: totals
   plus the slowest-K per-query medians and a pointer to the full
   file. This is the line the driver's tail parser will find.

Each query executes via a noop-format write (full plan execution, no
driver-side collect cost), BENCH_RUNS times (default 3); the reported
per-query number is the median, so round-over-round deltas are
attributable against BASELINE.md's documented +/-45% machine noise.
Runs are INTERLEAVED (pass 1 runs every query once, then pass 2, ...)
rather than back-to-back per query, so a transient host stall lands in
one pass of many queries instead of all runs of one query — and each
query whose spread still exceeds VARIANCE_RATIO (max/min > 1.5x with
an absolute floor) is named in ``high_variance_queries``: a judge
comparing rounds can see exactly which medians carry noise instead of
inferring it from totals (VERDICT r4 item 3; ROUND4.md documented
same-code swings of 84-104 s concentrated in the exact-dedup family).
A warm-up query absorbs session/JIT startup. Ingest throughput
(frames decoded -> projected -> appended per second) is reported
alongside, to compare against the reference's derived >= 200 ticks/s
floor (BASELINE.md).
"""

from __future__ import annotations

import glob
import json
import os
import re
import statistics
import sys
import tempfile
import time

sys.path.insert(0, os.path.dirname(os.path.abspath(__file__)))

SF_DIR = os.environ.get("SPARK_GRAFT_SF_DIR", "/root/testdata/sf0.1")
REPO_ROOT = os.path.dirname(os.path.abspath(__file__))
CPUS = os.environ.get("SPARK_GRAFT_CPUS", "32")
RUNS = int(os.environ.get("SPARK_GRAFT_BENCH_RUNS", "3"))
FULL_PATH = os.environ.get(
    "SPARK_GRAFT_BENCH_OUT",
    os.path.join(os.path.dirname(os.path.abspath(__file__)), "bench_full.json"),
)
SUMMARY_BUDGET = 1500  # bytes; driver tail window is ~2000
TOP_K = 30  # slowest-K queries named in the summary line
VARIANCE_RATIO = 1.5  # max/min spread beyond this flags a noisy median
VARIANCE_ABS_FLOOR = 0.5  # sec; sub-second jitter on tiny queries is not noise


def _sf_label(path: str) -> float:
    base = os.path.basename(path.rstrip("/"))
    try:
        return float(base.replace("sf", ""))
    except ValueError:
        return -1.0


def main() -> None:
    import __spark_entry__ as entrymod
    from angelone_clickhouse_spark.session import codegen_compiles, get_spark

    spark = get_spark(app_name="bench", master=f"local[{CPUS}]")
    loadavg_start = [round(x, 2) for x in os.getloadavg()]
    sc = spark.sparkContext
    tracker = sc.statusTracker()

    # warm-up: JIT, codegen, parquet footer caches
    t0 = time.time()
    spark.read.parquet(os.path.join(SF_DIR, "lineitem.parquet")).count()
    warmup = time.time() - t0

    # Noise canary: a FIXED constant-work query (lineitem scan +
    # 3-column agg). Its code never changes round-over-round, so its
    # drift measures the BOX, not the repo: r6's review burned real
    # time proving 21 uniform "regressions" were host load (VERDICT
    # r6 item 3). Sampling: one untimed compile run, one timed warm
    # point before the pass loop, then one timed point after each
    # pass. When a prior round's BENCH_r*.json with a canary_median
    # is present, the output includes canary_ratio_vs_last
    # (this_round/last_round) — divide per-query deltas by it before
    # calling anything a regression; with no prior canary the ratio
    # is absent and the comparison is across rounds' canary_median.
    def _canary() -> float:
        from pyspark.sql import functions as F

        t0 = time.time()
        spark.read.parquet(os.path.join(SF_DIR, "lineitem.parquet")).agg(
            F.sum("l_quantity"), F.avg("l_extendedprice"), F.count("*")
        ).write.format("noop").mode("overwrite").save()
        return round(time.time() - t0, 3)

    # Interleaved canary sampling (VERDICT r14 #8): the r14 round
    # showed start/end-only canaries under-sample a run whose load
    # drifts mid-way (loadavg 3 -> 5 with the edge canaries flat), so
    # every sample now carries a wall-clock offset and the 1-min
    # loadavg at sample time, and extra samples are taken every
    # CANARY_EVERY queries WITHIN each pass — a mid-run spike becomes
    # attributable to the query group it overlapped.
    bench_start = time.time()
    canary_samples: list[dict] = []

    def _canary_sample() -> float:
        s = _canary()
        canary_samples.append(
            {
                "at_s": round(time.time() - bench_start, 1),
                "secs": s,
                "load1": round(os.getloadavg()[0], 2),
            }
        )
        return s

    CANARY_EVERY = 40  # queries between mid-pass samples

    _canary()  # untimed: pays plan compilation once
    canary_runs = [_canary_sample()]

    run_arrays: dict[str, list[float]] = {}
    timings: dict[str, float] = {}
    query_task_counts: dict[str, int] = {}
    # codegen compilations per query and pass, beside the task counts
    query_compiles: dict[str, list[int]] = {}
    failures: dict[str, str] = {}
    registry = list(entrymod.queries().items())
    # interleaved passes: every query once per pass (see module doc)
    for _pass in range(RUNS):
        for qi, (name, fn) in enumerate(registry):
            if qi and qi % CANARY_EVERY == 0:
                # mid-pass box sample: recorded in canary_samples for
                # spike attribution but kept OUT of canary_runs —
                # canary_median must keep the edge-only cadence every
                # prior round used, or the first cross-round
                # canary_ratio_vs_last mixes two methodologies
                # (mid-pass points run right after heavy query groups
                # and could be systematically slower)
                _canary_sample()
            if name in failures:
                continue
            # job group per run: lets the scheduler's own job/stage
            # records prove how many TASKS each query actually ran —
            # the CPU-contract evidence the driver's scaling check
            # needs (VERDICT r16 #2). Group bookkeeping is driver-side
            # and O(1); the timed region is unchanged in kind.
            group = f"bench-{name}-{_pass}"
            sc.setJobGroup(group, name)
            compiles0 = codegen_compiles(spark)
            t0 = time.time()
            try:
                df = fn(spark, SF_DIR)
                df.write.format("noop").mode("overwrite").save()
                run_arrays.setdefault(name, []).append(
                    round(time.time() - t0, 3)
                )
            except Exception as e:  # noqa: BLE001 — record, keep benching
                failures[name] = f"{type(e).__name__}: {e}"
            finally:
                sc.setJobGroup(None, None)
                query_compiles.setdefault(name, []).append(
                    codegen_compiles(spark) - compiles0
                )
                if _pass == 0:
                    n_tasks = 0
                    for j in tracker.getJobIdsForGroup(group):
                        ji = tracker.getJobInfo(j)
                        if ji is None:
                            continue
                        for sid in ji.stageIds:
                            si = tracker.getStageInfo(sid)
                            # completed tasks: a skipped stage adds none
                            if si is not None:
                                n_tasks += si.numCompletedTasks
                    query_task_counts[name] = n_tasks
        canary_runs.append(_canary_sample())  # one point per pass end
    # a query is either timed (all runs succeeded) or failed — never
    # both, so the summary total and n_failures stay disjoint
    for name in failures:
        run_arrays.pop(name, None)
    for name, runs in run_arrays.items():
        timings[name] = round(statistics.median(runs), 3)
    # spread over the WARM runs only (the first pass pays per-query
    # plan compilation — expected, absorbed by the median; the flag is
    # for unexplained spread like the dedup-family host stalls)
    high_variance = {}
    for name, runs in run_arrays.items():
        warm = runs[1:] if len(runs) >= 3 else runs
        if (
            max(warm) > VARIANCE_RATIO * max(min(warm), 1e-9)
            and max(warm) - min(warm) > VARIANCE_ABS_FLOOR
        ):
            high_variance[name] = runs

    # ingest throughput: decode -> project -> parquet append, batch path
    from angelone_clickhouse_spark.sources.decoder import decode_frames, wire_to_ticks
    from angelone_clickhouse_spark.sources.frames import generate_frames, write_frames_parquet

    n_frames = 200_000
    with tempfile.TemporaryDirectory() as d:
        write_frames_parquet(
            spark, generate_frames(n_frames, seed=42), f"{d}/in", n_files=int(CPUS)
        )
        src = spark.read.parquet(f"{d}/in")
        # warm the FULL Python-worker pool with an untimed complete
        # pass: a limit() warm-up collapses to one partition and warms
        # one worker, leaving the timed runs to pay the other ~31
        # worker spawns (~20-30s on local[32]) — that is session
        # startup cost, not pipeline throughput. Same plan, noop sink.
        warm_t0 = time.time()
        wire_to_ticks(decode_frames(src)).write.format("noop").mode(
            "overwrite"
        ).save()
        ingest_warm = time.time() - warm_t0
        ingest_runs = []
        for i in range(2):
            t0 = time.time()
            wire_to_ticks(decode_frames(src)).write.mode("overwrite").parquet(
                f"{d}/out{i}"
            )
            ingest_runs.append(time.time() - t0)
    best = min(ingest_runs)
    ingest_rps = round(n_frames / best, 1)

    # skew-stress: the heavy-hitter variant (one user owns ~50% of
    # events). Times the salted two-phase aggregate vs the plain
    # group-by over the SAME skewed data — the per-round evidence that
    # the salted path holds under an actual hot key (VERDICT r5 #3).
    from pyspark.sql import functions as F

    from angelone_clickhouse_spark.operators.skew import salted_user_stats
    from angelone_clickhouse_spark.sources.skewed import write_skewed_fixture

    skew_secs: dict[str, float] = {}
    with tempfile.TemporaryDirectory() as d:
        write_skewed_fixture(spark, SF_DIR, d)
        for label, frame in (
            ("salted", lambda: salted_user_stats(spark, d)),
            (
                "plain",
                lambda: spark.read.parquet(f"{d}/events.parquet")
                .groupBy("user_id")
                .agg(
                    F.count(F.lit(1)).alias("n_events"),
                    (
                        F.sum(F.round(F.col("value") * 100).cast("long"))
                        / F.lit(100.0)
                    ).alias("total_value"),
                    F.max("value").alias("max_value"),
                ),
            ),
        ):
            runs = []
            for _ in range(RUNS):
                t0 = time.time()
                frame().write.format("noop").mode("overwrite").save()
                runs.append(time.time() - t0)
            skew_secs[label] = round(statistics.median(runs), 3)

        # UDAF crossover arm (VERDICT r12 #7): algebraic aggregates
        # never benefit from salting in Spark — map-side partial
        # aggregation already collapses the hot key, which is why
        # skew_secs reads salted > plain every round (and that is the
        # honest result, not a fixture failure). The plan shape where
        # salting genuinely pays is a grouped-agg pandas UDAF: NO
        # partial step, so the hot key's entire payload ships to the
        # one reducer that owns the group. The arm amplifies the
        # fixture (x100 explode, ~10M rows) and concentrates 90% of
        # rows on the hot user so the single-task funnel dominates
        # scheduling noise — measured crossover on this box: salted
        # ~4.1s vs plain ~5.9s. Two timed passes (not RUNS): the
        # pair's ORDERING is the datapoint, and the arm is the most
        # expensive fixture in the bench.
        from angelone_clickhouse_spark.operators.skew import (
            udaf_user_stats,
        )
        from angelone_clickhouse_spark.sources.skewed import HOT_USER

        skew_ev = spark.read.parquet(f"{d}/events.parquet")
        # bound the amplified fixture to ~10M rows at ANY SF (the
        # crossover is about the single-reducer payload size, which
        # this fixes absolutely): x100 at sf0.1, x10 at sf1.0. Project
        # to the two consumed columns BEFORE the explode — amplifying
        # the full-width rows OOM'd the checkpoint at sf1.0.
        amp_n = max(1, min(100, 10_000_000 // max(1, skew_ev.count())))
        amp = (
            skew_ev.select("event_id", "user_id", "value")
            .withColumn(
                "user_id",
                F.when(
                    F.col("event_id") % 10 > 0, F.lit(HOT_USER)
                ).otherwise(F.col("user_id")),
            )
            .withColumn("_r", F.explode(F.expr(f"sequence(1, {amp_n})")))
            .localCheckpoint(eager=True)
        )
        for label, is_salted in (("salted", True), ("plain", False)):
            runs = []
            for _ in range(2):
                t0 = time.time()
                udaf_user_stats(amp, salted=is_salted).write.format(
                    "noop"
                ).mode("overwrite").save()
                runs.append(time.time() - t0)
            skew_secs[f"udaf_{label}"] = round(statistics.median(runs), 3)
        amp.unpersist()

    # ANN index family: build vs probe, timed SEPARATELY (VERDICT r11
    # note #2: the per-query medians conflate the one-time index
    # build with the probe whenever bench_runs=1 — at sf1.0 the
    # bucketed probe's headline number included its build). The build
    # is forced by calling the index builder under a pinned-planes
    # cache key; the probes then time warm by construction at ANY
    # bench_runs setting.
    ann_index: dict[str, float] = {}
    try:
        from angelone_clickhouse_spark.operators.embedding_fast import (
            KNN_ANN_TABLES,
            _ann_topk_deleted_probe,
            ann_corpus_index,
            ann_tombstones,
            ann_topk_bucketed,
            knn_graph_ann_bucketed,
        )

        _, _planes = ann_corpus_index(spark, SF_DIR)  # adaptive planes
        t0 = time.time()
        _name, _ = ann_corpus_index(
            spark, SF_DIR, KNN_ANN_TABLES, n_planes=_planes
        )
        ann_index["build_secs"] = round(time.time() - t0, 3)
        # delete lifecycle split (VERDICT r12 #6): the tombstone-batch
        # write is build work; the probe rides the shared index and
        # should scale like ann_topk_bucketed's
        t0 = time.time()
        _tomb = spark.table(ann_tombstones(spark, SF_DIR, _name))
        ann_index["tomb_build_secs"] = round(time.time() - t0, 3)
        for key, fn in (
            ("probe_secs", knn_graph_ann_bucketed),
            ("topk_probe_secs", ann_topk_bucketed),
            (
                "deleted_probe_secs",
                lambda s, d: _ann_topk_deleted_probe(
                    s, d, _name, _planes, _tomb
                ),
            ),
        ):
            runs = []
            for _ in range(max(RUNS, 2)):
                t0 = time.time()
                fn(spark, SF_DIR).write.format("noop").mode(
                    "overwrite"
                ).save()
                runs.append(time.time() - t0)
            ann_index[key] = round(statistics.median(runs), 3)
    except Exception as e:  # noqa: BLE001 — diagnostics, not the gate
        ann_index["error"] = f"{type(e).__name__}: {e}"

    total = round(sum(timings.values()), 3)
    canary_median = round(statistics.median(canary_runs), 3)
    full = {
        "metric": "wall_clock_all_queries",
        "value": total,
        "unit": "sec",
        "queries": timings,
        "sf": _sf_label(SF_DIR),
        "n_queries": len(timings),
        "bench_runs": RUNS,
        "query_run_secs": run_arrays,
        "warmup_sec": round(warmup, 3),
        "ingest_rows_per_sec": ingest_rps,
        "ingest_n_frames": n_frames,
        # reconciliation fields: if warm ~= best the pool never warmed
        # and the rows/s figure is startup-bound, not throughput
        "ingest_warm_pass_sec": round(ingest_warm, 3),
        "ingest_run_secs": [round(r, 3) for r in ingest_runs],
        # salted vs plain aggregate over the heavy-hitter fixture (one
        # user owns ~50% of events): the salted path's overhead vs the
        # straight group-by on the same skewed data
        "skew_secs": skew_secs,
        # ANN index lifecycle, build and warm probe timed separately
        # (the per-query medians above conflate them at bench_runs=1)
        "ann_index_secs": ann_index,
        # noise canary (see _canary above): canary_runs / the median
        # keep the edge-only cadence (1 warm point + 1 per pass) so
        # cross-round ratios compare like with like; the mid-pass
        # points live only in canary_samples below. Compare
        # canary_median across rounds FIRST — if it moved, the
        # round's deltas are weather.
        "canary_run_secs": canary_runs,
        "canary_median": canary_median,
        # every canary point with its wall-clock offset + 1-min
        # loadavg at sample time (VERDICT r14 #8): mid-run load
        # spikes are attributable to the query group they overlapped
        "canary_samples": canary_samples,
        # CPU-contract proof (VERDICT r16 #2): the effective master,
        # the scheduler's parallelism, and per-query total task counts
        # from the first pass's job groups — so the driver's
        # suspect_cpus_ignored heuristic can verify $SPARK_GRAFT_CPUS
        # took effect instead of inferring from wall-clock ratios on
        # an overhead-bound fixture
        "master": sc.master,
        "default_parallelism": sc.defaultParallelism,
        "query_task_counts": query_task_counts,
        "query_compiles": query_compiles,
        "loadavg_start": loadavg_start,
        "loadavg_end": [round(x, 2) for x in os.getloadavg()],
        # queries whose interleaved runs spread > VARIANCE_RATIO: their
        # medians carry host noise — compare those across rounds with
        # care (full run arrays are in query_run_secs)
        "high_variance_queries": sorted(high_variance),
    }
    # normalize against the newest prior round file that carried a
    # canary (BENCH_r07 onward): ratio > 1 means this round's box was
    # slower, and per-query deltas should be divided by it
    prev_canary = None

    def _round_no(path: str) -> int:
        m = re.search(r"BENCH_r(\d+)\.json$", path)
        return int(m.group(1)) if m else -1

    # numeric round sort: lexicographic would rank r99 above r100
    for prior in sorted(
        glob.glob(os.path.join(REPO_ROOT, "BENCH_r*.json")),
        key=_round_no,
        reverse=True,
    ):
        try:
            with open(prior) as pf:
                pj = json.load(pf)
            # driver round files wrap the summary line under "parsed"
            pc = pj.get("canary_median") or pj.get("parsed", {}).get(
                "canary_median"
            )
        except Exception:  # noqa: BLE001 — a malformed file is not our problem
            continue
        if pc:
            prev_canary, prev_name = pc, os.path.basename(prior)
            break
    if prev_canary:
        full["canary_ratio_vs_last"] = round(canary_median / prev_canary, 3)
        full["canary_ratio_baseline_file"] = prev_name
    if failures:
        full["failures"] = failures
    with open(FULL_PATH, "w") as f:
        json.dump(full, f, indent=1, sort_keys=True)
        f.write("\n")

    # full line for the human/tail record (front may clip in the tail)
    line_full = dict(full)
    line_full.pop("query_run_secs")  # keeps the line near the window size
    print(json.dumps(line_full, separators=(",", ":")))

    # guaranteed-parseable summary LAST: slowest-K medians + pointer
    slowest = dict(
        sorted(timings.items(), key=lambda kv: kv[1], reverse=True)[:TOP_K]
    )
    summary = {
        "metric": "wall_clock_all_queries",
        "value": total,
        "unit": "sec",
        "sf": _sf_label(SF_DIR),
        "n_queries": len(timings),
        "bench_runs": RUNS,
        "ingest_rows_per_sec": ingest_rps,
        "skew_secs": skew_secs,
        "canary_median": canary_median,
        "canary_ratio_vs_last": full.get("canary_ratio_vs_last"),
        "master": sc.master,
        "default_parallelism": sc.defaultParallelism,
        "tasks_total": sum(query_task_counts.values()),
        "compiles_total": sum(map(sum, query_compiles.values())),
        # compilations after the first pass: about 100 a pass at
        # sf0.001 (generated code with per-call literals); thousands
        # mean the codegen cache evicts the registry's working set
        "compiles_warm": sum(sum(c[1:]) for c in query_compiles.values()),
        "n_failures": len(failures),
        "n_high_variance": len(high_variance),
        "detail_file": "bench_full.json",
        "queries": slowest,
        "queries_omitted": max(0, len(timings) - len(slowest)),
    }
    out = json.dumps(summary, separators=(",", ":"))
    while len(out) > SUMMARY_BUDGET and summary["queries"]:
        summary["queries"].popitem()
        summary["queries_omitted"] += 1
        out = json.dumps(summary, separators=(",", ":"))
    sys.stdout.flush()
    print(out, flush=True)
    spark.stop()


if __name__ == "__main__":
    main()
