"""Per-query profiling harness for the optimization rounds.

For each named registry query: run it through the bench's noop-sink
methodology (guide §1.4) inside a job group, and report wall seconds
plus the JOB and STAGE counts the scheduler actually ran, its completed
tasks and the whole-stage codegen classes it compiled — at fixture
scale most registry entries are overhead-bound, so job/stage/task
counts are the direct measure of the fixed cost a query pays (and
the count of driver round-trips is scale-relevant: each one is a
synchronization barrier at any data size).

Usage: python tools/profile_query.py <query> [query ...] [--runs N]
       python tools/profile_query.py --top 15   (slowest by bench_full.json)
"""

from __future__ import annotations

import json
import os
import sys
import time

sys.path.insert(0, os.path.dirname(os.path.dirname(os.path.abspath(__file__))))

SF_DIR = os.environ.get("SPARK_GRAFT_SF_DIR", "/root/testdata/sf0.1")
CPUS = os.environ.get("SPARK_GRAFT_CPUS", "32")


def main() -> None:
    args = [a for a in sys.argv[1:]]
    runs = 2
    if "--runs" in args:
        i = args.index("--runs")
        runs = int(args[i + 1])
        del args[i : i + 2]
    names: list[str] = []
    if "--top" in args:
        i = args.index("--top")
        k = int(args[i + 1])
        del args[i : i + 2]
        full = json.load(
            open(os.path.join(os.path.dirname(__file__), "..", "bench_full.json"))
        )
        med = {
            n: sorted(rs)[len(rs) // 2]
            for n, rs in full["query_run_secs"].items()
        }
        names += [n for n, _ in sorted(med.items(), key=lambda kv: -kv[1])[:k]]
    names += args

    import __spark_entry__ as entrymod
    from angelone_clickhouse_spark.session import codegen_compiles, get_spark

    spark = get_spark(app_name="profile", master=f"local[{CPUS}]")
    sc = spark.sparkContext
    tracker = sc.statusTracker()
    reg = entrymod.queries()

    # warm-up
    spark.read.parquet(os.path.join(SF_DIR, "lineitem.parquet")).count()

    out = {}
    for name in names:
        fn = reg[name]
        per_run = []
        for r in range(runs):
            group = f"prof-{name}-{r}"
            sc.setJobGroup(group, name)
            compiles0 = codegen_compiles(spark)
            t0 = time.time()
            fn(spark, SF_DIR).write.format("noop").mode("overwrite").save()
            secs = round(time.time() - t0, 3)
            sc.setJobGroup(None, None)
            job_ids = tracker.getJobIdsForGroup(group)
            n_stages = 0
            n_tasks = 0
            for j in job_ids:
                ji = tracker.getJobInfo(j)
                if ji is None:
                    continue
                for sid in ji.stageIds:
                    si = tracker.getStageInfo(sid)
                    # completed tasks: a skipped stage adds none
                    if si is not None and si.numCompletedTasks > 0:
                        n_stages += 1
                        n_tasks += si.numCompletedTasks
            per_run.append(
                {
                    "secs": secs,
                    "jobs": len(job_ids),
                    "stages": n_stages,
                    "tasks": n_tasks,
                    "compiles": codegen_compiles(spark) - compiles0,
                }
            )
            print(f"{name} run{r}: {per_run[-1]}", flush=True)
        out[name] = per_run
    print(json.dumps(out))


if __name__ == "__main__":
    main()
