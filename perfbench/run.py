"""Benchmark entry point: run one workload and print one JSON line.

    python3 perfbench/run.py --workload ingest --seed 1 --seconds 10 --trace 0

Run from the repository root. Each run starts a fresh worker process
(``worker.py``) whose scratch files, Spark local dirs, temp files and
event log all live under ``.perfbench/`` in the repository; the run's
own directory is removed at the end. While the worker runs, this
process samples the memory of the worker's whole process tree (driver
Python, JVM, Python workers) from ``/proc``.

``--trace 0`` prints the end-to-end metrics. ``--trace 1`` prints the
per-layer metrics: it runs the workload with Spark's event log on, then
an untraced reference for the tracing overhead (for ``ingest``, the
catch-up drain alone, at nproc cores and then at one core, in a second
worker; for ``batch_ops``, one pass in a second session of the traced
worker); its spans go to ``.perfbench/trace/``.

``--write-spec`` rewrites ``BENCHMARK.json`` from ``metrics.py``.
"""

from __future__ import annotations

import argparse
import json
import os
import shlex
import shutil
import signal
import subprocess
import sys
import time

HERE = os.path.dirname(os.path.abspath(__file__))
ROOT = os.path.dirname(HERE)
sys.path.insert(0, HERE)

from metrics import END_TO_END, RUN_SECONDS, WORKLOADS, per_layer, spec  # noqa: E402

WORKER_TIMEOUT_S = 170
MEM_SAMPLE_S = 0.2


def _children() -> dict[int, list[int]]:
    kids: dict[int, list[int]] = {}
    for pid in os.listdir("/proc"):
        if not pid.isdigit():
            continue
        try:
            with open(f"/proc/{pid}/stat") as fh:
                ppid = int(fh.read().rsplit(")", 1)[1].split()[1])
        except (OSError, IndexError, ValueError):
            continue
        kids.setdefault(ppid, []).append(int(pid))
    return kids


def _tree(root: int) -> list[int]:
    kids, out, todo = _children(), [], [root]
    while todo:
        pid = todo.pop()
        out.append(pid)
        todo += kids.get(pid, [])
    return out


def _pss_kb(pid: int) -> int:
    """Proportional set size: resident memory with shared pages split
    between the processes sharing them (Python workers are forks)."""
    try:
        with open(f"/proc/{pid}/smaps_rollup") as fh:
            for line in fh:
                if line.startswith("Pss:"):
                    return int(line.split()[1])
    except OSError:
        pass
    return 0


def _kill_tree(pids: list[int]) -> None:
    for pid in pids:
        try:
            os.kill(pid, signal.SIGKILL)
        except OSError:
            pass


def run_worker(workload: str, seed: int, seconds: int, role: str, run_dir: str) -> dict:
    """Run one worker to completion; returns its result with the peak
    memory of its process tree added."""
    work = os.path.join(run_dir, role)
    tmp = os.path.join(work, "tmp")
    os.makedirs(tmp)
    out = os.path.join(work, "result.json")
    eventlog = os.path.join(work, "eventlog") if role == "traced" else ""
    conf = [
        "spark.ui.showConsoleProgress=false",
        f"spark.local.dir={os.path.join(work, 'local')}",
        f"spark.sql.warehouse.dir={os.path.join(work, 'warehouse')}",
        # no hsperfdata file: the JVM would write it under /tmp
        f"spark.driver.extraJavaOptions=-Djava.io.tmpdir={tmp} -XX:-UsePerfData",
    ]
    if eventlog:
        os.makedirs(eventlog)
        conf += ["spark.eventLog.enabled=true", "spark.eventLog.compress=false",
                 f"spark.eventLog.dir={eventlog}"]
    env = dict(os.environ)
    env.update({
        "SPARK_GRAFT_CPUS": str(os.cpu_count() or 1),
        "SPARK_GRAFT_DRIVER_MEM": "1g",
        "PYTHONPATH": ROOT + (os.pathsep + env["PYTHONPATH"] if env.get("PYTHONPATH") else ""),
        "TMPDIR": tmp,
        "SPARK_LOCAL_DIRS": os.path.join(work, "local"),
        "PYSPARK_SUBMIT_ARGS": " ".join(f"--conf {shlex.quote(c)}" for c in conf)
        + " pyspark-shell",
    })
    env.pop("SPARK_MASTER", None)
    cmd = [sys.executable, os.path.join(HERE, "worker.py"), "--workload", workload,
           "--seed", str(seed), "--seconds", str(seconds), "--role", role,
           "--data", os.path.join(work, "data"), "--work", work, "--out", out]
    if eventlog:
        cmd += ["--eventlog", eventlog]
    log_path = os.path.join(work, "worker.log")
    peak_kb = 0
    with open(log_path, "w") as log:
        proc = subprocess.Popen(cmd, cwd=work, env=env, stdout=log, stderr=subprocess.STDOUT,
                                start_new_session=True)
        deadline = time.monotonic() + WORKER_TIMEOUT_S
        try:
            while proc.poll() is None:
                if time.monotonic() > deadline:
                    raise TimeoutError(f"{role} worker ran past {WORKER_TIMEOUT_S}s")
                peak_kb = max(peak_kb, sum(_pss_kb(p) for p in _tree(proc.pid)))
                time.sleep(MEM_SAMPLE_S)
        finally:
            _kill_tree(_tree(proc.pid))
            proc.wait()
            # the JVM's session may outlive the worker if it was killed
            try:
                os.killpg(proc.pid, signal.SIGKILL)
            except OSError:
                pass
    if proc.returncode != 0 or not os.path.exists(out):
        with open(log_path) as fh:
            tail = fh.read()[-3000:]
        raise RuntimeError(f"{role} worker exited {proc.returncode}:\n{tail}")
    with open(out) as fh:
        res = json.load(fh)
    res["peak_rss_mb"] = peak_kb / 1024.0
    return res


def main() -> int:
    ap = argparse.ArgumentParser(description=__doc__.split("\n")[0])
    ap.add_argument("--workload", choices=sorted(WORKLOADS))
    ap.add_argument("--seed", type=int, default=1)
    ap.add_argument("--seconds", type=int, default=RUN_SECONDS)
    ap.add_argument("--trace", type=int, choices=(0, 1), default=0)
    ap.add_argument("--write-spec", action="store_true")
    args = ap.parse_args()

    if args.write_spec:
        with open(os.path.join(ROOT, "BENCHMARK.json"), "w") as fh:
            json.dump(spec(), fh, indent=2)
            fh.write("\n")
        return 0
    if not args.workload:
        ap.error("--workload is required")
    if not os.path.isfile(os.path.join(ROOT, "angelone_clickhouse_spark", "__init__.py")):
        print("perfbench: the angelone_clickhouse_spark package is not in this checkout",
              file=sys.stderr)
        return 2

    base = os.path.join(ROOT, ".perfbench")
    run_dir = os.path.join(base, f"run-{os.getpid()}")
    os.makedirs(run_dir)
    # --trace 1: the traced run gives every per-layer figure and an
    # untraced reference the tracing overhead; for ingest the reference
    # is the catch-up drain alone, also run at one core for the scaling;
    # for batch_ops it is a second session inside the traced worker
    if not args.trace:
        roles = ["plain"]
    elif args.workload == "ingest":
        roles = ["traced", "drain"]
    else:
        roles = ["traced"]
    try:
        res = {r: run_worker(args.workload, args.seed, args.seconds, r, run_dir)
               for r in roles}
    finally:
        shutil.rmtree(run_dir, ignore_errors=True)

    main_run = res[roles[0]]
    for role, r in res.items():
        for err in r["errors"]:
            print(f"[{role}] failed: {err.strip()}", file=sys.stderr)
    attempted = sum(r["attempted"] for r in res.values())
    failed = sum(r["failed"] for r in res.values())
    info = {"master": main_run["master"], "default_parallelism": main_run["default_parallelism"],
            "canary_s": main_run["layers"].get("box.canary_s")}
    print(f"perfbench {args.workload} seed={args.seed} " + json.dumps(info))

    if args.trace:
        layers = {name: 0.0 for name in per_layer()}
        layers.update(main_run["layers"])
        reference = res[roles[-1]]
        ref_work_s = reference.get("reference_work_s", reference["work_s"])
        layers["trace.overhead_ratio"] = main_run["work_s"] / max(ref_work_s, 1e-9)
        layers["failed_share"] = failed / max(attempted, 1)
        if "throughput_1core" in reference:
            layers["ingest.scaling_x"] = (reference["e2e"]["throughput_per_s"]
                                          / max(reference["throughput_1core"], 1e-9))
        os.makedirs(os.path.join(base, "trace"), exist_ok=True)
        trace_path = os.path.join(base, "trace", f"{args.workload}-seed{args.seed}.json")
        with open(trace_path, "w") as fh:
            json.dump({role: {"spans": r["spans"], "self_times": r["self_times"],
                              "window": r["window"]} for role, r in res.items()}, fh)
        units = per_layer()
        metrics = {n: {"value": layers[n], "unit": units[n][0]} for n in units}
        print(f"layer split covers {layers['trace.span_cover_share']:.1%} of the timed "
              f"window; driver {layers['trace.driver_s']:.3f} s, stage-active "
              f"{layers['trace.stage_active_s']:.3f} s; spans in {trace_path}")
    else:
        e2e = dict(main_run["e2e"])
        e2e["setup_s"] = main_run["setup_s"]
        e2e["peak_rss_mb"] = main_run["peak_rss_mb"]
        missing = [n for n in END_TO_END if n not in e2e]
        if missing:
            print(f"perfbench: the run measured no {', '.join(missing)}", file=sys.stderr)
            return 1
        metrics = {n: {"value": e2e[n], "unit": u} for n, (u, _, _) in END_TO_END.items()}
    for name, m in metrics.items():
        print(f"  {name:42s} {m['value']:.6g} {m['unit']}")
    print(json.dumps({"correct": failed == 0, "attempted": attempted, "failed": failed,
                      "metrics": metrics}))
    return 0


if __name__ == "__main__":
    sys.exit(main())
