"""One benchmark process: set up, warm up, measure one workload for a
fixed time, check its outputs, and write the figures as JSON.

``run.py`` starts this file with the environment already pointing every
scratch location into the run's work directory. Roles:

* ``plain``  tracing off: the end-to-end metrics;
* ``traced`` the same run with Spark's event log on: the listener,
  status-tracker and span figures, and the ``trace.*`` figures the event
  log gives for the timed window. For ``batch_ops`` it goes on with the
  traced-only operators, then, in a second session of the same JVM with
  the event log off, one pass without a warm-up: the reference for the
  tracing overhead;
* ``drain``  the ``ingest`` catch-up drain alone, at nproc cores and then
  at one core: the untraced reference for the tracing overhead and the
  scaling ratio.

Usage: python3 perfbench/worker.py --workload W --seed N --seconds S
       --role plain|traced|drain --data DIR --work DIR --out FILE
"""

from __future__ import annotations

import argparse
import concurrent.futures
import datetime
import json
import os
import statistics
import sys
import threading
import time
import traceback

HERE = os.path.dirname(os.path.abspath(__file__))
ROOT = os.path.dirname(HERE)
sys.path.insert(0, ROOT)
sys.path.insert(0, HERE)

import fixtures  # noqa: E402
from metrics import (  # noqa: E402
    CURATION_OPS,
    GATE_OPS,
    QUERY_SURFACE,
    TRACED_GATES,
    TRACED_OPS,
)
from probes import (  # noqa: E402
    READER_GROUP,
    Spans,
    StreamProbe,
    committed_files,
    covered,
    eventlog_layers,
    jobs_tasks,
    median,
    n_commits,
    quantile,
)

# ~76k frames an epoch: per-frame work (decode, dedup state, sorted
# write) is about 70% of a catch-up epoch; the fixed per-epoch cost is
# ~1 s, the whole of a live epoch
BACKLOG_FRAMES = 225_000
BACKLOG_FILES = 3
WARM_FRAMES = 10_000
LIVE_FILE_EVERY_S = 0.1
LIVE_FRAMES_PER_FILE = 250
LIVE_WARM_FILES = 5
DUPLICATE_EVERY = 50
CORRUPT_EVERY = 97
DRAIN_TIMEOUT_S = 120
LIVE_TAIL_S = 15.0
# scratch-dir prefix of each gate's run (verdicts and index stores)
GATE_RUN_PREFIX = {
    "stream_novelty_docs": "stream_novelty_run_",
    "stream_dedup_docs": "stream_dedup_docs_run_",
    "stream_semdedup_lsh": "stream_semdedup_lsh_run_",
}


class Run:
    """State shared by the phases of one workload run."""

    def __init__(self, args, spark, probe: StreamProbe, spans: Spans, work: str,
                 cores: int | None):
        self.args, self.spark, self.probe, self.spans = args, spark, probe, spans
        self.sc = spark.sparkContext
        self.data = args.data
        self.work = work
        self.cores = cores
        self.layers: dict[str, float] = {}
        self.e2e: dict[str, float] = {}
        self.attempted = 0
        self.failed = 0
        self.errors: list[str] = []
        self.window = (0.0, 0.0)
        self.setup_s = 0.0
        self.work_s = 0.0
        self.backlog: tuple[str, int] | None = None
        self._oracle = None
        self._calls = 0
        self._lock = threading.Lock()

    def oracle(self):
        """The DuckDB oracle over this run's fixture tables (opened on
        first use, after the timed region)."""
        from oracle import Oracle

        if self._oracle is None:
            self._oracle = Oracle(self.data)
        return self._oracle

    def attempt(self, n: int = 1) -> None:
        with self._lock:
            self.attempted += n

    def fail(self, what: str, n: int = 1) -> None:
        with self._lock:
            self.failed += n
            self.errors.append(what)

    def call(self, name: str, fn, parent: str | None = None,
             group_prefix: str = "perfbench-call-", collect: bool = True):
        """Build a registry DataFrame, then collect its result to the
        driver (the results are small; the rows are what the output
        check compares), or with ``collect=False`` run it to a noop sink
        and return no rows. Returns ((columns, rows), build_s, exec_s,
        jobs, tasks)."""
        with self._lock:
            group = f"{group_prefix}{self._calls}"
            self._calls += 1
        self.sc.setJobGroup(group, name)
        try:
            t0 = time.time()
            df = fn(self.spark, self.data)
            t1 = time.time()
            if collect:
                rows = df.collect()
            else:
                rows = None
                df.write.format("noop").mode("overwrite").save()
            t2 = time.time()
        finally:
            self.sc.setJobGroup(None, None)
        jobs, tasks = jobs_tasks(self.sc, group)
        self.spans.add(f"{name}.build", t0, t1, parent, layer="driver")
        self.spans.add(f"{name}.exec", t1, t2, parent, layer="exec")
        return (df.columns, rows), t1 - t0, t2 - t1, jobs, tasks

    def canary(self) -> float:
        from pyspark.sql import functions as F

        t0 = time.time()
        self.spark.read.parquet(os.path.join(self.data, "lineitem.parquet")).agg(
            F.sum("l_quantity"), F.avg("l_extendedprice"), F.count("*")
        ).write.format("noop").mode("overwrite").save()
        return time.time() - t0

    def epoch_spans(self, epochs: list[dict], parent: str) -> None:
        for e in epochs:
            start = datetime.datetime.fromisoformat(e["timestamp"]).timestamp()
            self.spans.add("stream.epoch", start, start + e["trigger_s"], parent,
                           layer="streaming")

    def stream_layers(self, batches: dict[str, int]) -> None:
        """Listener epochs of the given query runs (run id -> committed
        batches) into ``stream.*``; jobs and tasks per epoch come from
        the event log."""
        epochs: list[dict] = []
        for rid, n in batches.items():
            epochs += self.probe.wait_for(rid, n)
        self.epoch_spans(epochs, "stream")
        col = lambda k: [e[k] for e in epochs]  # noqa: E731
        self.layers.update({
            "stream.epochs": float(len(epochs)),
            "stream.rows_per_epoch_p50": median(col("rows")),
            "stream.trigger_s_p50": median(col("trigger_s")),
            "stream.trigger_s_p90": quantile(col("trigger_s"), 0.9),
            "stream.addbatch_s_p50": median(col("addbatch_s")),
            "stream.machinery_s_p50": median(
                [e["trigger_s"] - e["addbatch_s"] for e in epochs]),
            "stream.planning_s_p50": median(col("planning_s")),
            "stream.state_rows": float(max(col("state_rows"), default=0)),
            "stream.state_bytes": float(max(col("state_bytes"), default=0)),
            "stream.late_rows": float(sum(col("late_rows"))),
        })


# --- tick ingest ------------------------------------------------------------

def truth_digest(truth: list[dict]) -> tuple[int, ...]:
    """What a correct sink holds: one row per distinct non-corrupt
    (token, sequence_number), with order-insensitive sums of price,
    volume and a price/sequence mix."""
    from angelone_clickhouse_spark.sources.frames import FULL_LEN, HEADER_LEN

    seen = {}
    for r in truth:
        if r["frame_len"] < (FULL_LEN if r["mode"] >= 2 else HEADER_LEN):
            continue
        seen[(r["token"], r["sequence_number"])] = r
    rows = seen.values()
    return (
        len(seen),
        len(seen),
        sum(r["ltp_paise"] for r in rows),
        sum(r["volume"] or 0 for r in rows),
        sum(r["sequence_number"] * (r["ltp_paise"] % 997) for r in rows),
    )


def corrupt_count(truth: list[dict]) -> int:
    from angelone_clickhouse_spark.sources.frames import FULL_LEN, HEADER_LEN

    return sum(r["frame_len"] < (FULL_LEN if r["mode"] >= 2 else HEADER_LEN)
               for r in truth)


def sink_digest(spark, out_dir: str) -> tuple[int, ...]:
    from pyspark.sql import functions as F

    paise = F.round(F.col("last_traded_price") * 100).cast("long")
    row = spark.read.parquet(out_dir).agg(
        F.count("*"),
        F.countDistinct("token", "sequence_number"),
        F.sum(paise),
        F.sum(F.coalesce(F.col("volume"), F.lit(0.0)).cast("long")),
        F.sum(F.col("sequence_number") * (paise % 997)),
    ).first()
    return tuple(int(v or 0) for v in row)


def sink_layers(run: Run, out_dir: str, epochs: int, rows: int) -> None:
    files = nbytes = 0
    for d, _, names in os.walk(out_dir):
        for n in names:
            if n.endswith(".parquet"):
                files += 1
                nbytes += os.path.getsize(os.path.join(d, n))
    leftover = sum(len(ns) for _, _, ns in os.walk(out_dir + ".stage"))
    if leftover:
        run.fail(f"{leftover} files left in {out_dir}.stage")
    run.layers.update({
        "sink.rows": float(rows),
        "sink.files_per_epoch": files / max(epochs, 1),
        "sink.bytes_per_row": nbytes / max(rows, 1),
        "sink.stage_leftover_files": float(leftover),
    })


def decoder_probe(run: Run, frames_dir: str, want_corrupt: int) -> None:
    """``corrupt_frame_count`` (a full ``decode_frames`` pass) over a frame
    backlog: decoded frames per second, and the corrupt-frame count
    against the generator's truth."""
    from angelone_clickhouse_spark.streaming.ingest import corrupt_frame_count

    t0 = time.time()
    counts = corrupt_frame_count(run.spark.read.parquet(frames_dir)).first()
    dt = time.time() - t0
    bad = counts["n_corrupt"]
    if bad != want_corrupt:
        run.fail(f"decoder counted {bad} corrupt frames, truth {want_corrupt}")
    run.layers["decoder.rows_per_s"] = counts["n_frames"] / dt
    run.layers["decoder.corrupt_frames"] = float(bad)


def drain(run: Run, frames_dir: str, tag: str):
    """One availableNow drain of ``frames_dir`` into a fresh sink.
    Returns (sink dir, run id, seconds)."""
    from angelone_clickhouse_spark.streaming.ingest import ingest_to_parquet

    out = os.path.join(run.work, f"{tag}-sink")
    ckpt = os.path.join(run.work, f"{tag}-ckpt")
    t0 = time.time()
    q = ingest_to_parquet(run.spark, frames_dir, out, ckpt, available_now=True,
                          max_files_per_trigger=1)
    if not q.awaitTermination(DRAIN_TIMEOUT_S):
        q.stop()
        raise TimeoutError(f"{tag}: drain did not finish in {DRAIN_TIMEOUT_S}s")
    t1 = time.time()
    run.spans.add("ingest.drain", t0, t1, None, layer="streaming.ingest")
    return out, ckpt, str(q.runId), t1 - t0


def ingest(run: Run, measure_start) -> None:
    """Catch-up then live: drain a tick backlog, then serve a live feed
    beside a Q1-Q8 reader. The ``drain`` role runs the drain only; its
    one-core leg follows a warmed nproc leg in the same JVM, so it skips
    the warm-up and drains half the backlog (epochs of the same size)."""
    import pyarrow as pa
    import pyarrow.parquet as pq

    import __spark_entry__
    from angelone_clickhouse_spark.sources.frames import (
        generate_frames_and_truth,
        write_frames_parquet_ordered,
    )
    from angelone_clickhouse_spark.streaming.ingest import ingest_to_parquet

    queries = __spark_entry__.queries()
    seed, seconds = run.args.seed, run.args.seconds
    live_role = run.args.role != "drain"
    one_core = run.cores == 1
    n_live = int(round(seconds / LIVE_FILE_EVERY_S))
    n_files = LIVE_WARM_FILES + n_live
    with run.spans.span("setup.frames", layer="sources.frames"):
        frames, truth = generate_frames_and_truth(
            BACKLOG_FRAMES, seed=seed, duplicate_every=DUPLICATE_EVERY,
            corrupt_every=CORRUPT_EVERY)
        backlog = os.path.join(run.work, "backlog")
        n_backlog = BACKLOG_FILES // 2 if one_core else BACKLOG_FILES
        write_frames_parquet_ordered(frames[:len(frames) * n_backlog // BACKLOG_FILES],
                                     backlog, n_files=n_backlog)
        warm = os.path.join(run.work, "warm")
        write_frames_parquet_ordered(frames[:WARM_FRAMES], warm, n_files=2)
        live_frames, live_truth = generate_frames_and_truth(
            n_files * LIVE_FRAMES_PER_FILE * DUPLICATE_EVERY // (DUPLICATE_EVERY + 1),
            seed=seed + 1, duplicate_every=DUPLICATE_EVERY, corrupt_every=CORRUPT_EVERY)
        per = -(-len(live_frames) // n_files)
        tables = [pa.table({"frame": pa.array(live_frames[k * per:(k + 1) * per], pa.binary())})
                  for k in range(n_files)]
        warm_want = truth_digest(truth[:WARM_FRAMES])
        truth = truth[:len(truth) * n_backlog // BACKLOG_FILES]
        run.backlog = (backlog, corrupt_count(truth))
        want = truth_digest(truth)
        del frames, truth

    def q_round(parent: str, lat: list, builds: list, execs: list, jt: list,
                stop: threading.Event | None = None) -> None:
        for name in QUERY_SURFACE:
            if stop is not None and stop.is_set():
                return
            run.attempt()
            try:
                # a noop sink: collecting rows in the driver would take
                # the GIL from the stream's foreachBatch body beside it
                _, b, e, j, t = run.call(name, queries[name], parent, READER_GROUP,
                                         collect=False)
                lat.append((name, b + e))
                builds.append(b)
                execs.append(e)
                jt.append((j, t))
            except Exception as exc:
                run.fail(f"{name}: {exc!r}")

    solo: list[float] = []
    if not one_core:
        with run.spans.span("setup.warmup"):
            cold = threading.Thread(target=q_round, args=("warmup", [], [], [], []))
            if live_role:
                cold.start()
            out, _, _, _ = drain(run, warm, "warm")
            if sink_digest(run.spark, out) != warm_want:
                run.fail("warm-up sink differs from the generator truth")
            if live_role:
                cold.join()
                q_round("queries.solo", solo, [], [], [])

    # catch-up: one drain of the backlog, then a read of what landed
    measure_start()
    t_lo = time.time()
    run.attempt(n_backlog)
    out, ckpt, rid, secs = drain(run, backlog, "backfill")
    t0 = time.time()
    got = sink_digest(run.spark, out)
    read_s = time.time() - t0
    run.spans.add("sink.read", t0, t0 + read_s, None, layer="streaming.epoch_commit")
    missing = n_backlog - len(committed_files(ckpt))
    if missing:
        run.fail(f"backfill: {missing} backlog files not committed", missing)
    elif got != want:
        run.fail(f"backfill: sink {got} != truth {want}", n_backlog)
    # frames per second of epoch over the drain's data epochs: query
    # start-up and the final empty trigger are left out
    epochs = [e for e in run.probe.wait_for(rid, n_commits(ckpt)) if e["rows"]]
    run.epoch_spans(epochs, "backfill")
    run.layers.update({
        "backfill.epochs": float(len(epochs)),
        "backfill.rows_per_epoch_p50": median([e["rows"] for e in epochs]),
        "backfill.trigger_s_p50": median([e["trigger_s"] for e in epochs]),
        "backfill.addbatch_s_p50": median([e["addbatch_s"] for e in epochs]),
        "backfill.drain_s": secs,
        "backfill.ticks_per_drain_s": want[0] / secs,
        "backfill.read_s": read_s,
    })
    run.e2e["throughput_per_s"] = (sum(e["rows"] for e in epochs)
                                   / max(sum(e["trigger_s"] for e in epochs), 1e-9))
    run.work_s = secs
    run.window = (t_lo, time.time())
    if not live_role:
        return

    # live: an open-loop feed beside a closed-loop Q1-Q8 reader
    feed_dir = os.path.join(run.work, "feed")
    tmp_dir = os.path.join(run.work, "feed.tmp")
    out = os.path.join(run.work, "live-sink")
    ckpt = os.path.join(run.work, "live-ckpt")
    os.makedirs(feed_dir)
    os.makedirs(tmp_dir)

    def put(k: int) -> float:
        name = f"f{k:05d}.parquet"
        pq.write_table(tables[k], os.path.join(tmp_dir, name))
        os.rename(os.path.join(tmp_dir, name), os.path.join(feed_dir, name))
        return time.time()

    q = ingest_to_parquet(run.spark, feed_dir, out, ckpt, available_now=False,
                          processing_time="0 seconds")
    try:
        for k in range(LIVE_WARM_FILES):
            put(k)
        deadline = time.time() + 60
        while len(committed_files(ckpt)) < LIVE_WARM_FILES and time.time() < deadline:
            time.sleep(0.05)
        due: dict[str, float] = {}
        late: list[float] = []
        feed_done = threading.Event()
        t_feed = time.time() + 0.05

        def generator():
            for i in range(n_live):
                k = LIVE_WARM_FILES + i
                due[f"f{k:05d}.parquet"] = t_at = t_feed + i * LIVE_FILE_EVERY_S
                pause = t_at - time.time()
                if pause > 0:
                    time.sleep(pause)
                late.append(put(k) - t_at)
            feed_done.set()

        conc, builds, execs, jt = [], [], [], []

        def analyst():
            while not feed_done.is_set():
                q_round("queries.concurrent", conc, builds, execs, jt, feed_done)

        threads = [threading.Thread(target=generator), threading.Thread(target=analyst)]
        for t in threads:
            t.start()
        for t in threads:
            t.join()
        t_end_feed = time.time()
        while time.time() < t_end_feed + LIVE_TAIL_S:
            committed = committed_files(ckpt)
            if all(n in committed for n in due):
                break
            time.sleep(0.05)
        committed = committed_files(ckpt)
        run.window = (t_lo, time.time())
        run.spans.add("feed", t_feed, t_end_feed, None, layer="sources.frames")
    finally:
        q.stop()

    fresh = [committed[n][1] - t for n, t in due.items() if n in committed]
    missing = [n for n in due if n not in committed]
    run.attempt(n_live)
    if missing:
        run.fail(f"{len(missing)} feed files not committed within {LIVE_TAIL_S}s", len(missing))
    by_query: dict[str, list[float]] = {}
    for name, secs in conc:
        by_query.setdefault(name, []).append(secs)
    if len(by_query) < len(QUERY_SURFACE):
        run.fail("the feed ended before the reader ran every one of Q1-Q8")
    # a feed that ran late or rows the watermark dropped make the run
    # invalid: the first is the generator's fault, the second the stream's
    if max(late, default=0.0) >= LIVE_FILE_EVERY_S / 2:
        run.fail(f"the feed generator ran {max(late):.3f} s late")
    batches = n_commits(ckpt)
    run.stream_layers({str(q.runId): batches})
    if run.layers["stream.late_rows"]:
        run.fail(f"{run.layers['stream.late_rows']:.0f} live rows dropped by the watermark")
    run.e2e.update({
        "latency_p50_s": median(fresh),
        "latency_p90_s": quantile(fresh, 0.9),
        # every query weighs the same, whatever mix the window completed;
        # a query's median is robust to the one call that met an epoch's
        # busiest part
        "read_s": statistics.fmean(median(v) for v in by_query.values())
        if by_query else 0.0,
    })
    n_q = max(len(jt), 1)
    run.layers.update({
        "feed.frames": float(len(live_frames)),
        "feed.files": float(n_files),
        "feed.late_max_s": max(late, default=0.0),
        "feed.backlog_files_end": float(len(missing)),
        "queries.solo_s": statistics.fmean(s for _, s in solo) if solo else 0.0,
        "queries.concurrent_p90_s": quantile([s for _, s in conc], 0.9),
        "queries.build_s_p50": median(builds),
        "queries.exec_s_p50": median(execs),
        "queries.jobs_per_query": sum(j for j, _ in jt) / n_q,
        "queries.tasks_per_query": sum(t for _, t in jt) / n_q,
    })
    live_want = truth_digest(live_truth)
    got = sink_digest(run.spark, out)
    if not missing and got != live_want:
        run.fail(f"live sink {got} != truth {live_want}", n_live)
    sink_layers(run, out, batches, live_want[0])
    oracle = run.oracle()
    for name in QUERY_SURFACE:
        df = queries[name](run.spark, run.data)
        why = oracle.mismatch(name, (df.columns, df.collect()))
        if why:
            run.fail(f"{name}: {why}")


# --- curation operators and stream gates ------------------------------------

def op_layers(run: Run, op: str, calls: list[tuple]) -> list[str]:
    """Per-operator figures from its calls (build_s, exec_s, jobs, tasks,
    new stream run ids); for a gate also its epoch figures. Returns the
    gate's stream run ids."""
    from angelone_clickhouse_spark.streaming.docdedup import N_STREAM_EPOCHS

    run.layers.update({
        f"ops.{op}.build_s": median([c[0] for c in calls]),
        f"ops.{op}.exec_s": median([c[1] for c in calls]),
        f"ops.{op}.jobs": median([c[2] for c in calls]),
        f"ops.{op}.tasks": median([c[3] for c in calls]),
    })
    rids = [rid for c in calls for rid in c[4]]
    if not rids:
        return []
    epochs = [e for rid in rids for e in run.probe.wait_for(rid, N_STREAM_EPOCHS)]
    run.layers[f"ops.{op}.epoch_s_p50"] = median([e["trigger_s"] for e in epochs])
    run.layers[f"ops.{op}.machinery_s_p50"] = median(
        [e["trigger_s"] - e["addbatch_s"] for e in epochs])
    return rids


def warm_call(run: Run, op: str, fn) -> None:
    """One untimed call; a failure counts as a failed operation."""
    try:
        run.call(op, fn, "warmup")
    except Exception as exc:
        run.attempt()
        run.fail(f"{op} (warm-up): {exc!r}")


def timed_call(run: Run, op: str, fn, parent: str, results: dict) -> tuple | None:
    """One call of ``op`` as an operation: its result goes to
    ``results`` for the output check. Returns (build_s, exec_s, jobs,
    tasks, new stream run ids), or None if it raised."""
    run.attempt()
    before = set(run.probe.batches)
    try:
        res, b, e, j, t = run.call(op, fn, parent)
    except Exception as exc:
        run.fail(f"{op}: {exc!r}")
        return None
    results[op] = res
    return b, e, j, t, sorted(set(run.probe.batches) - before)


def batch_ops(run: Run, measure_start) -> None:
    """Closed loop, one client: every operator and the gate once per
    pass, in a fixed order, until ``--seconds`` have passed, after one
    untimed warm-up pass (which also builds the gate's replay dir).

    The traced run then calls the ANN recall and the docdedup and
    embdedup gates once each, outside the timed window, after one
    untimed call of each (their first calls take up to twice as long)."""
    import __spark_entry__
    from angelone_clickhouse_spark.streaming.docdedup import N_STREAM_EPOCHS

    queries = __spark_entry__.queries()
    ops = CURATION_OPS + GATE_OPS
    # the reference session follows a traced one in the same JVM
    warm_ops = () if run.args.role == "reference" else ops
    with run.spans.span("setup.warmup"):
        for op in warm_ops:
            warm_call(run, op, queries[op])

    measure_start()
    t_lo = time.time()
    passes, results = [], {}
    calls: dict[str, list] = {op: [] for op in ops}
    while True:
        t_pass = time.time()
        for op in ops:
            c = timed_call(run, op, queries[op], "pass", results)
            if c:
                calls[op].append(c)
        passes.append(time.time() - t_pass)
        if time.time() >= t_lo + run.args.seconds:
            break
    run.window = (t_lo, time.time())
    run.work_s = median(passes)
    lat = [c[0] + c[1] for cs in calls.values() for c in cs]
    run.e2e.update({
        "throughput_per_s": len(ops) / median(passes),
        "latency_p50_s": median(lat),
        "latency_p90_s": quantile(lat, 0.9),
        "read_s": statistics.fmean(c[1] for cs in calls.values() for c in cs) if lat else 0.0,
    })
    gate_runs = {}
    for op, cs in calls.items():
        if cs:
            gate_runs.update((rid, N_STREAM_EPOCHS) for rid in op_layers(run, op, cs))
    run.stream_layers(gate_runs)

    if run.args.role == "traced":
        extra = TRACED_OPS + TRACED_GATES
        with run.spans.span("traced_ops.warmup"):
            # one untimed call each, all at once on their own threads
            with concurrent.futures.ThreadPoolExecutor(len(extra)) as pool:
                list(pool.map(lambda op: warm_call(run, op, queries[op]), extra))
        with run.spans.span("traced_ops"):
            for op in extra:
                c = timed_call(run, op, queries[op], "traced_ops", results)
                if c:
                    op_layers(run, op, [c])

    oracle = run.oracle()
    for op, res in results.items():
        why = oracle.mismatch(op, res)
        if why:
            run.fail(f"{op}: {why}")
    gate_sinks(run)


def gate_sinks(run: Run) -> None:
    """Sink figures over the last run of each gate that ran (verdicts
    and index stores), which live in the package's own scratch dirs
    under TMPDIR."""
    import glob

    from angelone_clickhouse_spark.streaming.docdedup import N_STREAM_EPOCHS

    files = nbytes = rows = leftover = gates = 0
    for op in GATE_OPS + TRACED_GATES:
        runs = glob.glob(os.path.join(os.environ["TMPDIR"], GATE_RUN_PREFIX[op] + "*"))
        if not runs:
            continue
        last = max(runs, key=os.path.getmtime)
        gates += 1
        for d in os.listdir(last):
            if d.endswith(".stage") or d == "ckpt":
                continue
            for sub, _, names in os.walk(os.path.join(last, d)):
                for n in names:
                    if n.endswith(".parquet"):
                        files += 1
                        nbytes += os.path.getsize(os.path.join(sub, n))
        rows += run.spark.read.parquet(os.path.join(last, "verdicts")).count()
        leftover += sum(len(ns) for d in glob.glob(os.path.join(last, "*.stage"))
                        for _, _, ns in os.walk(d))
    if leftover:
        run.fail(f"{leftover} files left in the gates' staging dirs")
    run.layers.update({
        "sink.rows": float(rows),
        "sink.files_per_epoch": files / max(gates * N_STREAM_EPOCHS, 1),
        "sink.bytes_per_row": nbytes / max(rows, 1),
        "sink.stage_leftover_files": float(leftover),
    })


WORKLOADS = {"ingest": ingest, "batch_ops": batch_ops}


def measure(args, cores: int | None = None) -> dict:
    """One Spark session: set up, warm up, run the workload, check its
    outputs. ``cores`` overrides the session's ``local[N]`` master."""
    from angelone_clickhouse_spark.session import get_spark

    work = args.work
    if cores or args.role == "reference":
        work = os.path.join(args.work, f"{args.role}-{cores or 'n'}")
    spans = Spans(f"{args.workload}-{args.seed}-{args.role}")
    t0 = time.time()
    with spans.span("session.start", layer="session"):
        spark = get_spark(app_name=f"perfbench-{args.workload}",
                          master=f"local[{cores}]" if cores else None,
                          shuffle_partitions=cores)
    session_s = time.time() - t0
    master = spark.sparkContext.master
    parallelism = spark.sparkContext.defaultParallelism
    probe = StreamProbe()
    spark.streams.addListener(probe)
    run = Run(args, spark, probe, spans, work, cores)
    run.layers["session.start_s"] = session_s
    canary = []

    def measure_start():
        run.setup_s = time.time() - t0
        canary.append(run.canary())

    try:
        with spans.span("setup.fixtures"):
            fixtures.write_tables(args.data, args.seed)
        WORKLOADS[args.workload](run, measure_start)
        canary.append(run.canary())
        if args.role == "traced" and run.backlog:
            decoder_probe(run, *run.backlog)
    except Exception:
        run.fail(traceback.format_exc(limit=4))
    lo, hi = run.window
    leaves = [(s["start"], s["end"]) for s in spans.items
              if s["parent"] in ("pass", "queries.concurrent", "stream", "backfill")
              or s["name"] in ("ingest.drain", "sink.read")]
    run.layers["box.canary_s"] = median(canary)
    run.layers["trace.span_cover_share"] = covered(leaves, lo, hi) / max(hi - lo, 1e-9)
    spark.stop()
    if run._oracle is not None:
        run._oracle.close()
    if args.role == "traced" and args.eventlog:
        epochs = [(s["start"], s["end"]) for s in spans.items
                  if s["name"] == "stream.epoch" and s["parent"] == "stream"]
        run.layers.update(eventlog_layers(args.eventlog, lo, hi, epochs))
    return {
        "setup_s": run.setup_s,
        "e2e": run.e2e,
        "layers": run.layers,
        "attempted": run.attempted,
        "failed": run.failed,
        "errors": run.errors,
        "work_s": run.work_s,
        "window": [lo, hi],
        "master": master,
        "default_parallelism": parallelism,
        "spans": spans.items,
        "self_times": spans.self_times(),
    }


def main() -> int:
    ap = argparse.ArgumentParser()
    ap.add_argument("--workload", required=True, choices=sorted(WORKLOADS))
    ap.add_argument("--seed", type=int, required=True)
    ap.add_argument("--seconds", type=int, required=True)
    ap.add_argument("--role", choices=("plain", "traced", "drain"), default="plain")
    ap.add_argument("--data", required=True)
    ap.add_argument("--work", required=True)
    ap.add_argument("--eventlog", default="")
    ap.add_argument("--out", required=True)
    args = ap.parse_args()

    if args.role == "drain":
        # the nproc leg, in a fresh JVM warmed like the traced run's, is the
        # reference for the tracing overhead; the one-core leg follows it
        result = measure(args, os.cpu_count() or 1)
        single = measure(args, 1)
        result["throughput_1core"] = single["e2e"]["throughput_per_s"]
        for k in ("attempted", "failed", "errors", "spans"):
            result[k] += single[k]
    else:
        result = measure(args)
    if args.role == "traced" and args.workload == "batch_ops":
        # the untraced reference: a second session of the same JVM with
        # the event log off (new sessions read it from the JVM's system
        # properties), whose warm JIT and code caches stand in for a
        # warm-up pass the time budget cannot hold
        from pyspark import SparkContext

        SparkContext._jvm.java.lang.System.setProperty("spark.eventLog.enabled", "false")
        ref = measure(argparse.Namespace(**{**vars(args), "role": "reference",
                                            "eventlog": ""}))
        result["reference_work_s"] = ref["work_s"]
        for k in ("attempted", "failed", "errors", "spans"):
            result[k] += ref[k]
    with open(args.out, "w") as fh:
        json.dump(result, fh)
    return 0


if __name__ == "__main__":
    sys.exit(main())
