"""Measurement helpers that observe Spark from outside the package.

* :class:`Spans` records the benchmark's own spans (name, start, end,
  parent, run id) around each call into the package. Spans stay in
  memory and are written out once, at the end of a run.
* :class:`StreamProbe` is a ``StreamingQueryListener`` that keeps the
  progress of every micro-batch (durations, rows, state) per query run.
* :func:`jobs_tasks` counts the jobs of a job group and the tasks they
  completed, from the public ``statusTracker``.
* :func:`n_commits` counts the batches a stream has committed.
* :func:`committed_files` maps each input file of a file-stream query to
  the batch that committed it, from the query's checkpoint.
* :func:`eventlog_layers` reduces a Spark event log to per-layer totals.
"""

from __future__ import annotations

import glob
import json
import os
import statistics
import threading
import time

from pyspark.sql.streaming import StreamingQueryListener

# job-group prefix of the calls the concurrent Q1-Q8 reader makes
READER_GROUP = "perfbench-reader-"


def quantile(values: list[float], q: float) -> float:
    """Linear-interpolated quantile (``q`` in [0, 1]); 0.0 for no data."""
    if not values:
        return 0.0
    xs = sorted(values)
    pos = q * (len(xs) - 1)
    lo = int(pos)
    hi = min(lo + 1, len(xs) - 1)
    return xs[lo] + (xs[hi] - xs[lo]) * (pos - lo)


def median(values: list[float]) -> float:
    return statistics.median(values) if values else 0.0


class Spans:
    """In-memory span recorder. Times are wall-clock epoch seconds so
    they line up with the event log's millisecond timestamps."""

    def __init__(self, run_id: str):
        self.run_id = run_id
        self.items: list[dict] = []
        self._lock = threading.Lock()

    def add(self, name: str, start: float, end: float, parent: str | None = None,
            **attrs) -> None:
        with self._lock:
            self.items.append(dict(name=name, start=start, end=end, parent=parent,
                                   run=self.run_id, **attrs))

    def span(self, name: str, parent: str | None = None, **attrs):
        return _Span(self, name, parent, attrs)

    def self_times(self) -> dict[str, float]:
        """Per span name: total duration minus the time its direct
        children cover."""
        out: dict[str, float] = {}
        for s in self.items:
            kids = [(c["start"], c["end"]) for c in self.items
                    if c["parent"] == s["name"] and c["start"] >= s["start"]
                    and c["end"] <= s["end"]]
            dur = s["end"] - s["start"] - covered(kids, s["start"], s["end"])
            out[s["name"]] = out.get(s["name"], 0.0) + dur
        return out


class _Span:
    def __init__(self, spans: Spans, name: str, parent: str | None, attrs: dict):
        self.spans, self.name, self.parent, self.attrs = spans, name, parent, attrs

    def __enter__(self):
        self.start = time.time()
        return self

    def __exit__(self, *exc):
        self.end = time.time()
        self.spans.add(self.name, self.start, self.end, self.parent, **self.attrs)
        return False


def covered(intervals: list[tuple[float, float]], lo: float, hi: float) -> float:
    """Length of the union of ``intervals`` clipped to [lo, hi]."""
    total, cur_s, cur_e = 0.0, None, None
    for s, e in sorted((max(s, lo), min(e, hi)) for s, e in intervals):
        if e <= s:
            continue
        if cur_e is None or s > cur_e:
            if cur_e is not None:
                total += cur_e - cur_s
            cur_s, cur_e = s, e
        else:
            cur_e = max(cur_e, e)
    if cur_e is not None:
        total += cur_e - cur_s
    return total


class StreamProbe(StreamingQueryListener):
    """Progress of every executed micro-batch, keyed by query run id.
    Idle triggers (no ``addBatch`` duration) are skipped."""

    def __init__(self):
        self.batches: dict[str, dict[int, dict]] = {}
        self._lock = threading.Lock()

    def onQueryStarted(self, event):
        pass

    def onQueryTerminated(self, event):
        pass

    def onQueryProgress(self, event):
        p = event.progress
        d = dict(p.durationMs or {})
        if "addBatch" not in d:
            return
        ops = p.stateOperators or []
        rec = dict(
            rows=p.numInputRows,
            trigger_s=d.get("triggerExecution", 0) / 1000.0,
            addbatch_s=d.get("addBatch", 0) / 1000.0,
            planning_s=d.get("queryPlanning", 0) / 1000.0,
            state_rows=sum(o.numRowsTotal for o in ops),
            state_bytes=sum(o.memoryUsedBytes for o in ops),
            late_rows=sum(o.numRowsDroppedByWatermark for o in ops),
            timestamp=p.timestamp,
        )
        with self._lock:
            self.batches.setdefault(str(p.runId), {})[p.batchId] = rec

    def wait_for(self, run_id: str, n_batches: int, timeout_s: float = 10.0) -> list[dict]:
        """Progress events arrive asynchronously; wait (bounded) until
        ``n_batches`` of ``run_id`` are in, then return them in order."""
        deadline = time.monotonic() + timeout_s
        while True:
            with self._lock:
                got = dict(self.batches.get(run_id, {}))
            if len(got) >= n_batches or time.monotonic() >= deadline:
                return [got[k] for k in sorted(got)]
            time.sleep(0.05)


def jobs_tasks(sc, group: str) -> tuple[int, int]:
    """(jobs, completed tasks) of a job group. Completed tasks, not
    ``numTasks``, so skipped or reused stages add nothing."""
    tracker = sc.statusTracker()
    jobs = tracker.getJobIdsForGroup(group)
    stages: set[int] = set()
    for j in jobs:
        info = tracker.getJobInfo(j)
        if info is not None:
            stages.update(info.stageIds)
    tasks = 0
    for s in stages:
        si = tracker.getStageInfo(s)
        if si is not None:
            tasks += si.numCompletedTasks
    return len(jobs), tasks


def n_commits(checkpoint_dir: str) -> int:
    """Query batches committed so far (``commits/<N>`` markers)."""
    return sum(os.path.basename(p).isdigit()
               for p in glob.glob(os.path.join(checkpoint_dir, "commits", "*")))


def committed_files(checkpoint_dir: str) -> dict[str, tuple[int, float]]:
    """Input file name -> (query batch id, commit time) for a file-stream
    query with one source.

    The source log numbers its own batches: ``offsets/<N>`` records the
    source batch (``logOffset``) that query batch N read up to, and a
    query batch without new files (a watermark-only batch) repeats the
    previous offset. A file of source batch b was therefore committed by
    the first committed query batch whose offset reaches b, at the time
    of its ``commits/<N>`` marker. Every source-log entry is read, the
    ``N.compact`` files included (the log folds every 10 batches into
    one)."""
    commits = {}
    for p in glob.glob(os.path.join(checkpoint_dir, "commits", "*")):
        name = os.path.basename(p)
        if name.isdigit():
            commits[int(name)] = os.path.getmtime(p)
    reached: list[tuple[int, int]] = []  # (source batch reached, query batch)
    for n in sorted(commits):
        with open(os.path.join(checkpoint_dir, "offsets", str(n))) as fh:
            for line in fh:
                if line.startswith('{"logOffset"'):
                    reached.append((json.loads(line)["logOffset"], n))
    out: dict[str, tuple[int, float]] = {}
    for p in glob.glob(os.path.join(checkpoint_dir, "sources", "0", "*")):
        name = os.path.basename(p)
        if not (name.isdigit() or name.endswith(".compact")):
            continue
        with open(p) as fh:
            for line in fh:
                line = line.strip()
                if not line.startswith("{"):
                    continue
                entry = json.loads(line)
                batch = next((n for off, n in reached if off >= entry["batchId"]), None)
                if batch is not None:
                    out[os.path.basename(entry["path"])] = (batch, commits[batch])
    return out


def eventlog_layers(log_dir: str, lo: float, hi: float,
                    epochs: list[tuple[float, float]]) -> dict[str, float]:
    """Per-layer totals of the jobs, stages and tasks that ran inside
    the window [lo, hi] (epoch seconds), from an uncompressed event log.

    ``driver_s`` is the window minus the union of stage-active
    intervals: time in which no stage ran, i.e. planning, Python on the
    driver, commits and waits. Jobs submitted inside a stream epoch
    (``epochs``), except the concurrent reader's (job group
    ``READER_GROUP*``), count toward the epoch."""
    lo_ms, hi_ms = lo * 1000.0, hi * 1000.0
    job_stages: dict[int, list[int]] = {}
    epoch_jobs: set[int] = set()
    stage_tasks: dict[int, int] = {}
    stages = tasks = 0
    run_ms = cpu_ns = sh_w = sh_r = 0
    stage_iv: list[tuple[float, float]] = []
    files = [p for p in glob.glob(os.path.join(log_dir, "**", "*"), recursive=True)
             if os.path.isfile(p)]
    for path in files:
        with open(path, errors="replace") as fh:
            for line in fh:
                if '"Event"' not in line:
                    continue
                ev = json.loads(line)
                kind = ev.get("Event")
                if kind == "SparkListenerJobStart":
                    t = ev.get("Submission Time", 0) / 1000.0
                    if not lo <= t <= hi:
                        continue
                    job = ev["Job ID"]
                    job_stages[job] = ev.get("Stage IDs", [])
                    group = (ev.get("Properties") or {}).get("spark.jobGroup.id") or ""
                    if not group.startswith(READER_GROUP) and any(
                            s <= t <= e for s, e in epochs):
                        epoch_jobs.add(job)
                elif kind == "SparkListenerStageCompleted":
                    si = ev["Stage Info"]
                    s, e = si.get("Submission Time"), si.get("Completion Time")
                    if s is not None and e is not None and e >= lo_ms and s <= hi_ms:
                        stages += 1
                        stage_iv.append((s / 1000.0, e / 1000.0))
                elif kind == "SparkListenerTaskEnd":
                    ti = ev["Task Info"]
                    if not lo_ms <= ti.get("Finish Time", 0) <= hi_ms:
                        continue
                    tasks += 1
                    stage_tasks[ev["Stage ID"]] = stage_tasks.get(ev["Stage ID"], 0) + 1
                    tm = ev.get("Task Metrics") or {}
                    run_ms += tm.get("Executor Run Time", 0)
                    cpu_ns += tm.get("Executor CPU Time", 0)
                    sr = tm.get("Shuffle Read Metrics") or {}
                    sh_r += sr.get("Remote Bytes Read", 0) + sr.get("Local Bytes Read", 0)
                    sw = tm.get("Shuffle Write Metrics") or {}
                    sh_w += sw.get("Shuffle Bytes Written", 0)
    stage_active = covered(stage_iv, lo, hi)
    n_epochs = max(len(epochs), 1)
    epoch_tasks = sum(stage_tasks.get(s, 0) for j in epoch_jobs for s in job_stages[j])
    return {
        "trace.driver_s": (hi - lo) - stage_active,
        "trace.stage_active_s": stage_active,
        "trace.executor_run_s": run_ms / 1000.0,
        "trace.executor_cpu_s": cpu_ns / 1e9,
        "trace.shuffle_write_bytes": float(sh_w),
        "trace.shuffle_read_bytes": float(sh_r),
        "trace.jobs": float(len(job_stages)),
        "trace.stages": float(stages),
        "trace.tasks": float(tasks),
        "stream.jobs_per_epoch": len(epoch_jobs) / n_epochs,
        "stream.tasks_per_epoch": epoch_tasks / n_epochs,
    }
