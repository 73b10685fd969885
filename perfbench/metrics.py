"""The benchmark's declared workloads and metrics, in one place.

``run.py --write-spec`` renders ``BENCHMARK.json`` from these tables;
every run reports exactly these names. A per-layer metric of a layer
the workload does not run reads 0.
"""

from __future__ import annotations

RUN_SECONDS = 10

# batch_ops: every pass of the timed window runs these
CURATION_OPS = (
    "dedup_ngram_jaccard",
    "dedup_simhash",
    "bpe_encode",
    "pipeline_e2e",
)
GATE_OPS = ("stream_novelty_docs",)
# batch_ops, traced run only: once each, after the timed window. With
# the gates above they cover operators.embedding_fast (ANN),
# streaming.docdedup and streaming.embdedup (its LSH-fronted gate);
# each costs 6-11 s warm on 4 cores, more than a plain run can hold
TRACED_OPS = ("knn_ann_recall",)
TRACED_GATES = ("stream_dedup_docs", "stream_semdedup_lsh")
QUERY_SURFACE = (
    "q1_latest_tick",
    "q2_daily_stats",
    "q3_recency_check",
    "q4_latest_prices",
    "q5_daily_ohlcv",
    "q6_volume_profile",
    "q7_sample",
    "q8_token_stats",
)

WORKLOADS = {
    "ingest": (
        "catch-up drain of a seeded 225k-frame backlog in 3 epochs (2% retransmits, 1% "
        "truncated), then an open-loop live feed at 2500 frames/s beside a Q1-Q8 reader"
    ),
    "batch_ops": (
        "closed loop, one client: 4 curation operators and the novelty stream gate at "
        "fixture scale; fixed per-job and per-epoch cost dominates"
    ),
}

# name -> (unit, better, bound)
END_TO_END = {
    "setup_s": ("s", "lower", 0.25),
    "peak_rss_mb": ("MB", "lower", 0.2),
    "throughput_per_s": ("1/s", "higher", 0.25),
    "latency_p50_s": ("s", "lower", 0.25),
    "latency_p90_s": ("s", "lower", 0.25),
    "read_s": ("s", "lower", 0.25),
}

# name -> (unit, better)
_LAYER_BASE = {
    "session.start_s": ("s", "lower"),
    "box.canary_s": ("s", "lower"),
    "failed_share": ("ratio", "lower"),
    "feed.frames": ("count", "higher"),
    "feed.files": ("count", "higher"),
    "feed.late_max_s": ("s", "lower"),
    "feed.backlog_files_end": ("count", "lower"),
    "decoder.rows_per_s": ("1/s", "higher"),
    "decoder.corrupt_frames": ("count", "lower"),
    "stream.epochs": ("count", "lower"),
    "stream.rows_per_epoch_p50": ("count", "higher"),
    "stream.trigger_s_p50": ("s", "lower"),
    "stream.trigger_s_p90": ("s", "lower"),
    "stream.addbatch_s_p50": ("s", "lower"),
    "stream.machinery_s_p50": ("s", "lower"),
    "stream.planning_s_p50": ("s", "lower"),
    "stream.state_rows": ("count", "lower"),
    "stream.state_bytes": ("bytes", "lower"),
    "stream.late_rows": ("count", "lower"),
    "stream.jobs_per_epoch": ("count", "lower"),
    "stream.tasks_per_epoch": ("count", "lower"),
    "backfill.epochs": ("count", "lower"),
    "backfill.rows_per_epoch_p50": ("count", "higher"),
    "backfill.trigger_s_p50": ("s", "lower"),
    "backfill.addbatch_s_p50": ("s", "lower"),
    "backfill.drain_s": ("s", "lower"),
    "backfill.ticks_per_drain_s": ("1/s", "higher"),
    "backfill.read_s": ("s", "lower"),
    "ingest.scaling_x": ("ratio", "higher"),
    "sink.rows": ("count", "higher"),
    "sink.files_per_epoch": ("count", "lower"),
    "sink.bytes_per_row": ("bytes", "lower"),
    "sink.stage_leftover_files": ("count", "lower"),
    "queries.solo_s": ("s", "lower"),
    "queries.concurrent_p90_s": ("s", "lower"),
    "queries.build_s_p50": ("s", "lower"),
    "queries.exec_s_p50": ("s", "lower"),
    "queries.jobs_per_query": ("count", "lower"),
    "queries.tasks_per_query": ("count", "lower"),
}
_OP_FIELDS = {
    "build_s": ("s", "lower"),
    "exec_s": ("s", "lower"),
    "jobs": ("count", "lower"),
    "tasks": ("count", "lower"),
}
_GATE_FIELDS = {
    "epoch_s_p50": ("s", "lower"),
    "machinery_s_p50": ("s", "lower"),
}
_TRACE = {
    "trace.driver_s": ("s", "lower"),
    "trace.stage_active_s": ("s", "lower"),
    "trace.executor_run_s": ("s", "lower"),
    "trace.executor_cpu_s": ("s", "lower"),
    "trace.shuffle_write_bytes": ("bytes", "lower"),
    "trace.shuffle_read_bytes": ("bytes", "lower"),
    "trace.jobs": ("count", "lower"),
    "trace.stages": ("count", "lower"),
    "trace.tasks": ("count", "lower"),
    "trace.overhead_ratio": ("ratio", "lower"),
    "trace.span_cover_share": ("ratio", "higher"),
}


def per_layer() -> dict[str, tuple[str, str]]:
    out = dict(_LAYER_BASE)
    for op in CURATION_OPS + GATE_OPS + TRACED_OPS + TRACED_GATES:
        for f, spec in _OP_FIELDS.items():
            out[f"ops.{op}.{f}"] = spec
    for op in GATE_OPS + TRACED_GATES:
        for f, spec in _GATE_FIELDS.items():
            out[f"ops.{op}.{f}"] = spec
    out.update(_TRACE)
    return out


def spec() -> dict:
    """The ``BENCHMARK.json`` document."""
    return {
        "command": ["python3", "perfbench/run.py"],
        "paths": ["perfbench"],
        "run_seconds": RUN_SECONDS,
        "workloads": [{"name": n, "why": w} for n, w in WORKLOADS.items()],
        "end_to_end": [
            {"name": n, "unit": u, "better": b, "bound": bound}
            for n, (u, b, bound) in END_TO_END.items()
        ],
        "per_layer": [
            {"name": n, "unit": u, "better": b} for n, (u, b) in per_layer().items()
        ],
    }
