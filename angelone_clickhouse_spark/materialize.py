"""Shared materialization helper (VERDICT r4 item 4).

Several operators must cut lineage mid-plan — iterative label
propagation (dedup.connected_components), plans that would otherwise
re-evaluate a nondeterministic or Generate-heavy subtree (RAG
chunking, winnowing fingerprints, frame sampling, theta-sketch
reuse). The default spelling is eager ``localCheckpoint``:
executor-local blocks, fast, right for bench and short jobs — but NOT
fault-tolerant; on a real cluster a lost executor kills the job.

``materialize(df, checkpoint_dir=...)`` is the single switch every
such site shares: pass a reliable directory (HDFS/S3 at cluster
scale) and the same plan checkpoints durably instead. Operators
expose the kwarg and default to None, so the sandbox/bench path stays
fast while the 100 TB deployment threads one config value through.

NOTE the checkpoint dir is SESSION-GLOBAL SparkContext state: it is
set only when the current dir is not already inside the requested one,
comparing normalized paths (Spark reports the dir with a URI scheme +
a per-set random subdirectory, so a raw string compare would re-set —
and stomp a concurrent caller — on every call, ADVICE r4). Concurrent
jobs needing DIFFERENT dirs should set one shared dir at session
setup instead.
"""

from __future__ import annotations

import os

from pyspark.sql import DataFrame


def _ckpt_dir_matches(current: str | None, requested: str) -> bool:
    """True iff the context's checkpoint dir already lives inside
    ``requested`` (scheme-stripped, abspath-normalized)."""
    if current is None:
        return False

    def _norm(p: str) -> str:
        if "://" in p:
            p = p.split("://", 1)[1]
        elif p.startswith("file:"):
            p = p[len("file:") :]
        return os.path.abspath(p)

    cur, req = _norm(str(current)), _norm(requested)
    return cur == req or cur.startswith(req.rstrip(os.sep) + os.sep)


OBS_TIMEOUT_S = 120.0


def observed(obs, what: str = "observation", timeout_s: float = OBS_TIMEOUT_S) -> dict:
    """Bounded-wait read of an ``Observation``'s metrics (ADVICE r16):
    ``Observation.get`` blocks FOREVER if the observed action's
    metrics never arrive — the engine's observed-metric fusion relies
    on ``localCheckpoint``/``collect`` firing QueryExecutionListener
    events, which is an implementation detail of Spark's withAction
    path, not a documented contract. Every engine call site reads
    through this helper so that a Spark behavior change fails LOUDLY
    (RuntimeError after ``timeout_s``) instead of deadlocking the
    epoch/round loop. Call sites read only after the observed action
    has completed (eager checkpoint / collect), so the first poll
    normally succeeds immediately; the JVM-side ``getRowOrEmpty``
    waits <=100 ms per poll.

    The poll reads PySpark's private ``Observation._jo`` handle (pinned
    by tests/test_materialize.py); when it is missing — the observation
    was never attached with ``DataFrame.observe``, or a PySpark upgrade
    renamed it — this raises RuntimeError at once."""
    import time

    jo = getattr(obs, "_jo", None)
    if jo is None:
        raise RuntimeError(
            f"{what}: Observation has no JVM handle (obs._jo is None); "
            "it was never attached with DataFrame.observe, or this "
            "PySpark no longer exposes Observation._jo"
        )
    deadline = time.monotonic() + timeout_s
    while True:
        if jo.getRowOrEmpty().isDefined():
            return obs.get  # metrics present: non-blocking now
        if time.monotonic() >= deadline:
            raise RuntimeError(
                f"{what}: observed metrics did not arrive within "
                f"{timeout_s}s; the observed action's listener event "
                "never fired (Spark withAction behavior change?)"
            )


def materialize(df: DataFrame, checkpoint_dir: str | None = None) -> DataFrame:
    """Cut lineage: eager ``localCheckpoint`` by default, RELIABLE
    ``checkpoint`` into ``checkpoint_dir`` when given (see module
    docstring for the scale rationale and the session-global caveat)."""
    if checkpoint_dir is not None:
        sc = df.sparkSession.sparkContext
        if not _ckpt_dir_matches(sc.getCheckpointDir(), checkpoint_dir):
            sc.setCheckpointDir(checkpoint_dir)
        return df.checkpoint(eager=True)
    return df.localCheckpoint(eager=True)

# Default rows-per-partition target for checkpoint_sized: small enough
# that a partition is real work (thousands of rows), large enough that
# fixture-scale frames collapse to a handful of tasks. A deployment
# tunes this with spark.sql.shuffle.partitions; at 10^9+ rows the
# clamp below keeps every shuffle partition anyway, so the knob only
# ever REMOVES empty-ish tasks.
ROWS_PER_TASK = 8192


def sized(
    df: DataFrame, n_rows: int, rows_per_task: int = ROWS_PER_TASK
) -> DataFrame:
    """Narrow coalesce of an already-materialized frame down to a
    row-count-derived partition count (see :func:`checkpoint_sized`;
    use this form when the row count already rides another
    observation). Clamped to [1, current] — can only remove
    partitions, so large frames are untouched."""
    # partition count off the frame's own queryExecution — no Python
    # RDD conversion, no second plan compile (see
    # dedup.spread_low_parallelism, r17); `df` here is always a
    # just-materialized checkpoint (LogicalRDD leaf), so this runs no
    # jobs
    cur = df._jdf.queryExecution().toRdd().getNumPartitions()
    target = max(1, min(cur, -(-int(n_rows) // rows_per_task)))
    return df.coalesce(target) if target < cur else df


def checkpoint_sized(
    df: DataFrame, what: str = "checkpoint", rows_per_task: int = ROWS_PER_TASK
) -> DataFrame:
    """Eager ``localCheckpoint`` + SCALE-ADAPTIVE narrow coalesce
    (guide §2.3): a checkpointed frame inherits its producer's
    partition count (the session shuffle width), so a tiny
    materialized mid-tier table fans every downstream map stage out
    to shuffle-width near-empty tasks — pure scheduling overhead at
    fixture scale, and at any scale once a collapse/aggregation has
    shrunk the data. The row count rides the CHECKPOINT JOB as an
    observed metric (no extra job, no driver scan), and the returned
    frame is coalesced — a NARROW transformation over the already-
    materialized RDD, so the checkpoint itself still computed at full
    parallelism — down to ceil(rows / rows_per_task) partitions,
    clamped to [1, current]. Large frames keep every partition (the
    clamp can only remove partitions, never add), so this is AQE-style
    coalescing for checkpoint boundaries, derived from data size, not
    a constant tuned to any box."""
    from pyspark.sql import Observation
    from pyspark.sql import functions as F

    obs = Observation()
    ck = df.observe(obs, F.count(F.lit(1)).alias("n")).localCheckpoint(
        eager=True
    )
    n = int(observed(obs, what)["n"] or 0)
    return sized(ck, n, rows_per_task)
