"""Sink maintenance: small-file compaction for the streaming tick sink.

Micro-batch appends write one file per partition per epoch; at a 5 s
trigger that is ~17k files/day/partition-column-value — the classic
streaming-sink small-file problem, and at 100 TB the thing that kills
scan throughput (footer fetches dominate). Compaction rewrites each
date partition into max(1, bytes/target) files, sorted by timestamp
within files to preserve the MergeTree-style clustering
(db/clickhouse.go:26-27 analogue) that row-group min/max skipping
relies on.

Crash safety: all intermediate state lives under ``<sink>/_staging``
— underscore-prefixed paths are invisible to Spark/Hadoop file
listing, so readers never see half-swapped data. The swap itself is
journaled: a ``date=X.commit`` marker is written (after the staged
rows are verified against the live partition) BEFORE any rename, and
:func:`recover_compaction` replays or rolls back interrupted swaps
from the journal on the next maintenance run. A reader that lists the
sink during the (two-rename) swap window of one date sees that date
missing — never duplicated or partial — and the journal guarantees
the partition reappears.

This is the local-filesystem variant (POSIX atomic renames). On an
object store you'd stage to the same hidden prefix but flip a
manifest/catalog pointer instead of renaming; the verify-then-commit
journal structure is identical.

Run it as the off-line maintenance job (the reference has no analogue —
ClickHouse merges parts server-side; this IS our merge). Compact only
CLOSED dates while ingest appends to today's partition: the rewrite
of one date never touches another.
"""

from __future__ import annotations

import json
import os
import shutil

from pyspark.sql import SparkSession

TARGET_FILE_BYTES = 128 * 1024 * 1024
_STAGING = "_staging"


def _staging_dir(sink_dir: str) -> str:
    return os.path.join(sink_dir, _STAGING)


def _partition_dates(sink_dir: str) -> list[str]:
    """Partition values from the directory layout — no Spark job, no
    full-sink scan (a distinct() over 100 TB to learn ~365 dates is
    the wrong plan; the listing IS the partition index)."""
    return sorted(
        d.split("=", 1)[1]
        for d in os.listdir(sink_dir)
        if d.startswith("date=") and os.path.isdir(os.path.join(sink_dir, d))
    )


def recover_compaction(sink_dir: str) -> list[str]:
    """Replay or roll back swaps interrupted by a crash. Returns the
    dates touched. Idempotent; call before compacting (and safe to
    call any time)."""
    stage = _staging_dir(sink_dir)
    if not os.path.isdir(stage):
        return []
    touched = []
    for name in sorted(os.listdir(stage)):
        if not name.endswith(".commit"):
            continue
        date = name[len("date=") : -len(".commit")]
        live = os.path.join(sink_dir, f"date={date}")
        tmp = os.path.join(stage, f"date={date}.tmp")
        bak = os.path.join(stage, f"date={date}.old")
        if not os.path.isdir(live):
            # crashed between the two renames: finish the swap
            if os.path.isdir(tmp):
                os.rename(tmp, live)
            elif os.path.isdir(bak):
                os.rename(bak, live)  # tmp lost -> restore original
        # live exists: swap completed (or never started) — clear debris
        for leftover in (tmp, bak):
            if os.path.isdir(leftover):
                shutil.rmtree(leftover)
        os.remove(os.path.join(stage, name))
        touched.append(date)
    return touched


# --- flat epoch-sink compaction (VERDICT r10 #6) ---------------------
#
# The epoch committer (epoch_commit.commit_epoch) appends one
# ``e{epoch}-`` file per epoch per sink forever — the docdedup /
# novelty / embdedup verdict and index dirs grow one file per trigger.
# The folder below folds CLOSED epochs into consolidated ``c-`` files
# while preserving the committer's retry contract: only epochs at
# least ``keep_recent`` behind the newest are folded, so a replayed
# epoch (foreachBatch only ever retries the tail) still finds all of
# its own files under its own ``e{epoch}-`` prefix and sweeps them
# cleanly. The swap is journaled the same way compact_tick_sink's is:
# stage (hidden ``.stage`` sibling) -> verify row count -> commit
# marker -> remove victims -> rename consolidated in -> clear marker;
# recover_flat_compaction replays an interrupted swap from the marker.
# Run as offline maintenance, like compact_tick_sink.


def _epoch_files(out_dir: str) -> dict[int, list[str]]:
    """Committed ``e{N}-`` files by epoch id."""
    out: dict[int, list[str]] = {}
    for name in os.listdir(out_dir):
        if name.startswith("e") and "-" in name:
            head = name.split("-", 1)[0][1:]
            if head.isdigit():
                out.setdefault(int(head), []).append(name)
    return out


def recover_flat_compaction(out_dir: str) -> bool:
    """Finish an interrupted flat-sink compaction swap (idempotent;
    safe to call any time). Returns whether a marker was replayed."""
    stage = out_dir + ".stage"
    marker = os.path.join(stage, "compact.commit")
    if not os.path.isfile(marker):
        return False
    with open(marker) as f:
        info = json.load(f)
    for name in info["remove"]:
        p = os.path.join(out_dir, name)
        if os.path.isfile(p):
            os.remove(p)
    src_dir = os.path.join(stage, "compact")
    for src, dst in info["add"].items():
        s = os.path.join(src_dir, src)
        if os.path.isfile(s):
            os.rename(s, os.path.join(out_dir, dst))
    os.remove(marker)
    shutil.rmtree(src_dir, ignore_errors=True)
    return True


def compact_flat_epoch_sink(
    spark: SparkSession, out_dir: str, keep_recent: int = 1
) -> dict | None:
    """Fold every epoch file older than the newest ``keep_recent``
    epochs — plus any prior consolidation — into one consolidated
    ``c-`` file set. Readers (spark.read.parquet over the dir,
    embdedup.read_vec_index) see identical rows before and after (asserted in
    tests/test_compaction.py's soak); returns
    {rows, files_before, files_after} or None if nothing to fold."""
    recover_flat_compaction(out_dir)
    if not os.path.isdir(out_dir):
        return None
    by_epoch = _epoch_files(out_dir)
    if not by_epoch:
        return None
    cutoff = max(by_epoch) - keep_recent + 1
    victims = [
        n for e, names in by_epoch.items() if e < cutoff for n in names
    ] + [n for n in os.listdir(out_dir) if n.startswith("c-")]
    if len(victims) <= 1:
        return None
    stage = out_dir + ".stage"
    tmp = os.path.join(stage, "compact")
    shutil.rmtree(tmp, ignore_errors=True)
    os.makedirs(tmp, exist_ok=True)
    live = spark.read.parquet(*[os.path.join(out_dir, n) for n in victims])
    n_live = live.count()
    job = os.path.join(tmp, "job")
    live.coalesce(1).write.mode("overwrite").parquet(job)
    add: dict[str, str] = {}
    gen = max(by_epoch)
    for i, part in enumerate(
        sorted(n for n in os.listdir(job) if n.startswith("part-"))
    ):
        src = f"f{i}.parquet"
        os.rename(os.path.join(job, part), os.path.join(tmp, src))
        add[src] = f"c-{gen}-{i}.parquet"
    shutil.rmtree(job)
    # verify the staged fold before journaling the swap
    staged_rows = spark.read.parquet(
        *[os.path.join(tmp, s) for s in add]
    ).count()
    if staged_rows != n_live:
        shutil.rmtree(tmp)
        raise RuntimeError(
            f"flat compaction verify failed for {out_dir}: "
            f"staged {staged_rows} != live {n_live}"
        )
    n_before = len(
        [n for n in os.listdir(out_dir) if n.endswith(".parquet")]
    )
    marker = os.path.join(stage, "compact.commit")
    with open(marker, "w") as f:
        json.dump({"remove": victims, "add": add}, f)
        f.flush()
        os.fsync(f.fileno())
    recover_flat_compaction(out_dir)  # the marker IS the swap program
    n_after = len(
        [n for n in os.listdir(out_dir) if n.endswith(".parquet")]
    )
    return {"rows": n_live, "files_before": n_before, "files_after": n_after}


def compact_tick_sink(
    spark: SparkSession,
    sink_dir: str,
    target_file_bytes: int = TARGET_FILE_BYTES,
    dates: list[str] | None = None,
) -> dict[str, int]:
    """Rewrite each (or the given) date partition of a tick sink into
    size-targeted, timestamp-sorted files. Returns {date: n_files_after}.

    Per date: stage (hidden) -> verify row count -> journal commit ->
    swap (two renames) -> clean. A failure at any point is repaired by
    :func:`recover_compaction`; the staged data is only trusted after
    the count verification, so a torn write can never replace good
    data."""
    recover_compaction(sink_dir)
    stage = _staging_dir(sink_dir)
    os.makedirs(stage, exist_ok=True)
    part_dates = dates if dates is not None else _partition_dates(sink_dir)
    out: dict[str, int] = {}
    for d in part_dates:
        part_path = os.path.join(sink_dir, f"date={d}")
        part = spark.read.parquet(part_path)
        total_bytes = sum(
            os.path.getsize(os.path.join(part_path, f))
            for f in os.listdir(part_path)
            if f.endswith(".parquet")
        )
        n_files = max(1, round(total_bytes / target_file_bytes))
        tmp = os.path.join(stage, f"date={d}.tmp")
        (
            part.repartition(n_files)
            .sortWithinPartitions("ts")
            .write.mode("overwrite")
            .parquet(tmp)
        )
        # verify BEFORE touching the live partition
        live_rows = part.count()
        staged_rows = spark.read.parquet(tmp).count()
        if staged_rows != live_rows:
            shutil.rmtree(tmp)
            raise RuntimeError(
                f"compaction verify failed for date={d}: "
                f"staged {staged_rows} != live {live_rows}"
            )
        # journal the intent, then swap; recover_compaction can finish
        # or undo this from any crash point
        commit = os.path.join(stage, f"date={d}.commit")
        with open(commit, "w") as f:
            json.dump({"date": d, "rows": staged_rows, "files": n_files}, f)
            f.flush()
            os.fsync(f.fileno())
        bak = os.path.join(stage, f"date={d}.old")
        os.rename(part_path, bak)
        os.rename(tmp, part_path)
        shutil.rmtree(bak)
        os.remove(commit)
        out[d] = n_files
    return out
