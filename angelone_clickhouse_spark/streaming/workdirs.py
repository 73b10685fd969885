"""Session-owned scratch directories for the streaming replay ops.

Every epoch-replay op (stream_dedup_docs, stream_novelty_docs,
stream_semdedup[_lsh], stream_token_cms, gap_sessions) needs two kinds
of scratch:

* a REPLAY input dir (the replayed table's copy in the stream's file
  layout) — cached per (sf_dir, table) for the table's current version
  (:func:`replay_copy`) because it is a pure function of the table's
  files and rebuilding it per invocation would dominate the bench; a
  table rewritten in place gets a new copy and the old one is removed;
  and
* a PER-RUN work dir (epoch-committed store + checkpoint) — fresh
  per invocation because the replay must start from an empty store.

Neither can be deleted when the op returns: the result DataFrame
reads the store LAZILY, so the caller's ``collect()`` happens after
the op function exits. Deleting eagerly would break every consumer;
never deleting leaks one dir per invocation for the life of the
process. The resolution is process-exit ownership: every dir
handed out here is registered once with ``atexit`` and removed when
the Python process ends — bounded lifetime, zero interference with
lazy evaluation, and retried/concurrent runs never share a per-run
dir. On a real cluster the stores these dirs stand in for are
durable tables with retention policies (keyed_index.expire_epochs_
keyed); process-exit cleanup is strictly a local-fixture concern.
"""

from __future__ import annotations

import atexit
import os
import shutil
import tempfile

_OWNED: list[str] = []


def _cleanup() -> None:
    while _OWNED:
        shutil.rmtree(_OWNED.pop(), ignore_errors=True)


atexit.register(_cleanup)


def owned_tmpdir(prefix: str) -> str:
    """mkdtemp whose tree is removed at process exit."""
    d = tempfile.mkdtemp(prefix=prefix)
    _OWNED.append(d)
    return d


# (sf_dir, table) -> (table version, owned dir holding its replay copy)
_REPLAYS: dict[tuple, tuple[tuple, str]] = {}


def replay_copy(sf_dir: str, table: str, build) -> str:
    """The replay copy of ``table``'s current version, written by
    ``build(path)`` once per version. When the table was rewritten
    since the last call, the superseded copy is removed first, so at
    most one copy per (sf_dir, table) exists at a time."""
    from angelone_clickhouse_spark.sources.tables import table_version

    version = table_version(sf_dir, table)
    hit = _REPLAYS.get((sf_dir, table))
    if hit is None or hit[0] != version:
        if hit is not None:
            _OWNED.remove(hit[1])
            shutil.rmtree(hit[1], ignore_errors=True)
        d = owned_tmpdir(prefix=f"replay_{table}_")
        build(os.path.join(d, "in"))
        hit = _REPLAYS[(sf_dir, table)] = (version, d)
    return os.path.join(hit[1], "in")
