"""Session-owned scratch directories for the streaming replay ops.

Every epoch-replay op (stream_dedup_docs, stream_novelty_docs,
stream_semdedup[_lsh], stream_token_cms) needs two kinds of scratch:

* a REPLAY input dir (the documents/embeddings table split into
  ``N_STREAM_EPOCHS`` files) — cached per (sf_dir, table, table
  version) because it is a pure function of the table's files and
  re-splitting it per invocation would dominate the bench; and
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
