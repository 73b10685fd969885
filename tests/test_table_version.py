"""Process-wide caches of a table's rows or derived state key on the
table's version (``tables.table_version``): a table rewritten at the
same path must never be served from the old version's cache."""

from __future__ import annotations

import shutil

import pyarrow as pa
import pyarrow.parquet as pq

SF_SMOKE = "/root/testdata/sf0.001"
# one query per cache: the gate replay dir (documents), the
# sessionization replay dir (events) and the bucketed ANN cell index
# (embeddings)
CACHED = {"stream_novelty_docs", "gap_sessions", "ann_topk_bucketed"}


def _rewrite(path: str, fn) -> None:
    pq.write_table(fn(pq.read_table(path)), path)


def _reverse_embeddings(t: pa.Table) -> pa.Table:
    # same row count (so the adaptive plane count is unchanged), every
    # vec_id gets another vector
    col = t.column("embedding")
    i = t.schema.get_field_index("embedding")
    return t.set_column(
        i, "embedding", pa.array(col.to_pylist()[::-1], type=col.type)
    )


def test_rewritten_tables_are_not_served_from_cache(spark, tmp_path):
    import tools.check_parity as cp

    sf = str(tmp_path / "sf")
    shutil.copytree(SF_SMOKE, sf)
    # first pass fills every cache from the original files
    assert cp.run_parity(spark, sf, only=CACHED, quiet=True) == []

    _rewrite(f"{sf}/documents.parquet", lambda t: t.slice(0, t.num_rows // 3))
    _rewrite(f"{sf}/events.parquet", lambda t: t.slice(0, t.num_rows // 3))
    _rewrite(f"{sf}/embeddings.parquet", _reverse_embeddings)
    # the oracle reads the rewritten files; so must every query
    assert cp.run_parity(spark, sf, only=CACHED, quiet=True) == []


def test_superseded_replay_copy_is_removed(spark, tmp_path, oracle_rows):
    """A gate's replay copy lives as long as its table version: each
    call after a rewrite replays the current file, and the copy of the
    version it superseded is gone."""
    import glob
    import os
    import tempfile

    from angelone_clickhouse_spark.streaming.novelty import (
        ORACLES,
        stream_novelty_docs,
    )

    sf = str(tmp_path / "sf")
    shutil.copytree(SF_SMOKE, sf)
    copies = os.path.join(tempfile.gettempdir(), "replay_documents_*")
    before = set(glob.glob(copies))
    for keep in (1.0, 2 / 3, 1 / 3):
        if keep < 1.0:
            _rewrite(
                f"{sf}/documents.parquet",
                lambda t: t.slice(0, int(t.num_rows * keep)),
            )
        got = {tuple(r) for r in stream_novelty_docs(spark, sf).collect()}
        assert got == oracle_rows(sf, ORACLES["stream_novelty_docs"])
    assert len(set(glob.glob(copies)) - before) == 1
