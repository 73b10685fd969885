"""The engine's Python worker daemon (pyworker.py) and where its UDF
workers import the engine from."""

from __future__ import annotations

import importlib
import os
import subprocess
import sys
import textwrap
import zipfile
import zipimport

import pyarrow as pa

# importing the module applies its zipimport patch here too (Python < 3.12)
from angelone_clickhouse_spark import pyworker

REPO = os.path.dirname(os.path.dirname(os.path.abspath(__file__)))


def _write_zip(path, modules: dict[str, str]) -> None:
    with zipfile.ZipFile(path, "w") as z:
        for name, src in modules.items():
            z.writestr(f"{name}.py", src)


def test_zip_importer_rereads_only_a_changed_archive(tmp_path, monkeypatch):
    archive = tmp_path / "mods.zip"
    _write_zip(archive, {"pyworker_probe_old": "X = 1\n"})
    monkeypatch.syspath_prepend(str(archive))
    try:
        assert importlib.import_module("pyworker_probe_old").X == 1
        _write_zip(archive, {"pyworker_probe_old": "X = 1\n",
                             "pyworker_probe_new": "Y = 2\n"})
        importlib.invalidate_caches()
        assert importlib.import_module("pyworker_probe_new").Y == 2

        reads = []
        read_directory = zipimport._read_directory
        monkeypatch.setattr(zipimport, "_read_directory",
                            lambda p: reads.append(p) or read_directory(p))
        importlib.invalidate_caches()
        assert str(archive) not in reads
    finally:
        sys.modules.pop("pyworker_probe_old", None)
        sys.modules.pop("pyworker_probe_new", None)


def test_udf_worker_runs_engine_daemon(spark):
    def invalidate_source(batches):
        import zipimport

        code = zipimport.zipimporter.invalidate_caches.__code__
        yield pa.RecordBatch.from_pydict({"f": [code.co_filename]})

    got = (spark.range(1, numPartitions=1)
           .mapInArrow(invalidate_source, "f string").first().f)
    if sys.version_info < (3, 12):
        assert os.path.samefile(got, pyworker.__file__), got
    else:
        assert "pyworker" not in got, got


def test_udfs_import_engine_from_any_cwd(tmp_path):
    script = textwrap.dedent(f"""
        import sys
        sys.path.insert(0, {REPO!r})
        from angelone_clickhouse_spark.session import get_spark
        from angelone_clickhouse_spark.sources.decoder import decode_frames
        from angelone_clickhouse_spark.sources.frames import frames_df, generate_frames
        spark = get_spark(master="local[1]", shuffle_partitions=1)
        rows = decode_frames(frames_df(spark, generate_frames(20, seed=1))).collect()
        print("decoded", len(rows), sum(r.is_corrupt for r in rows))
        spark.stop()
    """)
    env = {k: v for k, v in os.environ.items()
           if k not in ("PYTHONPATH", "PYSPARK_SUBMIT_ARGS", "SPARK_MASTER")}
    env["SPARK_GRAFT_DRIVER_MEM"] = "1g"
    out = subprocess.run([sys.executable, "-c", script], cwd=tmp_path, env=env,
                         capture_output=True, text=True, timeout=600)
    assert "decoded 20 0" in out.stdout, out.stderr[-3000:]
