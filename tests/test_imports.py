"""Every package module imports on its own, in a fresh interpreter: no
module-level import cycle hides behind the order other tests import in."""

from __future__ import annotations

import os
import subprocess
import sys
from concurrent.futures import ThreadPoolExecutor

REPO = os.path.dirname(os.path.dirname(os.path.abspath(__file__)))
PACKAGE = "angelone_clickhouse_spark"


def _modules() -> list[str]:
    out = []
    for dirpath, _, files in os.walk(os.path.join(REPO, PACKAGE)):
        rel = os.path.relpath(dirpath, REPO).replace(os.sep, ".")
        out += [rel if f == "__init__.py" else f"{rel}.{f[:-3]}"
                for f in files if f.endswith(".py")]
    return sorted(out)


def _import_alone(module: str) -> str | None:
    env = dict(os.environ, PYTHONPATH=REPO)
    r = subprocess.run([sys.executable, "-c", f"import {module}"], cwd=REPO,
                       env=env, capture_output=True, text=True, timeout=300)
    return None if r.returncode == 0 else f"{module}: {r.stderr.strip().splitlines()[-1]}"


def test_every_module_imports_in_a_fresh_interpreter():
    modules = _modules()
    assert f"{PACKAGE}.operators.text" in modules
    with ThreadPoolExecutor(max_workers=4) as pool:
        failures = [f for f in pool.map(_import_alone, modules) if f]
    assert not failures, "\n".join(failures)
