"""Output checks against the DuckDB oracles the package ships.

``oracle_sql()`` in ``__spark_entry__`` holds a DuckDB twin of each
registry query. A Spark result matches when it has the oracle's row
count, column names and order-insensitive multiset of values (floats
rounded to 6 places, as the two engines may differ in the last bits
of a sum).
"""

from __future__ import annotations

import datetime
import math
import os

TABLES = ("events", "documents", "embeddings")


def _norm(v) -> str:
    if v is None:
        return "NULL"
    if isinstance(v, float):
        return "NaN" if math.isnan(v) else repr(round(v, 6) + 0.0)
    if isinstance(v, (datetime.datetime, datetime.date)):
        return v.isoformat()
    if isinstance(v, (list, tuple)):
        return "[" + ",".join(_norm(x) for x in v) + "]"
    if isinstance(v, dict):
        return "{" + ",".join(f"{k}:{_norm(x)}" for k, x in sorted(v.items())) + "}"
    if hasattr(v, "asDict"):
        return _norm(v.asDict())
    return str(v)


def _multiset(rows, cols: list[str]) -> list[str]:
    order = sorted(range(len(cols)), key=lambda i: cols[i])
    return sorted("|".join(_norm(r[i]) for i in order) for r in rows)


class Oracle:
    """One DuckDB connection with the fixture tables as views."""

    def __init__(self, data_dir: str):
        import duckdb

        import __spark_entry__

        self.sql = __spark_entry__.oracle_sql()
        self.con = duckdb.connect()
        self.con.execute("SET threads TO 2")
        for t in TABLES:
            p = os.path.join(data_dir, f"{t}.parquet").replace("'", "''")
            self.con.execute(f"CREATE VIEW {t} AS SELECT * FROM read_parquet('{p}')")

    def mismatch(self, name: str, result: tuple[list[str], list]) -> str | None:
        """None when ``result`` (a Spark result's column names and
        collected rows) equals the oracle's result for ``name``, else a
        one-line reason."""
        rel = self.con.sql(self.sql[name])
        want_cols = [c.lower() for c in rel.columns]
        want = _multiset(rel.fetchall(), want_cols)
        columns, rows = result
        got_cols = [c.lower() for c in columns]
        if sorted(got_cols) != sorted(want_cols):
            return f"columns {sorted(got_cols)} != {sorted(want_cols)}"
        got = _multiset(rows, got_cols)
        if len(got) != len(want):
            return f"{len(got)} rows != oracle {len(want)}"
        if got != want:
            bad = sum(a != b for a, b in zip(got, want))
            return f"{bad} of {len(want)} rows differ from the oracle"
        return None

    def close(self) -> None:
        self.con.close()
