"""DuckDB oracle and the order-insensitive result hash.

Results are compared the way the repository's oracle sweep compares them:
columns sorted by name, every value rendered canonically (floats to 10
significant digits), rows sorted, so row order and partitioning never
matter. Both sides are rendered by the same function, which accepts the
Python values of a Spark ``collect()`` and of a DuckDB ``fetchall()``.
"""

from __future__ import annotations

import datetime as _dt
import decimal
import hashlib
import math
import os

# every table the TPC-H graph mapping and the registry's corpus operators read
TABLES = (
    "region", "nation", "customer", "supplier", "part", "orders",
    "lineitem", "events", "documents", "embeddings",
)


def canonical_value(v) -> str:
    if v is None:
        return "null"
    if isinstance(v, bool):
        return "true" if v else "false"
    if isinstance(v, int):
        return str(v)
    if isinstance(v, (float, decimal.Decimal)):
        f = float(v)
        return "nan" if math.isnan(f) else f"{f:.10g}"
    if isinstance(v, str):
        return "s:" + v
    if isinstance(v, _dt.datetime):
        return v.replace(tzinfo=None).isoformat(sep=" ")
    if isinstance(v, _dt.date):
        return v.isoformat() + " 00:00:00"
    if isinstance(v, dict):
        return "{" + ",".join(f"{canonical_value(k)}:{canonical_value(x)}" for k, x in sorted(v.items())) + "}"
    if hasattr(v, "asDict"):
        return canonical_value(v.asDict(recursive=True))
    if hasattr(v, "__len__"):
        return "[" + ",".join(canonical_value(x) for x in v) + "]"
    if hasattr(v, "item"):  # numpy scalar
        return canonical_value(v.item())
    return repr(v)


def canonical_rows(columns: list[str], rows) -> list[tuple]:
    order = sorted(range(len(columns)), key=lambda i: columns[i])
    return sorted(tuple(canonical_value(row[i]) for i in order) for row in rows)


def result_hash(columns: list[str], rows) -> str:
    h = hashlib.sha256()
    h.update(repr(sorted(columns)).encode())
    for r in canonical_rows(columns, rows):
        h.update(repr(r).encode())
    return h.hexdigest()


class Oracle:
    """DuckDB over the benchmark's tables; answers are memoized by SQL text."""

    def __init__(self, data_dir: str, temp_dir: str):
        import duckdb

        self.con = duckdb.connect(config={"temp_directory": temp_dir, "threads": 2})
        for t in TABLES:
            path = os.path.join(data_dir, f"{t}.parquet").replace("'", "''")
            self.con.execute(f"CREATE VIEW {t} AS SELECT * FROM read_parquet('{path}')")
        self._memo: dict[str, tuple[str, int]] = {}

    def answer(self, sql: str) -> tuple[str, int]:
        """(hash, row count) of the oracle result."""
        if sql not in self._memo:
            cur = self.con.execute(sql)
            cols = [d[0] for d in cur.description]
            rows = cur.fetchall()
            self._memo[sql] = (result_hash(cols, rows), len(rows))
        return self._memo[sql]

    def close(self) -> None:
        self.con.close()
