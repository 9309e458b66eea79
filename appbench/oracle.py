"""Expected answers from DuckDB and the result check.

Expected answers are the registry's own oracle SQL run in DuckDB over
the same tables the workload reads. They are computed before the timed
region and cached on disk by (tables, oracle text), so a second run on
the same seed skips DuckDB.

The check applies the rules of ``tools/check.py`` (imported, not
copied): same column names, DuckDB/Spark type compatibility, no final
decimal with scale above 1, same row count, and equal
order-insensitive rows with typed decimal rendering.
"""

from __future__ import annotations

import hashlib
import importlib.util
import os
import pickle

import duckdb

_ROOT = os.path.dirname(os.path.dirname(os.path.abspath(__file__)))


def _load_rules():
    spec = importlib.util.spec_from_file_location(
        "appbench_check_rules", os.path.join(_ROOT, "tools", "check.py")
    )
    mod = importlib.util.module_from_spec(spec)
    spec.loader.exec_module(mod)
    return mod


_RULES = _load_rules()


class Expected:
    """One oracle answer: column names, DuckDB type names, row key."""

    def __init__(self, cols: list[str], types: list[str], rows: list[tuple]):
        self.cols = cols
        self.types = types
        self.nrows = len(rows)
        self.key = _RULES._rows_key(rows, cols)


def connect(tables: dict) -> duckdb.DuckDBPyConnection:
    """DuckDB connection with one view per table. A value is either a
    parquet path (file or directory of part files) or an Arrow table."""
    con = duckdb.connect()
    for name, src in tables.items():
        if isinstance(src, str):
            glob = f"{src}/*.parquet" if os.path.isdir(src) else src
            con.execute(f"CREATE VIEW {name} AS SELECT * FROM read_parquet('{glob}')")
        else:
            con.register(f"{name}_arrow", src)
            con.execute(f"CREATE VIEW {name} AS SELECT * FROM {name}_arrow")
    return con


def run_oracle(con, sql: str) -> Expected:
    rel = con.sql(sql)
    cols = [c.lower() for c in rel.columns]
    return Expected(cols, [str(t) for t in rel.types], rel.fetchall())


def cached(cache_dir: str, tag: str, sql: str, compute) -> Expected:
    """``compute()`` once per (tag, sql); ``tag`` names the tables."""
    os.makedirs(cache_dir, exist_ok=True)
    h = hashlib.sha256(f"{tag}\0{sql}".encode()).hexdigest()[:32]
    path = os.path.join(cache_dir, f"{h}.pkl")
    if os.path.exists(path):
        with open(path, "rb") as f:
            return pickle.load(f)
    exp = compute()
    tmp = f"{path}.{os.getpid()}.tmp"
    with open(tmp, "wb") as f:
        pickle.dump(exp, f)
    os.replace(tmp, path)
    return exp


def check(cols: list[str], dtypes: list[tuple[str, str]], rows, exp: Expected) -> str | None:
    """None when the Spark result matches ``exp``, else the reason."""
    lint = _RULES._decimal_lint(dtypes)
    if lint:
        return "final decimal scale too high: " + ", ".join(lint)
    scols = [c.lower() for c in cols]
    if sorted(scols) != sorted(exp.cols):
        return f"schema {sorted(scols)} vs {sorted(exp.cols)}"
    st = {c.lower(): t for c, t in dtypes}
    for col, dt in zip(exp.cols, exp.types):
        if not _RULES._types_compatible(dt, st[col]):
            return f"type {col}: duckdb {dt} vs spark {st[col]}"
    if len(rows) != exp.nrows:
        return f"rows {len(rows)} vs {exp.nrows}"
    if _RULES._rows_key([tuple(r) for r in rows], scols) != exp.key:
        return "values differ"
    return None
