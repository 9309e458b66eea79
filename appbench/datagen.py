"""Seeded input tables for the benchmark.

The base is the engine's own sf0.01 layout, committed under ``base/``
(one parquet file per catalog table, byte-identical to the layout the
repository's correctness checks use). Nothing about its rows is
generated here. :func:`variant_tables` derives the run's variant from
``--seed`` with pure pyarrow/numpy (no Spark):

* a keyed ~92% sample that keeps referential integrity: an order is
  kept or dropped together with its line items; customers, parts,
  suppliers and the small dimensions are kept whole; events, documents
  and embeddings are sampled row by row (no table refers to them);
* a row-order shuffle of every sampled table;
* the fact tables written as ``FACT_FILES`` parquet files each, so scan
  stages get more than one task.

The same seed always gives byte-identical files.
"""

from __future__ import annotations

import os
import shutil

import numpy as np
import pyarrow as pa
import pyarrow.parquet as pq

BASE_DIR = os.path.join(os.path.dirname(os.path.abspath(__file__)), "base")
BASE_SF = 0.01
SAMPLE_SEED = 42
KEEP_SHARE = 0.92
FACT_FILES = {"orders": 4, "lineitem": 8, "events": 4, "documents": 4, "embeddings": 2}


def base_tables() -> dict[str, pa.Table]:
    """The committed base layout, one Arrow table per catalog table."""
    return {
        n[: -len(".parquet")]: pq.read_table(os.path.join(BASE_DIR, n))
        for n in sorted(os.listdir(BASE_DIR))
        if n.endswith(".parquet")
    }


def _keep(rng, n: int) -> np.ndarray:
    return rng.random(n) < KEEP_SHARE


def variant_tables(base: dict[str, pa.Table], seed: int) -> dict[str, pa.Table]:
    """Keyed sample + shuffle of ``base``; referential integrity holds."""
    rng = np.random.default_rng([SAMPLE_SEED, seed])
    out = dict(base)
    orders = base["orders"]
    keep_o = _keep(rng, orders.num_rows)
    out["orders"] = orders.filter(keep_o)
    kept_keys = orders.column("o_orderkey").to_numpy()[keep_o]
    li = base["lineitem"]
    out["lineitem"] = li.filter(np.isin(li.column("l_orderkey").to_numpy(), kept_keys))
    for name in ("events", "documents", "embeddings"):
        out[name] = base[name].filter(_keep(rng, base[name].num_rows))
    for name in FACT_FILES:
        out[name] = out[name].take(rng.permutation(out[name].num_rows))
    return out


def build_once(path: str, build) -> None:
    """Run ``build(tmp_dir)`` and move the result to ``path`` unless a
    finished ``path`` exists; a DONE marker makes the move atomic."""
    if os.path.exists(os.path.join(path, "DONE")):
        return
    tmp = f"{path}.{os.getpid()}.tmp"
    shutil.rmtree(tmp, ignore_errors=True)
    os.makedirs(tmp)
    build(tmp)
    open(os.path.join(tmp, "DONE"), "w").close()
    shutil.rmtree(path, ignore_errors=True)
    os.replace(tmp, path)


def count_files(path: str) -> int:
    return sum(n.endswith(".parquet") for _, _, names in os.walk(path) for n in names)


def write_tables(tables: dict[str, pa.Table], out_dir: str) -> int:
    """Write each table as ``<out_dir>/<name>.parquet``: a directory of
    ``FACT_FILES[name]`` part files for fact tables, one file otherwise.
    Returns the number of parquet files written."""
    os.makedirs(out_dir, exist_ok=True)
    files = 0
    for name, tbl in tables.items():
        parts = FACT_FILES.get(name, 0)
        if not parts:
            pq.write_table(tbl, f"{out_dir}/{name}.parquet")
            files += 1
            continue
        d = f"{out_dir}/{name}.parquet"
        os.makedirs(d, exist_ok=True)
        step = -(-tbl.num_rows // parts)
        for i in range(parts):
            pq.write_table(tbl.slice(i * step, step), f"{d}/part-{i:03d}.parquet")
            files += 1
    return files
