"""The ``ingest_refresh`` workload: landing files, stream drains, merges.

:func:`prepare` (no Spark) writes the seeded ingest inputs once per
seed and computes the state after every commit, so expected answers can
be taken before the timed region. :func:`run_pass` (in the Spark
worker) replays one pass in a fresh live directory:

* the live ``events.parquet`` directory doubles as the landing
  directory: each arrival file is moved into it, then
  ``streaming.event_stream`` + ``streaming.extracted_event_stream``
  drain it into ``streaming.sink_parquet_stream`` (the derived event
  log), one checkpoint per pass;
* after the arrivals named in ``workloads.MERGE_AFTER`` a seeded repair
  batch is merged into the live orders copy (partitioned by
  ``o_orderstatus``) through ``sources.merge_into``;
* after every commit the registry reads in ``workloads.READS`` run
  against the live directory and are checked against the oracle on the
  rows committed so far.

The registry reads go through ``catalog.load_table`` exactly as every
other query does. Its per-(app, dir, table) memo keeps the file listing
of the first read, so reads after a later commit see stale files. The
benchmark counts those reads; it does not work around them.
"""

from __future__ import annotations

import importlib
import os
import shutil
import time
from urllib.parse import urlparse

import numpy as np
import pyarrow as pa
import pyarrow.compute as pc
import pyarrow.parquet as pq

import datagen
import workloads as W

PARTITION_COL = "o_orderstatus"
REPAIR_STATUS = "P"


def _arrival_path(src: str, i: int) -> str:
    return os.path.join(src, f"arrival-{i:02d}.parquet")


def _repair_path(src: str, j: int) -> str:
    return os.path.join(src, f"repair-{j:02d}.parquet")


def prepare(tables: dict[str, pa.Table], seed: int, src: str) -> list[dict[str, pa.Table]]:
    """Write bootstrap, arrival and repair files plus the partitioned
    orders copy under ``src``; return the (events, orders) state after
    each commit of ``workloads.commit_plan()``."""
    rng = np.random.default_rng([7, seed])
    events = tables["events"].sort_by([("ts", "ascending"), ("event_id", "ascending")])
    n = events.num_rows
    cut = int(n * W.BOOTSTRAP_SHARE)
    bounds = np.linspace(cut, n, W.ARRIVALS + 1).astype(int)
    orders = tables["orders"]
    repairs = []
    orders_after = [orders]  # orders after 0, 1, ... merges
    next_key = int(pc.max(orders.column("o_orderkey")).as_py()) + 1
    for _ in W.MERGE_AFTER:
        cur = orders_after[-1]
        batch = _repair_batch(rng, cur, next_key)
        next_key += W.REPAIR_INSERTS
        repairs.append(batch)
        gone = pc.is_in(cur.column("o_orderkey"), pa.array(batch.column("o_orderkey")))
        orders_after.append(pa.concat_tables([cur.filter(pc.invert(gone)), batch]))

    def write(tmp: str) -> None:
        pq.write_table(events.slice(0, cut), os.path.join(tmp, "bootstrap.parquet"))
        for i in range(1, W.ARRIVALS + 1):
            lo, hi = bounds[i - 1], bounds[i]
            pq.write_table(events.slice(lo, hi - lo), _arrival_path(tmp, i))
        for j, batch in enumerate(repairs, start=1):
            pq.write_table(batch, _repair_path(tmp, j))
        pq.write_to_dataset(
            orders, os.path.join(tmp, "orders.parquet"), partition_cols=[PARTITION_COL]
        )

    datagen.build_once(src, write)

    states = []
    merged = 0
    landed = cut
    for kind, i in W.commit_plan():
        if kind == "merge":
            merged += 1
        else:
            landed = int(bounds[i])
        states.append({"events": events.slice(0, landed), "orders": orders_after[merged]})
    return states


def _repair_batch(rng, orders: pa.Table, next_key: int) -> pa.Table:
    """Seeded repair: re-price and re-prioritise REPAIR_UPDATES orders
    of one status and insert REPAIR_INSERTS new ones of that status, so
    the merge rewrites one partition and leaves the others alone."""
    cand = orders.filter(pc.equal(orders.column(PARTITION_COL), REPAIR_STATUS))
    pick = rng.choice(cand.num_rows, W.REPAIR_UPDATES, replace=False)
    upd = cand.take(np.sort(pick))
    prices = np.round(upd.column("o_totalprice").to_numpy() * rng.uniform(0.9, 1.1, upd.num_rows), 2)
    upd = upd.set_column(upd.schema.get_field_index("o_totalprice"), "o_totalprice", pa.array(prices))
    prio = upd.column("o_orderpriority").to_numpy(zero_copy_only=False)
    upd = upd.set_column(
        upd.schema.get_field_index("o_orderpriority"), "o_orderpriority",
        pa.array(np.roll(prio, 1).astype(str)),
    )
    new = cand.take(rng.choice(cand.num_rows, W.REPAIR_INSERTS, replace=False))
    new = new.set_column(
        0, "o_orderkey", pa.array(np.arange(next_key, next_key + W.REPAIR_INSERTS, dtype=np.int64))
    )
    return pa.concat_tables([upd, new.cast(upd.schema)])


def _files(path: str) -> dict[str, int]:
    """Data files under ``path`` (Spark's hidden ``_``/``.`` names
    skipped) mapped to their size."""
    out = {}
    for d, dirs, names in os.walk(path):
        dirs[:] = [x for x in dirs if not x.startswith((".", "_"))]
        for n in names:
            if n.endswith(".parquet") and not n.startswith((".", "_")):
                p = os.path.join(d, n)
                out[p] = os.path.getsize(p)
    return out


def dir_bytes(path: str) -> int:
    """Bytes under ``path`` (a file or a directory tree); files that
    vanish while it walks are skipped."""
    if os.path.isfile(path):
        return os.path.getsize(path)
    total = 0
    for d, _, names in os.walk(path):
        for n in names:
            try:
                total += os.path.getsize(os.path.join(d, n))
            except OSError:
                pass
    return total


def _memo_files(df) -> set[str]:
    return {os.path.realpath(urlparse(f).path) for f in df.inputFiles()}


def run_pass(spark, ctx, pass_dir: str, run_read, on_commit) -> dict:
    """One ingest pass. ``run_read(name, live_dir, commit_index)`` runs
    and checks one registry read; ``on_commit(kind, seconds, rows)``
    records one commit. Returns the pass's byte and freshness counts."""
    from appeals_data_spark import catalog

    # module objects, not names: the traced run wraps module attributes
    merge_mod = importlib.import_module("appeals_data_spark.sources.merge")
    es = importlib.import_module("appeals_data_spark.streaming.event_stream")

    load_table = getattr(catalog.load_table, "__wrapped__", catalog.load_table)
    src = ctx["ingest_src"]
    live = os.path.join(pass_dir, "live")
    sink = os.path.join(pass_dir, "sink")
    ckpt = os.path.join(pass_dir, "checkpoint")
    ev_dir = os.path.join(live, "events.parquet")
    ord_dir = os.path.join(live, "orders.parquet")
    os.makedirs(ev_dir)
    for t in catalog.TABLES:
        if t not in ("events", "orders"):
            os.symlink(os.path.join(ctx["data"], f"{t}.parquet"), os.path.join(live, f"{t}.parquet"))
    shutil.copy(os.path.join(src, "bootstrap.parquet"), os.path.join(ev_dir, "bootstrap.parquet"))
    shutil.copytree(os.path.join(src, "orders.parquet"), ord_dir)

    landed = rewritten = 0
    untouched = before_total = 0
    stale = 0
    for c, (kind, i) in enumerate(W.commit_plan()):
        if kind == "arrival":
            path = _arrival_path(src, i)
            size = os.path.getsize(path)
            rows = pq.ParquetFile(path).metadata.num_rows
            t0 = time.perf_counter()
            tmp = os.path.join(live, f".arrival-{i:02d}.parquet")
            shutil.copy(path, tmp)
            os.replace(tmp, os.path.join(ev_dir, f"arrival-{i:02d}.parquet"))
            stream = es.extracted_event_stream(es.event_stream(spark, ev_dir))
            es.sink_parquet_stream(stream, sink, ckpt)
            on_commit(kind, time.perf_counter() - t0, rows)
        else:
            path = _repair_path(src, i)
            size = os.path.getsize(path)
            before = _files(ord_dir)
            t0 = time.perf_counter()
            updates = spark.read.parquet(path)
            merge_mod.merge_into(spark, ord_dir, updates, ["o_orderkey"], [PARTITION_COL])
            on_commit(kind, time.perf_counter() - t0, 0)
            after = _files(ord_dir)
            rewritten += sum(s for p, s in after.items() if p not in before)
            untouched += sum(1 for p in before if p in after)
            before_total += len(before)
        landed += size
        for name in W.READS:
            run_read(name, live, c)
            for t in ctx["read_tables"][name]:
                path = os.path.join(live, f"{t}.parquet")
                on_disk = {os.path.realpath(p) for p in _files(path)}
                if _memo_files(load_table(spark, live, t)) != on_disk:
                    stale += 1
                    break
    return {
        "landed_bytes": landed,
        "sink_bytes": dir_bytes(sink),
        "checkpoint_bytes": dir_bytes(ckpt),
        "merge_bytes_rewritten": rewritten,
        "merge_untouched_files": untouched,
        "merge_files_before": before_total,
        "stale_reads": stale,
        "sink_dir": sink,
    }
