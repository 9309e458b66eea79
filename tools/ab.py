"""Interleaved A/B of a base commit against the working tree.

    python tools/ab.py --base REV [--pairs 10] --sf DIR query [query ...]
    python tools/ab.py --base REV [--pairs 10] --workload W

REV is checked out into a temporary git worktree, removed on exit.

Query mode runs both sides in one JVM. The base package is imported as
``appeals_data_spark_base``, a symlink into the worktree, next to the
working tree's ``appeals_data_spark``; each has its own module tree and
catalog memo. Each side is warmed once, then every pair times one
``bench.timed_run`` per side and query, the side that runs first
alternating between pairs, each side under its own ``session.tune``
confs. Both sides' rows must be equal on every pair. Query timings are
judged with the bound of BENCHMARK.json's ``query_p50_s``. The one
session is built once, so a static conf (one set on the builder in
``session.get_spark``, such as
``spark.python.sql.dataFrameDebugging.enabled``) is the same on both
sides: A/B such a conf with ``--workload``.

Workload mode alternates BENCHMARK.json's command (``appbench/run.py``)
between the two checkouts, with seed = pair number and the benchmark's
run length, and compares the end-to-end metrics. A run with
``correct=false`` is a refusal.

Per query or metric it prints each side's median and quartiles, the
pairs the change won and a ``verdict``. Exits 1 when rows differ or a
run is incorrect. ``--base HEAD`` is an A/A run: the timing and noise
of the named queries on the working tree.
"""

from __future__ import annotations

import argparse
import importlib
import json
import os
import shutil
import statistics
import subprocess
import sys
import tempfile

ROOT = os.path.dirname(os.path.dirname(os.path.abspath(__file__)))
sys.path.insert(0, ROOT)

import bench  # noqa: E402

BASE_PKG = "appeals_data_spark_base"


def quartiles(xs):
    """(q1, median, q3) of the samples."""
    return statistics.quantiles(xs, n=4, method="inclusive") if len(xs) > 1 else [xs[0]] * 3


def verdict(base, change, better, bound):
    """Judge paired samples ``base[i]``, ``change[i]``; return (verdict, wins).

    ``better`` is "lower" or "higher"; ``bound`` is the relative
    worsening the benchmark tolerates. A pair is won when the change is
    strictly better; ties count for neither side. The verdict is
    "unresolved" when either side's interquartile range is wider than
    ``bound`` of its median, unless every change run beats every base
    run; "gain" when the change wins at least 9/10 of the pairs and the
    medians differ by more than the base's interquartile range;
    "regression" when the change's median is worse than the base's by
    more than ``bound`` of it; "unchanged" otherwise.
    """
    sign = 1 if better == "lower" else -1
    wins = sum(sign * (b - c) > 0 for b, c in zip(base, change))
    (bq1, bmed, bq3), (cq1, cmed, cq3) = quartiles(base), quartiles(change)
    wide = bq3 - bq1 > bound * abs(bmed) or cq3 - cq1 > bound * abs(cmed)
    if wide and not all(sign * (b - c) > 0 for b in base for c in change):
        return "unresolved", wins
    if wins >= 0.9 * len(base) and sign * (bmed - cmed) > bq3 - bq1:
        return "gain", wins
    if sign * (cmed - bmed) > bound * abs(bmed):
        return "regression", wins
    return "unchanged", wins


def _fmt(xs):
    return "{1:.4g} [{0:.4g}, {2:.4g}]".format(*quartiles(xs))


def _table(samples, better, bound):
    """Print one markdown row per name: samples[name] = (base, change)."""
    print("| name | base median [q1, q3] | change median [q1, q3] | change wins | verdict |")
    print("|---|---|---|---|---|")
    for name, (base, change) in samples.items():
        v, wins = verdict(base, change, better[name], bound[name])
        print(f"| {name} | {_fmt(base)} | {_fmt(change)} | {wins}/{len(base)} | {v} |")


def _queries(a, wt, spec):
    """Query mode; returns whether rows were equal on every pair."""
    link_dir = os.path.dirname(wt)
    os.symlink(os.path.join(wt, "appeals_data_spark"), os.path.join(link_dir, BASE_PKG))
    sys.path.append(link_dir)
    # Python workers inherit the driver's environment when the JVM starts.
    os.environ["PYTHONPATH"] = os.pathsep.join(filter(None, [ROOT, link_dir, os.environ.get("PYTHONPATH")]))
    sides = {}
    for side, pkg in (("base", BASE_PKG), ("change", "appeals_data_spark")):
        qs = importlib.import_module(pkg + ".registry").all_queries()
        unknown = [n for n in a.queries if n not in qs]
        if unknown:
            raise SystemExit(f"ab.py: not registered on the {side} side: {unknown}")
        sides[side] = (importlib.import_module(pkg + ".session"), [qs[n] for n in a.queries])
    # Each side starts from the defaults, then applies its own confs, so
    # a conf only one side sets never leaks into the other's runs.
    keys = {"spark.sql.shuffle.partitions", *(k for s, _ in sides.values() for k in s.RUNTIME_CONFS)}
    spark = bench.get_spark("ab")
    spark.sparkContext.setLogLevel("ERROR")

    def tune(side):
        for k in keys:
            spark.conf.unset(k)
        sides[side][0].tune(spark)

    for side in sides:
        tune(side)
        bench.warm(spark, sides[side][1], a.sf)
    times = {n: ([], []) for n in a.queries}
    equal = True
    for i in range(a.pairs):
        order = ("base", "change") if i % 2 == 0 else ("change", "base")
        for j, name in enumerate(a.queries):
            rows = {}
            for side in order:
                tune(side)
                _, total, rows[side], _ = bench.timed_run(spark, sides[side][1][j], a.sf)
                times[name][side == "change"].append(total)
            if sorted(map(repr, rows["base"])) != sorted(map(repr, rows["change"])):
                print(f"pair {i + 1}: {name} rows differ", flush=True)
                equal = False
        print(f"pair {i + 1}/{a.pairs} done", flush=True)
    spark.stop()
    bound = {m["name"]: m["bound"] for m in spec["end_to_end"]}["query_p50_s"]
    _table(times, dict.fromkeys(times, "lower"), dict.fromkeys(times, bound))
    print("rows equal on every pair" if equal else "ROWS DIFFER")
    return equal


def _workload(a, wt, spec):
    """Workload mode; returns whether every run was correct."""
    metrics = {m["name"]: m for m in spec["end_to_end"]}
    samples = {n: ([], []) for n in metrics}
    env = {k: v for k, v in os.environ.items() if k != "PYTHONPATH"}
    correct = True
    for i in range(a.pairs):
        for is_change in (False, True) if i % 2 == 0 else (True, False):
            cmd = [*spec["command"], "--workload", a.workload, "--seed", str(i + 1),
                   "--seconds", str(spec["run_seconds"]), "--trace", "0"]
            proc = subprocess.run(cmd, cwd=ROOT if is_change else wt, env=env,
                                  capture_output=True, text=True)
            if proc.returncode != 0:
                raise RuntimeError(f"{cmd} failed:\n{proc.stderr[-3000:]}")
            res = json.loads(proc.stdout.strip().splitlines()[-1])
            side = "change" if is_change else "base"
            print(f"pair {i + 1} {side}: correct={res['correct']} failed={res['failed']}"
                  f"/{res['attempted']}", flush=True)
            correct &= res["correct"]
            for n in metrics:
                samples[n][is_change].append(res["metrics"][n]["value"])
    _table(samples, {n: m["better"] for n, m in metrics.items()},
           {n: m["bound"] for n, m in metrics.items()})
    print("every run correct" if correct else "REFUSED: a run was incorrect")
    return correct


def main(argv=None) -> int:
    ap = argparse.ArgumentParser(description=__doc__.splitlines()[0])
    ap.add_argument("--base", required=True, help="git revision to compare against")
    ap.add_argument("--pairs", type=int, default=10)
    mode = ap.add_mutually_exclusive_group(required=True)
    mode.add_argument("--sf", help="scale-factor directory (query mode)")
    mode.add_argument("--workload", help="appbench workload (workload mode)")
    ap.add_argument("queries", nargs="*")
    a = ap.parse_args(argv)
    if bool(a.sf) != bool(a.queries) or a.pairs < 1:
        ap.error("--sf takes one or more queries, --workload none; --pairs >= 1")
    with open(os.path.join(ROOT, "BENCHMARK.json")) as f:
        spec = json.load(f)
    tmp = tempfile.mkdtemp(prefix="ab-")
    wt = os.path.join(tmp, "base")
    stat0 = bench.cpu_sample()
    try:
        subprocess.run(["git", "-C", ROOT, "worktree", "add", "--detach", "--quiet", wt, a.base],
                       check=True)
        ok = _queries(a, wt, spec) if a.sf else _workload(a, wt, spec)
    finally:
        subprocess.run(["git", "-C", ROOT, "worktree", "remove", "--force", wt],
                       capture_output=True)
        shutil.rmtree(tmp, ignore_errors=True)
    print(f"steal_pct={bench.env_sample(stat0, bench.cpu_sample())['steal_pct']}")
    return 0 if ok else 1


if __name__ == "__main__":
    raise SystemExit(main())
