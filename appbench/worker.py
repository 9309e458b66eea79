"""Benchmark worker: one fresh process, one Spark session, one workload.

Started by run.py with a pickled plan. Prints ``READY`` once the session
is up and the first catalog read has returned (the end of set-up), then
runs the cold pass and the timed passes, checks every result and writes
its result JSON to ``plan["out"]``.
"""

from __future__ import annotations

import json
import os
import pickle
import random
import statistics
import sys
import threading
import time
import traceback

import oracle

_PAGE = os.sysconf("SC_PAGE_SIZE")


class RssSampler(threading.Thread):
    """Peak of the summed RSS of this process's descendants (the Spark
    JVM and the Python workers it forks), sampled from /proc."""

    def __init__(self, interval: float = 0.3):
        super().__init__(daemon=True)
        self.interval = interval
        self.peak = 0
        self._halt = threading.Event()

    def run(self):
        me = os.getpid()
        self.parts = {}
        while not self._halt.wait(self.interval):
            total, parts = _tree_rss(me)
            self.peak = max(self.peak, total)
            for k, v in parts.items():
                self.parts[k] = max(self.parts.get(k, 0), v)

    def stop(self) -> float:
        self._halt.set()
        self.join()
        return self.peak / 2**20


def _tree_rss(root: int) -> int:
    kids: dict[int, list[int]] = {}
    for d in os.listdir("/proc"):
        if d.isdigit():
            try:
                with open(f"/proc/{d}/stat") as f:
                    ppid = int(f.read().rsplit(")", 1)[1].split()[1])
            except (OSError, ValueError):
                continue
            kids.setdefault(ppid, []).append(int(d))
    total, stack = 0, list(kids.get(root, []))
    parts = {}
    while stack:
        pid = stack.pop()
        try:
            with open(f"/proc/{pid}/statm") as f:
                r = int(f.read().split()[1]) * _PAGE
            with open(f"/proc/{pid}/comm") as f:
                comm = f.read().strip()
            total += r
            parts[comm] = parts.get(comm, 0) + r
        except (OSError, ValueError):
            pass
        stack.extend(kids.get(pid, []))
    return total, parts


def _cpu_times() -> list[int]:
    with open("/proc/stat") as f:
        return [int(x) for x in f.readline().split()[1:]]


TAIL_BEYOND = 10
TAIL_MIN_PCT = 90.0


def tail(samples: list[float]) -> tuple[float, float, int]:
    """(value, percentile, n): the highest percentile with at least
    ``TAIL_BEYOND`` samples beyond it, once that percentile is at least
    ``TAIL_MIN_PCT`` (100 samples or more). With fewer samples that
    percentile would sit at or below the median, so the maximum is
    reported instead (percentile 100)."""
    s = sorted(samples)
    n = len(s)
    pct = 100.0 * (n - TAIL_BEYOND) / n
    if pct < TAIL_MIN_PCT:
        return s[-1], 100.0, n
    return s[n - TAIL_BEYOND - 1], pct, n


def failure_cause(e: BaseException) -> str:
    """One line naming why a query raised. For an error raised in the
    JVM that is the Java root cause (the innermost ``Caused by``), not
    the Py4J call that carried it."""
    jexc = getattr(e, "java_exception", None) or getattr(e, "_origin", None)
    if jexc is not None:
        try:
            root = jexc
            while root.getCause() is not None:
                root = root.getCause()
            return f"raised {root.toString().splitlines()[0]}"[:300]
        except Exception:  # the gateway may be gone; fall back to the text
            pass
    return f"raised {type(e).__name__}: {str(e).splitlines()[0]}"[:300]


class Recorder:
    """Samples and failures of one phase (cold or timed). Latencies are
    kept for correct executions only: a failed one has no latency worth
    reporting and is counted in ``failed`` instead."""

    def __init__(self):
        self.lat: list[float] = []
        self.names: list[str] = []
        self.failures: dict[str, str] = {}
        self.attempted = self.failed = 0

    @property
    def ok(self) -> int:
        return self.attempted - self.failed

    def add(self, name: str, seconds: float, err: str | None) -> None:
        self.attempted += 1
        if err is None:
            self.lat.append(seconds)
            self.names.append(name)
        else:
            self.failed += 1
            self.failures.setdefault(name, err)


def main(plan_path: str) -> int:
    with open(plan_path, "rb") as f:
        plan = pickle.load(f)
    rss = RssSampler()
    rss.start()
    from appeals_data_spark.catalog import load_table
    from appeals_data_spark.session import get_spark

    t0 = time.perf_counter()
    spark = get_spark("appbench")
    load_table(spark, plan["data"], "orders").count()
    session_start = time.perf_counter() - t0
    print("READY", flush=True)

    tracer = None
    if plan["trace"]:
        import spans

        tracer = spans.Tracer(spark)
        tracer.install()
    from appeals_data_spark.registry import all_queries

    qs = all_queries()
    rng = random.Random(plan["seed"])
    cold, timed = Recorder(), Recorder()
    names = plan["names"]
    ingest_stats: list[dict] = []
    commits: list[tuple[str, float, int]] = []

    def run_query(rec: Recorder, name: str, data: str, exp) -> None:
        if tracer:
            tracer.begin_query(name)
        t = time.perf_counter()
        err = sdf = None
        try:
            sdf = qs[name].builder(spark, data)
            if tracer:
                tracer.built()
            rows = sdf.collect()
            lat = time.perf_counter() - t
            err = oracle.check(sdf.columns, sdf.dtypes, rows, exp)
        except Exception as e:  # a failed query is a measured outcome
            lat = time.perf_counter() - t
            rows = []
            err = failure_cause(e).replace(plan["root"], "<checkout>")
        if tracer:
            tracer.end_query(sdf, len(rows))
        spark.catalog.clearCache()
        rec.add(name, lat, err)

    def one_pass(rec: Recorder, idx: int) -> None:
        if plan["workload"] != "ingest_refresh":
            order = list(names)
            rng.shuffle(order)
            for name in order:
                run_query(rec, name, plan["data"], plan["expected"][name])
            return
        import ingest

        pass_dir = os.path.join(plan["run_dir"], f"pass-{idx}")
        def on_commit(kind: str, seconds: float, rows: int) -> None:
            if rec is timed:
                commits.append((kind, seconds, rows))

        stats = ingest.run_pass(
            spark, plan, pass_dir,
            lambda name, live, c: run_query(rec, name, live, plan["expected"][c][name]),
            on_commit,
        )
        stats["timed"] = rec is timed
        ingest_stats.append(stats)

    t = time.perf_counter()
    one_pass(cold, 0)
    cold_s = time.perf_counter() - t

    if tracer:
        # one untraced warm pass: its time against the traced passes
        # below is the tracing overhead
        t = time.perf_counter()
        one_pass(Recorder(), 1)
        untraced_pass_s = time.perf_counter() - t
        tracer.enable()

    cpu0, t_start = _cpu_times(), time.perf_counter()
    pass_times: list[float] = []
    while not pass_times or (
        time.perf_counter() - t_start + pass_times[-1] <= plan["seconds"]
    ):
        t = time.perf_counter()
        one_pass(timed, len(pass_times) + 2)
        pass_times.append(time.perf_counter() - t)
    region_s = time.perf_counter() - t_start
    cpu1 = _cpu_times()
    load1 = os.getloadavg()[0]

    sink_err = None
    if plan["workload"] == "ingest_refresh":
        for st in ingest_stats:
            got = oracle.run_oracle(
                oracle.connect({"sink": st["sink_dir"]}),
                "SELECT date_trunc('hour', ts) AS window_start, event_type, COUNT(*) AS n "
                "FROM sink WHERE ts IS NOT NULL GROUP BY 1, 2",
            )
            if got.key != plan["sink_expected"].key:
                sink_err = f"sink rows differ from the extractor oracle ({got.nrows} vs {plan['sink_expected'].nrows} groups)"
    spark_version = spark.version
    java_version = spark._jvm.System.getProperty("java.version")
    ingest_m = {}
    if plan["workload"] == "ingest_refresh":
        ingest_m = _ingest_metrics(commits, [s for s in ingest_stats if s["timed"]])
    layer = {}
    if tracer:
        layer = tracer.report(untraced_pass_s, pass_times, {
            "session_start_s": session_start,
            "stale_reads": ingest_m.get("stale_reads", 0),
            "merge_bytes_rewritten": ingest_m.get("merge_bytes_rewritten", 0),
            "merge_untouched_file_ratio": ingest_m.get("merge_untouched_file_ratio", 0.0),
            "stream_checkpoint_bytes": ingest_m.get("checkpoint_bytes", 0),
        })
        layer["error_rate"] = timed.failed / timed.attempted
        for k in ("rows_per_s", "commit_p50_s", "commit_tail_s", "write_amp"):
            layer[f"ingest.{k}"] = ingest_m.get(k, 0.0)
        top_ops = tracer.top_operators()
    spark.stop()
    peak_mb = rss.stop()

    lat = timed.lat
    q_tail, q_pct, q_n = tail(lat)
    steal = (cpu1[7] - cpu0[7]) / max(1, sum(cpu1) - sum(cpu0))
    import pyspark

    result = {
        "workload": plan["workload"],
        "seed": plan["seed"],
        "attempted": cold.attempted + timed.attempted,
        "failed": cold.failed + timed.failed + (sink_err is not None),
        "e2e": {
            "cold_pass_s": cold_s,
            "query_p50_s": statistics.median(lat),
            "query_tail_s": q_tail,
            "queries_per_s": timed.ok / region_s,
            "peak_rss_mb": peak_mb,
        },
        "tail": {"percentile": q_pct, "samples": q_n},
        "passes": {"timed": len(pass_times), "pass_s": pass_times, "region_s": region_s},
        "failures": {**cold.failures, **timed.failures}
        | ({"ingest_sink": sink_err} if sink_err else {}),
        "per_query_s": _per_query(timed),
        "cold_per_query_s": _per_query(cold),
        "env": {
            "cores": len(os.sched_getaffinity(0)),
            "steal_share": steal,
            "loadavg_1m": load1,
            "seed": plan["seed"],
            "data_files": plan["data_files"],
            "sf": plan["sf"],
            "pyspark": pyspark.__version__,
            "spark": spark_version,
            "java": java_version,
            "session_start_s": session_start,
            "rss_parts_mb": {k: v / 2**20 for k, v in rss.parts.items()},
        },
        "layer": layer,
    }
    if ingest_m:
        result["ingest"] = ingest_m
    if tracer:
        result["top_operator"] = top_ops
        result["trace_untraced_pass_s"] = untraced_pass_s
    with open(plan["out"], "w") as f:
        json.dump(result, f)
    return 0


def _per_query(rec: Recorder) -> dict[str, float]:
    by: dict[str, list[float]] = {}
    for n, s in zip(rec.names, rec.lat):
        by.setdefault(n, []).append(s)
    return {n: statistics.median(v) for n, v in sorted(by.items())}


def _ingest_metrics(commits, stats) -> dict:
    arrivals = [(s, r) for k, s, r in commits if k == "arrival"]
    commit_s = [s for s, _ in arrivals]
    merge_s = [s for k, s, _ in commits if k == "merge"]
    c_tail, c_pct, c_n = tail(commit_s)
    written = sum(s["sink_bytes"] + s["checkpoint_bytes"] + s["merge_bytes_rewritten"] for s in stats)
    before = sum(s["merge_files_before"] for s in stats)
    return {
        "rows_per_s": sum(r for _, r in arrivals) / sum(s for s, _ in arrivals),
        "commit_p50_s": statistics.median(commit_s),
        "commit_tail_s": c_tail,
        "commit_tail_percentile": c_pct,
        "commit_samples": c_n,
        "merge_p50_s": statistics.median(merge_s),
        "write_amp": written / sum(s["landed_bytes"] for s in stats),
        "merge_bytes_rewritten": sum(s["merge_bytes_rewritten"] for s in stats),
        "merge_untouched_file_ratio": sum(s["merge_untouched_files"] for s in stats) / before,
        "checkpoint_bytes": sum(s["checkpoint_bytes"] for s in stats),
        "stale_reads": sum(s["stale_reads"] for s in stats),
    }


if __name__ == "__main__":
    try:
        sys.exit(main(sys.argv[1]))
    except Exception:
        traceback.print_exc()
        sys.exit(1)
