"""Span recorder for the traced run (``--trace 1``).

:meth:`Tracer.install` wraps every public function of the layers
``catalog``, ``views``, ``operators``, ``functions``, ``ml``,
``streaming`` and ``sources`` before the registry imports ``queries/``
(builders bind these names at import time), and rebinds the names other
modules of the package already imported. A wrapper records a span
(name, start, end, parent, query-run id) and tags the Spark jobs started
inside it with ``SparkContext.addJobTag``, so the status store can
attribute jobs and stages to the span. Wrappers pickle as a reference
to the original function, so closures shipped to Python workers carry
no tracer state.

Spans stay in memory; :meth:`Tracer.report` turns them and the status
store into the per-layer metrics. Every count and time is per timed
pass, so runs with different pass counts compare.
"""

from __future__ import annotations

import functools
import importlib
import os
import pkgutil
import sys
import time
import types

from ingest import dir_bytes

LAYERS = ("catalog", "views", "operators", "functions", "ml", "streaming", "sources")
OPERATORS = (
    "bpe", "closure", "dedup", "delta_dedup", "fuzzy_join", "graph", "multimodal", "pit",
    "range_join", "rank", "sessionize", "similarity", "skew", "survival",
)
ML = ("glm", "svm", "bt", "unigram_lm")

# SQL metric key in the executed plan -> (metric, scale to base unit)
_SQL_METRICS = {
    "aggTime": ("spark.sql.agg_time_s", 1e-3),
    "scanTime": ("spark.sql.scan_time_s", 1e-3),
    "sortTime": ("spark.sql.sort_time_s", 1e-3),
    "buildTime": ("spark.sql.broadcast_build_s", 1e-3),
    "pythonNumRowsReceived": ("spark.sql.python_rows", 1),
    "pythonDataSent": ("spark.sql.python_bytes", 1),
    "pythonDataReceived": ("spark.sql.python_bytes", 1),
    "filesSize": ("catalog.scan_input_bytes", 1),
}
# operator-level timings that pick the per-query top operator
_TIMING_KEYS = {"aggTime", "scanTime", "sortTime", "buildTime", "shuffleWriteTime"}


def _resolve(module: str, qualname: str):
    """Unpickle target of a wrapper: the original function (worker
    processes never install the tracer)."""
    obj = importlib.import_module(module)
    for part in qualname.split("."):
        obj = getattr(obj, part)
    return getattr(obj, "__wrapped__", obj)


class _Wrapper:
    def __init__(self, tracer: "Tracer", fn, layer: str):
        functools.update_wrapper(self, fn)
        self._tracer = tracer
        self._layer = layer

    def __call__(self, *args, **kwargs):
        if not self._tracer.enabled:
            return self.__wrapped__(*args, **kwargs)
        return self._tracer.span(self, args, kwargs)

    def __reduce__(self):
        fn = self.__wrapped__
        return (_resolve, (fn.__module__, fn.__qualname__))


def layer_of(module: str) -> str:
    """``appeals_data_spark.operators.dedup`` -> ``operators.dedup``;
    ``views``/``functions``/``ml`` keep the module, ``streaming`` and
    ``sources`` report as one layer each."""
    parts = module.split(".")[1:]
    if parts[0] in ("operators", "views", "functions", "ml") and len(parts) > 1:
        return f"{parts[0]}.{parts[1]}"
    return parts[0]


class Tracer:
    def __init__(self, spark):
        self.spark = spark
        self.sc = spark.sparkContext
        self.enabled = False
        self.spans: list[tuple] = []  # (id, layer, name, t0, t1, parent, query)
        self._stack: list[int] = []
        self._next = 0
        self.load_keys: list[tuple] = []
        self.queries: list[dict] = []
        self._q = None
        self._last_job = -1
        self._stream = {"batches": 0, "batch_s": 0.0, "input_rows": 0, "state_rows": 0}

    # -- installation ---------------------------------------------------
    def install(self) -> None:
        mods = []
        for layer in LAYERS:
            m = importlib.import_module(f"appeals_data_spark.{layer}")
            mods.append(m)
            if hasattr(m, "__path__"):
                for info in pkgutil.iter_modules(m.__path__):
                    mods.append(importlib.import_module(f"{m.__name__}.{info.name}"))
        wrappers = {}
        for m in mods:
            for name, fn in list(vars(m).items()):
                if (
                    name.startswith("_")
                    or not isinstance(fn, types.FunctionType)
                    or fn.__module__ != m.__name__
                    or hasattr(fn, "evalType")
                ):
                    continue
                wrappers[fn] = _Wrapper(self, fn, layer_of(m.__name__))
        for name, m in list(sys.modules.items()):
            if not name.startswith("appeals_data_spark") or m is None:
                continue
            for attr, val in list(vars(m).items()):
                if isinstance(val, types.FunctionType) and val in wrappers:
                    setattr(m, attr, wrappers[val])
        self._listen()

    def _listen(self) -> None:
        from pyspark.sql.streaming import StreamingQueryListener

        stream = self._stream
        tracer = self

        class _Listener(StreamingQueryListener):
            def onQueryStarted(self, event):
                pass

            def onQueryProgress(self, event):
                if not tracer.enabled:
                    return
                p = event.progress
                stream["batches"] += 1
                stream["batch_s"] += p.batchDuration / 1e3
                stream["input_rows"] += p.numInputRows
                stream["state_rows"] += sum(s.numRowsTotal for s in p.stateOperators)

            def onQueryIdle(self, event):
                pass

            def onQueryTerminated(self, event):
                pass

        self.spark.streams.addListener(_Listener())

    def enable(self) -> None:
        self._new_jobs()  # jobs so far belong to no traced query
        self.enabled = True

    # -- spans ----------------------------------------------------------
    def span(self, w: _Wrapper, args, kwargs):
        sid = self._next = self._next + 1
        parent = self._stack[-1] if self._stack else None
        tag = f"bs{sid}"
        self.sc.addJobTag(tag)
        if w.__name__ == "load_table" and w._layer == "catalog" and len(args) >= 3:
            self.load_keys.append((args[1], args[2]))
        self._stack.append(sid)
        t0 = time.perf_counter()
        try:
            return w.__wrapped__(*args, **kwargs)
        finally:
            t1 = time.perf_counter()
            self._stack.pop()
            self.sc.removeJobTag(tag)
            qid = self._q["id"] if self._q else None
            self.spans.append((sid, w._layer, w.__name__, t0, t1, parent, qid))

    # -- queries --------------------------------------------------------
    def _confs(self) -> tuple:
        c = self.spark.conf
        return (c.get("spark.sql.adaptive.enabled"), c.get("spark.sql.shuffle.partitions"))

    def begin_query(self, name: str) -> None:
        if not self.enabled:
            return
        qid = len(self.queries) + 1
        self._q = {"id": qid, "name": name, "confs": self._confs(), "storage": self._storage()}
        self._q.update(t0=time.perf_counter(), w0=time.time())
        self.sc.addJobTag(f"bq{qid}")
        self.sc.addJobTag(f"bb{qid}")

    def built(self) -> None:
        if self._q is not None:
            self.sc.removeJobTag(f"bb{self._q['id']}")
            self._q["t_built"] = time.perf_counter()

    def end_query(self, sdf, nrows: int) -> None:
        q = self._q
        if q is None:
            return
        q["t1"] = time.perf_counter()
        q["w1"] = time.time()
        q.setdefault("t_built", q["t1"])
        self.sc.removeJobTag(f"bq{q['id']}")
        self.sc.removeJobTag(f"bb{q['id']}")
        q["rows"] = nrows
        q["conf_drift"] = self._confs() != q["confs"]
        self._jobs_of(q)
        q["sql"], q["top_operator"] = _plan_metrics(sdf) if sdf is not None else ({}, None)
        blocks0, entries0 = q.pop("storage")
        blocks1, entries1 = self._storage()
        new = [e for e in entries1 if e not in entries0]
        q["blocks_left"] = max(0, blocks1 - blocks0)
        q["scratch_dirs_left"] = sum(1 for e in new if os.path.isdir(e))
        q["checkpoint_bytes"] = sum(dir_bytes(e) for e in new)
        self.queries.append(q)
        self._q = None

    def _storage(self) -> tuple[int, set[str]]:
        """(persisted RDD blocks alive, entries in the scratch TMPDIR)."""
        rdds = self.sc._jsc.sc().statusStore().rddList(True)
        blocks = sum(rdds.apply(i).numCachedPartitions() for i in range(rdds.size()))
        tmp = os.environ["TMPDIR"]
        return blocks, {os.path.join(tmp, e) for e in os.listdir(tmp)}

    def _new_jobs(self):
        self.sc._jsc.sc().listenerBus().waitUntilEmpty()
        store = self.sc._jsc.sc().statusStore()
        jobs = store.jobsList(None)
        out = []
        for i in range(jobs.size()):
            j = jobs.apply(i)
            if j.jobId() > self._last_job:
                out.append(j)
        if out:
            self._last_job = max(j.jobId() for j in out)
        return store, out

    def _jobs_of(self, q: dict) -> None:
        store, jobs = self._new_jobs()
        qtag, btag = f"bq{q['id']}", f"bb{q['id']}"
        stats = dict.fromkeys(
            ("jobs", "build_jobs", "stages", "tasks", "failed_tasks", "run_s", "cpu_s", "gc_s",
             "shuffle_write", "shuffle_read", "spill"), 0)
        layer_jobs: dict[str, int] = {}
        intervals = []
        span_layer = {s[0]: s[1] for s in self.spans if s[6] == q["id"]}
        for j in jobs:
            tags = set(j.jobTags().mkString("\x1f").split("\x1f"))
            if qtag not in tags:
                continue
            stats["jobs"] += 1
            stats["build_jobs"] += btag in tags
            for layer in {span_layer[int(t[2:])] for t in tags if t.startswith("bs") and int(t[2:]) in span_layer}:
                layer_jobs[layer] = layer_jobs.get(layer, 0) + 1
            if j.submissionTime().isDefined() and j.completionTime().isDefined():
                intervals.append((j.submissionTime().get().getTime() / 1e3,
                                  j.completionTime().get().getTime() / 1e3))
            sids = j.stageIds()
            for k in range(sids.size()):
                try:
                    st = store.lastStageAttempt(sids.apply(k))
                except Exception:  # skipped stages have no attempt
                    continue
                if st.status().toString() == "SKIPPED":
                    continue
                stats["stages"] += 1
                stats["tasks"] += st.numTasks()
                stats["failed_tasks"] += st.numFailedTasks()
                stats["run_s"] += st.executorRunTime() / 1e3
                stats["cpu_s"] += st.executorCpuTime() / 1e9
                stats["gc_s"] += st.jvmGcTime() / 1e3
                stats["shuffle_write"] += st.shuffleWriteBytes()
                stats["shuffle_read"] += st.shuffleReadBytes()
                stats["spill"] += st.memoryBytesSpilled() + st.diskBytesSpilled()
        q["spark"] = stats
        q["layer_jobs"] = layer_jobs
        q["in_jobs_s"] = _union(intervals, q["w0"], q["w1"])

    # -- report ---------------------------------------------------------
    def report(self, untraced_pass_s: float, pass_times: list[float], extra: dict) -> dict:
        n = max(1, len(pass_times))
        m: dict[str, float] = {}
        qs = self.queries
        tot = lambda f: sum(f(q) for q in qs) / n  # noqa: E731

        m["session.start_s"] = extra["session_start_s"]
        m["session.conf_drift"] = tot(lambda q: q["conf_drift"])
        calls = [s for s in self.spans if s[1] == "catalog" and s[2] == "load_table"]
        m["catalog.load_table_calls"] = len(calls) / n
        m["catalog.load_table_s"] = sum(s[4] - s[3] for s in calls) / n
        m["catalog.memo_hit_ratio"] = (
            1 - len(set(self.load_keys)) / len(self.load_keys) if self.load_keys else 0.0
        )
        m["catalog.scan_input_bytes"] = tot(lambda q: q["sql"].get("catalog.scan_input_bytes", 0))
        m["catalog.stale_reads"] = extra.get("stale_reads", 0) / n
        m["queries.build_s"] = tot(lambda q: q["t_built"] - q["t0"])
        m["queries.build_jobs"] = tot(lambda q: q["spark"]["build_jobs"])
        m["queries.collect_s"] = tot(lambda q: q["t1"] - q["t_built"])
        m["queries.outside_jobs_s"] = tot(lambda q: (q["w1"] - q["w0"]) - q["in_jobs_s"])
        m["queries.result_rows"] = tot(lambda q: q["rows"])

        top = _top_level(self.spans)
        for key in ["views.events"] + [f"operators.{o}" for o in OPERATORS] + [
            "functions.text", "functions.vectors"] + [f"ml.{x}" for x in ML]:
            m[f"{key}.calls"] = sum(1 for s in top if s[1] == key) / n
            m[f"{key}.build_s"] = sum(s[4] - s[3] for s in top if s[1] == key) / n
            m[f"{key}.jobs"] = tot(lambda q: q["layer_jobs"].get(key, 0))
        for layer, s in _self_time(self.spans).items():
            m[f"{layer}.self_s"] = s / n
        for layer in LAYERS:
            m.setdefault(f"{layer}.self_s", 0.0)
        m["sources.merge_into_s"] = sum(
            s[4] - s[3] for s in top if s[1] == "sources" and s[2] == "merge_into") / n
        m["sources.merge_bytes_rewritten"] = extra.get("merge_bytes_rewritten", 0) / n
        m["sources.merge_untouched_file_ratio"] = extra.get("merge_untouched_file_ratio", 0.0)
        for k, v in self._stream.items():
            m[f"streaming.{k}"] = v / n

        sp = lambda k: tot(lambda q: q["spark"][k])  # noqa: E731
        m["spark.jobs"] = sp("jobs")
        m["spark.stages"] = sp("stages")
        m["spark.tasks"] = sp("tasks")
        m["spark.tasks_per_stage"] = m["spark.tasks"] / m["spark.stages"] if m["spark.stages"] else 0.0
        m["spark.executor_run_s"] = sp("run_s")
        m["spark.executor_cpu_s"] = sp("cpu_s")
        m["spark.gc_s"] = sp("gc_s")
        m["spark.shuffle_write_bytes"] = sp("shuffle_write")
        m["spark.shuffle_read_bytes"] = sp("shuffle_read")
        m["spark.spill_bytes"] = sp("spill")
        m["spark.failed_tasks"] = sp("failed_tasks")
        for key, _ in set(_SQL_METRICS.values()):
            if key.startswith("spark.sql."):
                m[key] = tot(lambda q, key=key: q["sql"].get(key, 0))
        m["storage.blocks_left"] = tot(lambda q: q["blocks_left"])
        m["storage.scratch_dirs_left"] = tot(lambda q: q["scratch_dirs_left"])
        m["storage.checkpoint_bytes"] = tot(lambda q: q["checkpoint_bytes"]) + extra.get(
            "stream_checkpoint_bytes", 0) / n
        traced = sum(pass_times) / n
        m["trace.overhead_share"] = traced / untraced_pass_s - 1
        return m

    def top_operators(self) -> dict[str, str]:
        return {q["name"]: q["top_operator"] for q in self.queries}


def _union(intervals, lo: float, hi: float) -> float:
    """Length of the union of ``intervals`` clipped to [lo, hi]."""
    total, end = 0.0, lo
    for a, b in sorted(intervals):
        a, b = max(a, end, lo), min(b, hi)
        if b > a:
            total += b - a
            end = b
    return total


def _top_level(spans) -> list[tuple]:
    """Spans not nested in a span of the same layer (inclusive time)."""
    layer = {s[0]: s[1] for s in spans}
    parent = {s[0]: s[5] for s in spans}
    out = []
    for s in spans:
        p = s[5]
        while p is not None and layer.get(p) != s[1]:
            p = parent.get(p)
        if p is None:
            out.append(s)
    return out


def _self_time(spans) -> dict[str, float]:
    """Self time per top-level layer: span time minus its children's."""
    child = {}
    for s in spans:
        if s[5] is not None:
            child[s[5]] = child.get(s[5], 0.0) + (s[4] - s[3])
    out: dict[str, float] = {}
    for s in spans:
        layer = s[1].split(".")[0]
        out[layer] = out.get(layer, 0.0) + (s[4] - s[3]) - child.get(s[0], 0.0)
    return out


def _plan_metrics(sdf) -> tuple[dict[str, float], str | None]:
    """SQL metrics summed over the executed (final AQE) plan, and the
    node with the largest single timing metric."""
    out: dict[str, float] = {}
    top, top_v = None, -1
    try:
        plan = sdf._jdf.queryExecution().executedPlan()
    except Exception:
        return out, None
    stack = [plan]
    seen = 0
    while stack and seen < 5000:
        node = stack.pop()
        seen += 1
        cls = node.getClass().getSimpleName()
        if cls == "AdaptiveSparkPlanExec":
            stack.append(node.executedPlan())
            continue
        it = node.metrics().iterator()
        while it.hasNext():
            kv = it.next()
            key = kv._1()
            if key in _SQL_METRICS or key in _TIMING_KEYS:
                v = kv._2().value()
                if key in _SQL_METRICS:
                    name, scale = _SQL_METRICS[key]
                    out[name] = out.get(name, 0) + v * scale
                if key in _TIMING_KEYS:
                    v_ms = v / 1e6 if key == "shuffleWriteTime" else v
                    if v_ms > top_v:
                        top, top_v = node.nodeName(), v_ms
        if cls.endswith("QueryStageExec"):
            # a reused stage's plan is counted where it first ran
            stack.append(node.plan())
        ch = node.children()
        for i in range(ch.size()):
            stack.append(ch.apply(i))
    return out, top
