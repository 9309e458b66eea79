"""SparkSession factory.

Centralizes the engine's Spark tuning so tests, bench, and the driver
entrypoint share one configuration story. Mirrors the reference's manual
optimizations (predicate pushdown, column pruning, broadcast-side dims —
SURVEY.md §4) with the Catalyst-native equivalents, and turns on AQE for
runtime re-planning (skew joins, dynamic broadcast conversion) which is
what carries these plans from local[32] to a 1000-executor cluster.
"""

from __future__ import annotations

import os

from pyspark.sql import SparkSession

# Runtime-settable confs applied even to externally-created sessions
# (the correctness driver hands us its own SparkSession).
RUNTIME_CONFS = {
    # The synthetic parquet uses INT64 TIMESTAMP(NANOS) which Spark refuses
    # by default; read as long and convert in the catalog (catalog.py).
    "spark.sql.legacy.parquet.nanosAsLong": "true",
    # Deterministic date/timestamp semantics matching the DuckDB oracle
    # (naive timestamps; container TZ is UTC).
    "spark.sql.session.timeZone": "UTC",
    # AQE: runtime shuffle-partition coalescing, skew-join splitting,
    # dynamic SMJ->BHJ conversion.
    "spark.sql.adaptive.enabled": "true",
    "spark.sql.adaptive.coalescePartitions.enabled": "true",
    "spark.sql.adaptive.skewJoin.enabled": "true",
    # Scale-adaptive reduce-side sizing: shuffles start at this many
    # partitions and AQE coalesces them down to the advisory size with
    # the parallelism floor. At bench scale the post-coalesce counts
    # land at about max(cores, 32) (parallelismFirst, the default,
    # keeps >= defaultParallelism), while at the 1000x probe a
    # shuffled-hash build over vocab-scale tables gets data-many
    # partitions instead of 32 local-mode buckets (32 concurrent
    # ~600 MB UnsafeHashedRelation builds of the LM scoring join
    # exhaust a 48 g heap; at 1024 each build is ~25 MB). AQE can only
    # coalesce down, so a static count would be a local-mode constant
    # in disguise. Env-overridable for bigger deployments (a real
    # cluster would size it near max concurrent cores x a few).
    "spark.sql.adaptive.coalescePartitions.initialPartitionNum": os.environ.get(
        "SPARK_GRAFT_INIT_PARTITIONS", "1024"
    ),
    # Without this, initialPartitionNum=1024 makes every query that
    # persists a shuffled intermediate pay 1024 task launches per
    # consumer stage: AQE may not re-plan inside an InMemoryRelation
    # by default, so the cached frame keeps the full 1024 partitions
    # (with it, the minhash candidate cache coalesces 1024 -> 1).
    # Trade-off: a cached plan's output partitioning is no longer a
    # co-partitioning guarantee for consumers; the engine's iterative
    # co-partitioned loops use checkpoints under aqe_disabled
    # (operators/graph.py), not persist, so nothing here relies on
    # that guarantee.
    "spark.sql.optimizer.canChangeCachedPlanOutputPartitioning": "true",
    # A vanilla session defaults to 10 MB — at bench scale every dim
    # fits well under 64 MB, so keep joins broadcast instead of SMJ.
    "spark.sql.autoBroadcastJoinThreshold": str(64 * 1024 * 1024),
    # Arrow transfer for the pandas-UDF operators and toPandas.
    "spark.sql.execution.arrow.pyspark.enabled": "true",
    # Whole-stage classes are otherwise named after the codegen stage
    # id, which AQE assigns in the order concurrent stages finish, so a
    # warm run of a query with concurrent stages can generate source
    # that differs only in the class name and miss the code-generation
    # cache (see CODEGEN_CACHE_ENTRIES).
    "spark.sql.codegen.useIdInClassName": "false",
}

# Generated classes Spark's code-generation cache keeps per JVM
# (``spark.sql.codegen.cache.maxEntries``, a static conf, default 100).
# A miss compiles the whole-stage or expression class again with
# Janino. Measured working set (4 cores, one JVM, this bound): a cold
# sweep of all 205 registered queries at sf0.001 compiles 2,817
# distinct classes, one pass of the 24 appbench builders on
# appbench/base about 460. At the default every warm query recompiles
# what the queries before it evicted (a warm appbench pass compiled
# 97% of its cold pass's classes again). 4096 holds the whole registry
# with headroom; 0 would disable the cache. A session built elsewhere
# (the external driver's, ``tools/check.py --vanilla``) keeps Spark's
# default unless it sets this conf at build time.
CODEGEN_CACHE_ENTRIES = 4096


def tune(spark: SparkSession) -> SparkSession:
    """Apply runtime confs to an existing session (driver-provided).

    Every key of RUNTIME_CONFS must be runtime-settable
    (tests/test_session.py checks it), so even the external driver's
    vanilla ``SparkSession`` picks up the engine's tuning the first
    time it touches the catalog. A static key added there would do
    nothing on that session: ``spark.conf.set`` raises for it and the
    error is swallowed below. Static confs go on the builder in
    ``get_spark``, and a session built elsewhere keeps their Spark
    defaults. Among them is the 100-entry generated-class cache (see
    CODEGEN_CACHE_ENTRIES): unless that session set
    ``spark.sql.codegen.cache.maxEntries`` when it was built, its warm
    queries compile their generated code again. Shuffle partitions are
    sized to the session's actual core count — a vanilla session would
    otherwise run every shuffle at the 200-partition default, which at
    local scale is pure scheduling overhead per query.
    """
    confs = dict(RUNTIME_CONFS)
    try:
        par = spark.sparkContext.defaultParallelism
        confs["spark.sql.shuffle.partitions"] = str(max(par, 32))
    except Exception:
        pass
    for k, v in confs.items():
        try:
            spark.conf.set(k, v)
        except Exception:
            # Static conf on this build — fall through; catalog handles
            # the nanos column shape dynamically.
            pass
    return spark


def get_spark(
    app_name: str = "appeals-data-spark",
    cpus: int | None = None,
    shuffle_partitions: int | None = None,
) -> SparkSession:
    """Build a local session sized from $SPARK_GRAFT_CPUS (default all)."""
    if cpus is None:
        cpus = int(os.environ.get("SPARK_GRAFT_CPUS", "0")) or os.cpu_count() or 4
    if shuffle_partitions is None:
        shuffle_partitions = max(cpus, 32)
    builder = (
        SparkSession.builder.appName(app_name)
        .master(f"local[{cpus}]")
        .config("spark.sql.shuffle.partitions", str(shuffle_partitions))
        .config("spark.driver.memory", os.environ.get("SPARK_DRIVER_MEMORY", "8g"))
        .config("spark.ui.enabled", "false")
        # No stderr progress bars: their redraws fill a tail-captured
        # stdout/stderr and add nothing headless. Must be set before
        # the SparkContext starts; it is read once at context init.
        .config("spark.ui.showConsoleProgress", "false")
        # No Python call-site capture: with it on, every DataFrame and
        # Column call adds an active-session lookup, a conf read and an
        # origin set/clear over Py4J. Static, so it lives here and not
        # in RUNTIME_CONFS. Set it to "true" locally to get the
        # file:line DataFrameQueryContext back in builder errors.
        .config("spark.python.sql.dataFrameDebugging.enabled", "false")
        # Static too: see CODEGEN_CACHE_ENTRIES.
        .config("spark.sql.codegen.cache.maxEntries", str(CODEGEN_CACHE_ENTRIES))
    )
    for k, v in RUNTIME_CONFS.items():
        builder = builder.config(k, v)
    return builder.getOrCreate()


# -- scoped AQE toggle for iterative loops -------------------------------------
#
# Checkpoints taken under AQE record UnknownPartitioning
# (operators/graph.py), so the iterative operators disable AQE for
# their loop and restore it after. The conf is SESSION-GLOBAL: a
# naive save/set/restore pair is not reentrant —
# two interleaved loops on the same session could each save the
# other's "false" and leave AQE off for every later query. This
# context manager refcounts per UNDERLYING SQL SESSION (the JVM
# SparkSession's identity hash, not applicationId: the conf is
# per-session while applicationId is per-CONTEXT, so two sessions
# sharing one context — newSession() — would otherwise share a depth
# counter while setting separate confs; and not id(spark): two Python
# wrappers around the SAME JVM session — re-wrapping via
# SparkSession(sc, jsparkSession) or mixed getActiveSession paths —
# must share one counter over the one session-global conf, or the
# save/restore race the refcount guards against comes back). Entries
# are created on the outermost enter and deleted on the matching
# outermost exit (the contextmanager's ``finally`` guarantees it), so
# a recycled key can never see a stale entry.
# Only the OUTERMOST enter saves the ambient value and only the
# matching outermost exit restores it. (Queries planned by OTHER
# threads on the SAME session while a loop holds the toggle still
# plan without AQE — unavoidable for a session-wide conf; the
# engine's harnesses run queries sequentially.)

import threading as _threading
from contextlib import contextmanager as _contextmanager

_AQE_LOCK = _threading.Lock()
_AQE_STATE: dict[int, tuple[int, str]] = {}  # session key -> (depth, saved)


def _aqe_key(spark: SparkSession) -> int:
    """Identity of the underlying SQL session, stable across re-wrapping.

    The JVM ``SparkSession`` does not override ``hashCode``, so this is
    the JVM identity hash of the one object that actually owns the
    conf; every Python wrapper of it maps to the same counter. Falls
    back to ``id(spark)`` only if the JVM handle is unreachable (mock
    sessions in unit tests).
    """
    try:
        return int(spark._jsparkSession.hashCode())
    except Exception:
        return id(spark)


@_contextmanager
def scoped_shuffle_partitions(spark: SparkSession, n: int):
    """Temporarily pin ``spark.sql.shuffle.partitions`` to ``n``.

    For iterative loops that run under :func:`aqe_disabled`: with AQE
    off nothing coalesces the conf's partition count down to the data,
    so a tiny loop frame pays conf-many task launches per round. The
    loop sizes ``n`` from the MATERIALIZED frame it is about to
    iterate over (doing by hand exactly what AQE would have done) and
    scopes the conf so every in-loop shuffle — repartition, distinct,
    the per-round min-agg — lands on the same count and the
    checkpointed partitionings stay aligned round to round.

    Plain LIFO save/restore: unlike the AQE toggle this is typically
    nested at most once per loop, and each scope restores the exact
    value it observed, so interleaved scopes on one session unwind
    correctly as long as they unwind in stack order (guaranteed by
    ``with``)."""
    key = "spark.sql.shuffle.partitions"
    saved = spark.conf.get(key)
    spark.conf.set(key, str(int(n)))
    try:
        yield
    finally:
        spark.conf.set(key, saved)


@_contextmanager
def aqe_disabled(spark: SparkSession):
    key = _aqe_key(spark)
    with _AQE_LOCK:
        depth, saved = _AQE_STATE.get(key, (0, "true"))
        if depth == 0:
            saved = spark.conf.get("spark.sql.adaptive.enabled", "true")
            spark.conf.set("spark.sql.adaptive.enabled", "false")
        _AQE_STATE[key] = (depth + 1, saved)
    try:
        yield
    finally:
        with _AQE_LOCK:
            depth, saved = _AQE_STATE[key]
            if depth == 1:
                spark.conf.set("spark.sql.adaptive.enabled", saved)
                del _AQE_STATE[key]
            else:
                _AQE_STATE[key] = (depth - 1, saved)
