"""Table catalog: parquet exports -> named DataFrames / temp views.

Plays the role of the reference's connection modules (vacolsConnect.R /
caseflowConnect.R — SURVEY.md §2.1 S1-S4): one place that knows where
tables live and what their canonical Spark schema is. Analyses never
read files directly; they ask the catalog.

Scale notes (100 TB design):
- Reads are plain ``spark.read.parquet`` so Catalyst applies column
  pruning + predicate pushdown into the scan (PushedFilters/ReadSchema).
- For a production layout, fact tables (lineitem/orders/events) would be
  written date-partitioned (see ``write_partitioned``) and bucketed by
  their join key so repeated key joins avoid shuffles; dims stay
  unpartitioned and broadcast. The loaders are layout-agnostic: a
  partitioned directory read here picks up partition pruning for free.
"""

from __future__ import annotations

import weakref

from pyspark import SparkContext
from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F

from .session import tune

TABLES = (
    "region",
    "nation",
    "customer",
    "supplier",
    "part",
    "orders",
    "lineitem",
    "events",
    "documents",
    "embeddings",
)

# Columns stored as INT64 TIMESTAMP(NANOS) in the synthetic parquet.
# Depending on build/conf Spark surfaces them as TIMESTAMP_NTZ (micros
# truncation) or as raw nanosecond longs — normalize to TIMESTAMP_NTZ,
# truncating nanos -> micros exactly like the DuckDB oracle does.
_TS_COLS = {
    "orders": ("o_orderdate",),
    "lineitem": ("l_shipdate",),
    "events": ("ts",),
}


# DataFrames are immutable plans — safe to memoize per (session, dir,
# table). Saves a parquet footer/schema read per query (the constant
# that dominates small-query latency when a session runs many queries).
_READ_CACHE: dict[tuple[str, str, str], DataFrame] = {}

_APP_IDS: weakref.WeakKeyDictionary[SparkContext, str] = weakref.WeakKeyDictionary()


def app_id(spark: SparkSession) -> str:
    """The session's ``applicationId``, read over Py4J once per Python
    ``SparkContext`` object. ``sc.applicationId`` costs two round trips
    (``sc()``, ``applicationId()``) per read, which a memo hit would
    otherwise pay on every call. A context that replaces a stopped one
    is a new object, so its id is read afresh."""
    sc = spark.sparkContext
    app = _APP_IDS.get(sc)
    if app is None:
        app = _APP_IDS[sc] = sc.applicationId
    return app


def load_table(spark: SparkSession, sf_dir: str, name: str) -> DataFrame:
    key = (app_id(spark), sf_dir, name)
    cached = _READ_CACHE.get(key)
    if cached is not None:
        return cached
    tune(spark)
    df = spark.read.parquet(f"{sf_dir}/{name}.parquet")
    dtypes = dict(df.dtypes)
    for c in _TS_COLS.get(name, ()):
        if dtypes.get(c) == "bigint":
            # integer div: nanos -> micros truncation (matches DuckDB)
            df = df.withColumn(
                c, F.timestamp_micros(F.expr(f"{c} div 1000")).cast("timestamp_ntz")
            )
        elif dtypes.get(c) == "timestamp":
            df = df.withColumn(c, F.col(c).cast("timestamp_ntz"))
    _READ_CACHE[key] = df
    return df


def literal_dim(spark: SparkSession, rows, schema: str) -> DataFrame:
    """Tiny literal dimension as a PLAN-LEVEL expression.

    ``spark.createDataFrame`` ships local rows through a Python->JVM
    RDD round-trip on every call (~1s of fixed cost); for a
    classifier/code dim of a few rows, an exploded array of lit
    structs is pure expression tree — free to build, always broadcast-
    eligible. ``schema`` is "name type, name type, ..." in row order.
    """
    fields = [f.strip().split()[0] for f in schema.split(",")]
    structs = [
        F.struct(*[F.lit(v).alias(n) for n, v in zip(fields, row)]) for row in rows
    ]
    return (
        spark.range(1)
        .select(F.explode(F.array(*structs)).alias("r"))
        .select("r.*")
        .selectExpr(*[f"CAST({n} AS {t.strip().split(' ', 1)[1]}) AS {n}"
                      for n, t in zip(fields, schema.split(","))])
    )


def input_split_count(df: DataFrame) -> int:
    """Input file count as the split proxy (0 when unknowable).

    ``df.rdd.getNumPartitions()`` would force a plan->RDD conversion
    per call (driver-side latency on every query); the file listing is
    already cached on the plan's FileIndex and answers the same
    question — a scan can't have more initial splits than files when
    files are small."""
    try:
        return len(df.inputFiles())
    except Exception:
        return 0


def scan_input_bytes(df: DataFrame) -> int | None:
    """Total bytes of the scan files under ``df``, or None if unknown.

    Driver-side metadata only (no job): ``inputFiles`` comes from the
    plan's cached file index and sizes from the FileSystem. None (or a
    huge file count) means "can't tell cheaply" — callers doing size
    dispatch must treat that as LARGE, the scale-safe default. Shared
    by the size-dispatched operators (Bradley-Terry pair stats, kgram
    novelty): each pairs a small-input plan whose constants win below
    a threshold with the only shape that survives 1000x above it."""
    try:
        files = df.inputFiles()
    except Exception:
        return None
    if not files or len(files) > 512:
        return None
    try:
        spark = df.sparkSession
        jvm = spark._jvm
        hconf = spark._jsc.hadoopConfiguration()
        total = 0
        for f in files:
            p = jvm.org.apache.hadoop.fs.Path(f)
            fs = p.getFileSystem(hconf)
            total += fs.getFileStatus(p).getLen()
        return int(total)
    except Exception:
        return None


def sized_for_compute(df: DataFrame) -> DataFrame:
    """Size partitions to the COMPUTE, not the bytes.

    A small parquet export arrives as one split, which would run every
    downstream compute-heavy stage (Arrow/Python passes, per-row hash
    folds) single-threaded. The repartition is a cheap narrow shuffle
    relative to per-row compute cost; at 100 TB the export is already
    many splits and this is a no-op (when it has at least ``target``
    files the repartition is skipped).
    """
    target = df.sparkSession.sparkContext.defaultParallelism
    return df.repartition(target) if input_split_count(df) < target else df


def sized_for_expansion(df: DataFrame, expansion: float) -> DataFrame:
    """Partition a scan for a pass whose output expands far beyond its
    input bytes (exploded token/gram streams): partition count =
    ``scan_bytes * expansion / 128 MB``, with :func:`sized_for_compute`'s
    parallelism floor. ``expansion`` is a TUNED dial, not a physical
    ratio: the LM callers pass 16.0 against an occurrence stream
    measured at ~150x the compressed scan bytes in row form, i.e. each
    partition carries ~1.2 GB of expanded rows through the Arrow pass
    and its map-side partial agg — the value the r12 probe runs
    settled on (more partitions paid task-launch overhead, fewer
    starved the agg pool; see the 1000x-probe notes at
    _LM_DISK_CKPT_MIN_BYTES).

    Exists because sizing such a scan to ``defaultParallelism`` alone
    is a local-mode constant in disguise: at the 1000x probe the LM
    occurrence stream is ~100 GB across 32 partitions, so every
    downstream per-task structure (partial-agg hash map + its shuffle
    sorter pages, which are co-resident inside one task) is built over
    a ~1.5 GB input slice and the unified pool hands tasks less than
    one map's floor — UNABLE_TO_ACQUIRE_MEMORY in the map stage
    (measured r12, 48 g heap). ~128 MB expanded slices keep the
    per-task state the size Spark's spill machinery is tuned for at
    ANY scale; below the floor the parallelism target dominates and
    this degrades to exactly :func:`sized_for_compute`. Unknown scan
    size keeps the floor (small-input safe: the large-arm callers
    dispatch on the same size probe and treat unknown as large at the
    QUERY level, but an unknowable byte count here must not manufacture
    a million empty partitions)."""
    par = df.sparkSession.sparkContext.defaultParallelism
    n = scan_input_bytes(df)
    target = par
    if n is not None:
        target = max(par, int(n * expansion) // (128 << 20) + 1)
    return df.repartition(target) if input_split_count(df) < target else df


def write_partitioned(
    df: DataFrame,
    path: str,
    partition_cols: list[str] | None = None,
    bucket_spec: tuple[int, list[str], str] | None = None,
) -> None:
    """Production layout writer: date-partition + bucket by join key.

    ``bucket_spec`` = (num_buckets, cols, table_name). Bucketed writes
    require a saveAsTable; partition-only writes go straight to path.
    """
    if partition_cols:
        # Cluster by the partition columns first: otherwise every input
        # task writes one file into every partition directory (tasks x
        # partitions tiny files). One task per partition value is the
        # small-files discipline every lake layout needs. When a single
        # partition value holds hundreds of GB, add a salt column to the
        # repartition (or set spark.sql.files.maxRecordsPerFile) to
        # bound per-task write size — the export fixtures here are
        # nowhere near that, so the simple form stays the default.
        df = df.repartition(*[df[c] for c in partition_cols])
    w = df.write.mode("overwrite")
    if partition_cols:
        w = w.partitionBy(*partition_cols)
    if bucket_spec:
        n, cols, table = bucket_spec
        w.bucketBy(n, *cols).sortBy(*cols).option("path", path).saveAsTable(table)
    else:
        w.parquet(path)


# Process-scoped write-once scratch materializations (bucketed /
# partitioned layout twins). The path embeds the Spark applicationId:
# concurrent sessions running against the same sf_dir (pytest +
# check.py + bench) each own their files — a shared fixed path would
# let one session's mode("overwrite") delete data another session is
# mid-scan on, failing that scan (or its oracle hash) intermittently.
_MATERIALIZED: dict[tuple[str, str, str], str] = {}


def scratch_path_once(spark: SparkSession, sf_dir: str, name: str, writer) -> str:
    """Run ``writer(path)`` once per (session, sf_dir, name) and return
    the session-private scratch path — the shared memo behind the
    layout-demonstration queries, which the harness calls repeatedly
    (warmup + timed + differential) and must stay idempotent."""
    import hashlib
    import os
    import tempfile

    app = app_id(spark)
    key = (app, sf_dir, name)
    path = _MATERIALIZED.get(key)
    if path is None:
        tag = hashlib.md5(sf_dir.encode()).hexdigest()[:8]
        path = os.path.join(
            tempfile.gettempdir(), f"spark_graft_{name}_{tag}_{app}"
        )
        writer(path)
        _MATERIALIZED[key] = path
    return path
