"""Event-stream derivation and stateful operators.

Design notes for a 100 TB deployment:

- The file source discovers new parquet files per micro-batch and
  tracks progress in the checkpoint — the natural fit for an
  append-only export like the reference's event log. ``maxFilesPerTrigger``
  bounds per-batch work.
- Watermarks bound state: a tumbling/session aggregation only keeps
  windows newer than (max event time - delay); late rows beyond that
  are dropped exactly like the reference drops incomplete trailing
  months (impact.R:65-66).
- State lives in the state store partitioned by the grouping key, so
  per-key state (sessions, running totals) scales horizontally with
  ``spark.sql.shuffle.partitions``.
"""

from __future__ import annotations

from typing import Iterator

import pandas as pd
from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F
from pyspark.sql.streaming.state import GroupState, GroupStateTimeout

from ..session import tune
from ..views.events import (
    hearing_events,
    transcription_events,
    union_sql,
    user_events,
)

_EVENTS_FALLBACK_SCHEMA = (
    "event_id long, ts timestamp, user_id long, event_type string, "
    "value double, props string"
)


def event_stream(spark: SparkSession, events_dir: str) -> DataFrame:
    """File-source stream over an events directory (parquet parts).

    The schema must be declared up front (streaming sources never
    infer), so take it from a one-time static footer read — the export
    has stored ``ts`` both as raw nanosecond longs and as
    TIMESTAMP(MICROS) across generations, and the batch catalog
    (catalog.load_table) adapts by dtype; mirroring that here keeps
    batch and stream plans sharing every downstream expression.
    """
    tune(spark)
    try:
        static_schema = spark.read.parquet(events_dir).schema
    except Exception:
        # empty bootstrap directory (no parts yet): fall back to the
        # canonical export schema so the stream can start and wait.
        # Parse to a StructType — the ts-dtype dispatch below iterates
        # StructFields, and a DDL string would crash it.
        from pyspark.sql.types import StructType

        static_schema = StructType.fromDDL(_EVENTS_FALLBACK_SCHEMA)
    raw = (
        spark.readStream.schema(static_schema)
        .option("maxFilesPerTrigger", 8)
        .parquet(events_dir)
    )
    # TIMESTAMP (not NTZ): watermarks require a zoned event-time column;
    # session tz is pinned UTC so the instants match the batch NTZ view.
    ts_type = {f.name: f.dataType.simpleString() for f in static_schema}["ts"]
    if ts_type == "bigint":
        # integer div: nanos -> micros truncation (matches DuckDB)
        return raw.withColumn("ts", F.timestamp_micros(F.expr("ts div 1000")))
    return raw.withColumn("ts", F.col("ts").cast("timestamp"))


def extracted_event_stream(stream: DataFrame) -> DataFrame:
    """Stateless extractor union over the live stream: the batch
    extractors' own SQL (raw projection, the NA-propagating hearing
    relabel+patch of events.R:540-549, the from/to transcript fan-out
    of events.R:116-126) with ``{events}`` bound to the stream. All
    three are per-row, so they compose with any downstream watermark or
    window; the batch-dim extractors (orders/lineitem) would enter as
    stream-static joins, also stateless. Batch twin:
    ``stream_event_union`` (hourly counts, DuckDB oracle); parity
    pinned in tests/test_streaming.py."""
    return union_sql(
        stream.sparkSession,
        [ex.sql for ex in (user_events, hearing_events, transcription_events)],
        {"events": stream}.__getitem__,
    )


def tumbling_counts(
    stream: DataFrame, window: str = "1 hour", watermark: str = "2 hours"
) -> DataFrame:
    """Watermarked tumbling-window event counts by type.

    Batch twin: ``stream_tumbling_counts`` (same window(), no
    watermark — batch sees all data at once).
    """
    return (
        stream.withWatermark("ts", watermark)
        .groupBy(F.window("ts", window).alias("win"), "event_type")
        .agg(F.count("*").alias("n"))
        .select(
            F.col("win.start").alias("window_start"),
            "event_type",
            "n",
        )
    )


def session_window_stats(
    stream: DataFrame, gap: str = "30 minutes", watermark: str = "2 hours"
) -> DataFrame:
    """Per-user session windows (native session_window operator) with
    event counts — the streaming form of W3's run segmentation.

    Batch twin: ``stream_session_stats``; its oracle reproduces
    session_window with the classic gaps-and-islands SQL (lag +
    cumulative sum), proving the operator against first principles.
    """
    return (
        stream.withWatermark("ts", watermark)
        .groupBy(F.session_window("ts", gap).alias("sw"), "user_id")
        .agg(F.count("*").alias("n_events"))
        .select(
            "user_id",
            F.col("sw.start").alias("session_start"),
            F.col("sw.end").alias("session_end"),
            "n_events",
        )
    )


_TOTALS_SCHEMA = "user_id long, n_events long, total_value double"
_STATE_SCHEMA = "n long, total double"


def _totals_fn(
    key: tuple, pdfs: Iterator[pd.DataFrame], state: GroupState
) -> Iterator[pd.DataFrame]:
    """Stateful per-user accumulator: (event count, value sum) carried
    across micro-batches in the state store."""
    n, total = state.get if state.exists else (0, 0.0)
    for pdf in pdfs:
        n += len(pdf)
        total += float(pdf["value"].sum())
    state.update((n, total))
    yield pd.DataFrame(
        {"user_id": [key[0]], "n_events": [n], "total_value": [total]}
    )


def running_user_totals_stateful(stream: DataFrame) -> DataFrame:
    """Custom stateful operator via applyInPandasWithState: running
    per-user totals emitted every micro-batch (output mode: update).

    This is the §2.10 escape hatch for semantics the built-in windows
    can't express (the built-ins cover the reference's actual needs;
    this demonstrates the extension surface). State is one tiny tuple
    per user — bounded, partitioned by key.
    """
    return (
        stream.select("user_id", "value")
        .groupBy("user_id")
        .applyInPandasWithState(
            _totals_fn,
            outputStructType=_TOTALS_SCHEMA,
            stateStructType=_STATE_SCHEMA,
            outputMode="update",
            timeoutConf=GroupStateTimeout.NoTimeout,
        )
    )


def deduped_stream(
    stream: DataFrame,
    keys: tuple[str, ...] = ("user_id", "event_type"),
    within_watermark: str | None = None,
) -> DataFrame:
    """Streaming exact dedup — the stream-side of the dedup family.

    - ``within_watermark=None``: ``dropDuplicates`` — exact, but state
      grows with key cardinality (fine when keys are bounded, e.g.
      user x type).
    - ``within_watermark="2 hours"``: ``dropDuplicatesWithinWatermark``
      — state is evicted once the watermark passes, so a duplicate
      arriving later than the horizon can re-emit. This is the 100 TB
      default: bounded state, dedup guaranteed within the horizon.
    """
    s = stream.select(*keys, "ts")
    if within_watermark is None:
        return s.dropDuplicates(list(keys))
    return s.withWatermark("ts", within_watermark).dropDuplicatesWithinWatermark(
        list(keys)
    )


def purchase_attribution(
    stream: DataFrame, horizon: str = "1 hour", watermark: str = "2 hours"
) -> DataFrame:
    """Stream-stream interval self-join: each purchase is attributed to
    clicks by the same user within [click_ts, click_ts + horizon).

    Both sides carry watermarks and the join condition bounds event
    time on both ends, so Spark can size the join state buffers and
    evict matched-out rows — the canonical bounded stream-stream join.
    Batch twin: ``stream_click_attribution`` (same join, aggregated).
    """
    clicks = (
        stream.filter(F.col("event_type") == "click")
        .select(F.col("user_id").alias("c_user"), F.col("ts").alias("click_ts"))
        .withWatermark("click_ts", watermark)
    )
    purchases = (
        stream.filter(F.col("event_type") == "purchase")
        .select(F.col("user_id").alias("p_user"), F.col("ts").alias("p_ts"), "value")
        .withWatermark("p_ts", watermark)
    )
    return clicks.join(
        purchases,
        F.expr(
            f"c_user = p_user AND p_ts >= click_ts "
            f"AND p_ts < click_ts + interval {horizon}"
        ),
    )


def run_to_memory(
    spark: SparkSession, result: DataFrame, name: str, output_mode: str = "complete"
) -> DataFrame:
    """Drain a streaming DataFrame into an in-memory table with the
    available-now trigger (process everything, then stop) and return
    the sink contents as a batch DataFrame. Test/dev harness."""
    q = (
        result.writeStream.format("memory")
        .queryName(name)
        .outputMode(output_mode)
        .trigger(availableNow=True)
        .start()
    )
    q.awaitTermination()
    return spark.table(name)


def sink_parquet_stream(
    result: DataFrame, path: str, checkpoint: str, output_mode: str = "append"
) -> None:
    """Durable file sink with exactly-once resume: the checkpoint
    records which source files each committed micro-batch consumed, so
    a restart with the same checkpoint processes ONLY files that
    arrived since — reprocessing nothing, losing nothing. This is the
    production shape of the reference's nightly append-only exports
    (SURVEY §2.10): at 100 TB the stream IS the ingest job, and resume
    correctness replaces the reference's manual high-water-mark
    bookkeeping. availableNow drains everything pending, then stops."""
    q = (
        result.writeStream.format("parquet")
        .option("path", path)
        .option("checkpointLocation", checkpoint)
        .outputMode(output_mode)
        .trigger(availableNow=True)
        .start()
    )
    q.awaitTermination()


def run_foreach_batch(result: DataFrame, fn, checkpoint: str) -> None:
    """Custom-sink escape hatch: ``fn(batch_df, batch_id)`` runs once
    per committed micro-batch (foreachBatch) — the hook for upserts/
    MERGEs into external stores. batch_id is stable across retries, so
    an idempotent fn (key on batch_id) gives effective exactly-once;
    the checkpoint carries the committed offset past restarts."""
    q = (
        result.writeStream.foreachBatch(fn)
        .option("checkpointLocation", checkpoint)
        .trigger(availableNow=True)
        .start()
    )
    q.awaitTermination()
