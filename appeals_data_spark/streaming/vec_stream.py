"""Streaming embedding scoring: online nearest-centroid assignment.

The production shape for scoring a live embedding feed against a
trained index (the model-serving side of the IVF/k-means family): the
centroid table is model-as-data — collected into ONE array-of-structs
row, broadcast into the stream, and every incoming vector is scored
with a stateless per-row fold. No window functions (streams don't
support row_number ranking), no state store for the scoring itself;
the only stateful stage is the downstream occupancy aggregation.

At 100 TB/day the scoring stage scales embarrassingly (map-only over
micro-batches); refreshing the model is re-broadcasting a new 1-row
centroid frame between restarts — the same coefficients-broadcast
discipline as the IRLS/pegasos training loops.
"""

from __future__ import annotations

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F

from ..operators.similarity import nearest_centroid_best
from ..session import tune

_EMB_FALLBACK_SCHEMA = "vec_id long, embedding array<float>, label int"


def embedding_stream(spark: SparkSession, emb_dir: str) -> DataFrame:
    """File-source stream over an embeddings directory (parquet parts);
    schema from a one-time static footer read, with the canonical
    export schema as the empty-bootstrap fallback (the event_stream
    contract)."""
    tune(spark)
    try:
        static_schema = spark.read.parquet(emb_dir).schema
    except Exception:
        from pyspark.sql.types import StructType

        static_schema = StructType.fromDDL(_EMB_FALLBACK_SCHEMA)
    return (
        spark.readStream.schema(static_schema)
        .option("maxFilesPerTrigger", 8)
        .parquet(emb_dir)
    )


def scored_stream(stream: DataFrame, cent_arr: DataFrame) -> DataFrame:
    """(vec_id, c_label, c_cos) for every incoming vector — stateless,
    so it composes with any downstream watermark/aggregation.
    ``cent_arr`` is ``similarity.centroid_struct_array`` of an
    int-labelled centroid table; the fold is the batch assigners' own
    ``nearest_centroid_best``."""
    best = nearest_centroid_best(F.col("_cents"), F.col("embedding"), "int")
    return (
        stream.crossJoin(F.broadcast(cent_arr))
        .withColumn("best", best)
        .select(
            "vec_id",
            F.col("best.c_label").alias("c_label"),
            F.col("best.c_cos").alias("c_cos"),
        )
    )


def centroid_occupancy(scored: DataFrame) -> DataFrame:
    """Per-centroid occupancy of the scored stream: count plus the
    min/max assignment quality (order-independent extremes — exact
    under any micro-batch partitioning, unlike a float mean)."""
    return scored.groupBy("c_label").agg(
        F.count("*").alias("n"),
        F.round(F.min("c_cos"), 6).alias("min_cos"),
        F.round(F.max("c_cos"), 6).alias("max_cos"),
    )
