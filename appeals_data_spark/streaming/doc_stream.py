"""Streaming corpus ingestion: the curation ops as a live stream.

The corpus-curation projection (Gopher quality flags + deterministic
split/shard assignment) is STATELESS — pure row expressions — so the
identical plan runs over a batch table or a file-source stream. This
module provides the documents file-source and the shared projection;
``queries/streaming_q.stream_doc_curation`` is the oracle-checked batch
twin and ``tests/test_streaming.py`` proves stream==batch parity.

At scale this is the ingest-time shape: documents land in object
storage, each micro-batch is gated/split on arrival, and the writer
fans out by (split, shard) — no global state, no watermark needed.
"""

from __future__ import annotations

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F

from ..operators.dedup import portable_hash48

def document_stream(spark: SparkSession, docs_dir: str) -> DataFrame:
    """File-source stream over a documents directory (parquet parts);
    schema declared up front (streaming sources never infer), taken
    from a one-time static footer read so export-schema drift across
    testdata generations can't desync stream and batch plans."""
    try:
        schema = spark.read.parquet(docs_dir).schema
    except Exception:
        # empty bootstrap directory: canonical export schema
        schema = (
            "doc_id long, text string, lang string, source string, "
            "n_chars long"
        )
    return (
        spark.readStream.schema(schema)
        .option("maxFilesPerTrigger", 4)
        .parquet(docs_dir)
    )


def curate_docs(docs: DataFrame) -> DataFrame:
    """Stateless curation projection — works identically on a batch
    table or a stream: Gopher quality conjunction (word count, mean
    word length, stopword hits, 3-gram repetition; same thresholds as
    ``pipe_curation_funnel``) plus the deterministic train/val/test
    split and shard assignment of ``pipe_split_shards`` (same salts, so
    a doc ingested via the stream lands in the same split/shard the
    batch freeze would give it)."""
    from ..functions.text import shingles

    low = F.lower(F.trim(F.col("text")))
    toks = F.split(low, r"\s+")
    sw = F.array(*[F.lit(w) for w in
                   ("the", "a", "of", "and", "to", "in", "is", "it", "for", "on")])
    wc = F.size(toks)
    mean_wlen = (
        F.length(F.regexp_replace("text", r"\s", "")).cast("double") / wc
    )
    n_stop = F.size(F.array_intersect(F.array_distinct(toks), sw))
    sh = shingles(low, 3)
    dup3 = F.when(
        wc >= 3,
        F.lit(1.0) - F.size(F.array_distinct(sh)).cast("double") / (wc - 2),
    ).otherwise(0.0)
    quality = (
        wc.between(50, 100000)
        & mean_wlen.between(3, 10)
        & (n_stop >= 2)
        & (dup3 <= 0.3)
    ).cast("int")
    h_split = portable_hash48(F.col("doc_id").cast("string"), "split") % 100
    h_shard = portable_hash48(F.col("doc_id").cast("string"), "shard") % 8
    return docs.select(
        "doc_id",
        "source",
        "n_chars",
        quality.alias("quality"),
        F.when(h_split < 90, "train")
        .when(h_split < 95, "val")
        .otherwise("test")
        .alias("split"),
        h_shard.alias("shard"),
    )


def lm_score_map(corpus: DataFrame) -> DataFrame:
    """Train the unigram LM on a batch corpus and pack it into ONE row
    holding map<token, logprob DECIMAL(18,6)> — the broadcastable model
    artifact for stream-side scoring (the centroid_struct_array
    shape). The log-probs follow the shared ``ml.unigram_lm`` determinism
    contract: ln is evaluated once per distinct token, rounded to
    6 dp, and cast to exact decimal BEFORE any aggregation."""
    from ..functions.text import tokens
    from ..ml.unigram_lm import unigram_logprob_frame

    tok = corpus.select(F.explode(tokens(F.lower(F.col("text")))).alias("token"))
    lp = unigram_logprob_frame(tok)
    return lp.agg(
        F.map_from_entries(F.collect_list(F.struct("token", "lp"))).alias("lm")
    )


# Out-of-vocabulary floor: far below any in-corpus log-prob, exact in
# both engines (decimal literal). Streams can carry tokens the batch
# LM never saw; the floor keeps the score defined without a state
# store or a retrain. A ZERO-token document (empty/whitespace text)
# also takes the floor outright — otherwise sum/size would be 0/0
# (NULL), the doc would slip through rollups unscored, and the
# DuckDB oracle (whose token join emits no row for it) would count
# documents differently than Spark.
LM_OOV_FLOOR = "-20.0"


def lm_scored_docs(docs: DataFrame, lm_row: DataFrame) -> DataFrame:
    """(doc_id, source, ntok, score) for each document — STATELESS:
    the LM map rides in via a broadcast 1-row cross join and the
    per-doc sum is a sequential decimal fold over the token array
    (each step re-cast to DECIMAL(28,6), so the accumulation is exact
    and order-independent — bit-equal to the oracle's join + SUM over
    the same addends). Works identically on a batch table or a
    file-source stream."""
    from ..functions.text import tokens

    toks = tokens(F.lower(F.col("text")))
    zero = F.lit("0.000000").cast("decimal(28,6)")
    floor = F.lit(LM_OOV_FLOOR).cast("decimal(18,6)")
    sumlp = F.aggregate(
        toks,
        zero,
        lambda acc, x: (
            # try_element_at: OOV tokens must read as NULL->floor in
            # every ansi config; map element_at throws on a missing key
            # under some ANSI settings
            acc + F.coalesce(F.try_element_at(F.col("lm"), x), floor)
        ).cast("decimal(28,6)"),
    )
    return docs.crossJoin(F.broadcast(lm_row)).select(
        "doc_id",
        "source",
        F.size(toks).alias("ntok"),
        F.when(F.size(toks) > 0, sumlp.cast("double") / F.size(toks))
        .otherwise(F.lit(float(LM_OOV_FLOOR)))
        .alias("score"),
    )


def lm_gate_rollup(scored: DataFrame, threshold: float = -3.402) -> DataFrame:
    """Per-source quality-gate rollup of the LM-scored docs: volume,
    gate passes, and the order-independent score extremes."""
    return scored.groupBy("source").agg(
        F.count("*").alias("n_docs"),
        F.sum((F.col("score") >= threshold).cast("int"))
        .cast("long")
        .alias("n_pass"),
        F.round(F.min("score"), 6).alias("min_score"),
        F.round(F.max("score"), 6).alias("max_score"),
    )
