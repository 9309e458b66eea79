"""Stream-vs-batch parity for the §2.10 streaming mode.

Each streaming operator drains the sf0.001 events file through the
available-now trigger into a memory sink and must equal its batch twin
on the same data (the twins themselves are oracle-checked in
test_differential.py).
"""

from __future__ import annotations

import shutil

import pytest

from appeals_data_spark.registry import all_queries
from appeals_data_spark.streaming import (
    deduped_stream,
    event_stream,
    purchase_attribution,
    running_user_totals_stateful,
    session_window_stats,
    tumbling_counts,
)
from appeals_data_spark.streaming.event_stream import run_to_memory

from conftest import SF_SMOKE


@pytest.fixture(scope="module")
def events_dir(tmp_path_factory):
    # File source wants a directory of parts; stage the single-file
    # export as a 1-part directory (testdata itself is read-only).
    d = tmp_path_factory.mktemp("events_stream")
    shutil.copy(f"{SF_SMOKE}/events.parquet", d / "part-0000.parquet")
    return str(d)


def _rows(df, cols):
    return sorted(tuple(r[c] for c in cols) for r in df.collect())


def test_event_stream_empty_bootstrap_dir(spark, tmp_path):
    # No parts yet: the stream must still start (fallback DDL schema
    # parsed to a StructType) and drain zero rows, not crash on the
    # ts-dtype dispatch.
    d = tmp_path / "empty_events"
    d.mkdir()
    out = run_to_memory(
        spark,
        tumbling_counts(event_stream(spark, str(d))),
        "t_empty_bootstrap",
    )
    assert out.count() == 0


def test_tumbling_counts_parity(spark, events_dir):
    stream_out = run_to_memory(
        spark, tumbling_counts(event_stream(spark, events_dir)), "t_tumbling"
    )
    batch = all_queries()["stream_tumbling_counts"].builder(spark, SF_SMOKE)
    cols = ["window_start", "event_type", "n"]
    assert _rows(stream_out, cols) == _rows(batch, cols)


def test_session_window_parity(spark, events_dir):
    stream_out = run_to_memory(
        spark, session_window_stats(event_stream(spark, events_dir)), "t_sessions"
    )
    batch = all_queries()["stream_session_stats"].builder(spark, SF_SMOKE)
    cols = ["user_id", "session_start", "session_end", "n_events"]
    assert _rows(stream_out, cols) == _rows(batch, cols)


def test_stateful_user_totals_parity(spark, events_dir):
    stream_out = run_to_memory(
        spark,
        running_user_totals_stateful(event_stream(spark, events_dir)),
        "t_totals",
        output_mode="update",
    )
    # update mode emits one row per user per micro-batch; the final
    # emission carries the complete running total.
    import pyspark.sql.functions as F
    from pyspark.sql.window import Window

    w = Window.partitionBy("user_id").orderBy(F.desc("n_events"))
    final = (
        stream_out.withColumn("rn", F.row_number().over(w)).filter("rn = 1").drop("rn")
    )
    batch = all_queries()["stream_user_totals"].builder(spark, SF_SMOKE)
    got = {r["user_id"]: (r["n_events"], r["total_value"]) for r in final.collect()}
    want = {r["user_id"]: (r["n_events"], r["total_value"]) for r in batch.collect()}
    assert got.keys() == want.keys()
    for k in want:
        assert got[k][0] == want[k][0]
        # pandas double summation order differs from exact-decimal batch
        assert got[k][1] == pytest.approx(want[k][1], abs=1e-6)


def test_stream_dedup_parity(spark, events_dir):
    import pyspark.sql.functions as F

    out = run_to_memory(
        spark,
        deduped_stream(event_stream(spark, events_dir)),
        "t_dedup",
        output_mode="append",
    )
    got = _rows(
        out.groupBy("event_type").agg(F.count("*").alias("n_users")),
        ["event_type", "n_users"],
    )
    batch = all_queries()["stream_dedup_user_types"].builder(spark, SF_SMOKE)
    assert got == _rows(batch, ["event_type", "n_users"])


def test_stream_dedup_within_watermark_bounds_state(spark, events_dir):
    # Watermarked dedup may re-emit a key once its state is evicted, so
    # the survivor count is >= exact dedup and <= the raw event count.
    out = run_to_memory(
        spark,
        deduped_stream(event_stream(spark, events_dir), within_watermark="2 hours"),
        "t_dedup_wm",
        output_mode="append",
    )
    exact = all_queries()["stream_dedup_user_types"].builder(spark, SF_SMOKE)
    n_exact = sum(r["n_users"] for r in exact.collect())
    n_raw = all_queries()["stream_user_totals"].builder(spark, SF_SMOKE)
    n_raw = sum(r["n_events"] for r in n_raw.collect())
    assert n_exact <= out.count() <= n_raw


def test_click_attribution_parity(spark, events_dir):
    import pyspark.sql.functions as F

    pairs = run_to_memory(
        spark,
        purchase_attribution(event_stream(spark, events_dir)),
        "t_attr",
        output_mode="append",
    )
    got = {
        r["user_id"]: (r["n_pairs"], r["attributed_value"])
        for r in pairs.groupBy(F.col("c_user").alias("user_id"))
        .agg(
            F.count("*").alias("n_pairs"),
            F.sum(F.col("value").cast("decimal(18,2)")).cast("double").alias(
                "attributed_value"
            ),
        )
        .collect()
    }
    batch = all_queries()["stream_click_attribution"].builder(spark, SF_SMOKE)
    want = {
        r["user_id"]: (r["n_pairs"], r["attributed_value"]) for r in batch.collect()
    }
    assert got == want


def test_watermark_drops_stale_windows(spark, events_dir):
    # With a tight watermark the append-mode sink only receives windows
    # the watermark has passed — i.e., bounded state. Smoke the
    # mechanism end-to-end (append mode requires the watermark).
    out = run_to_memory(
        spark,
        tumbling_counts(event_stream(spark, events_dir), watermark="1 hour"),
        "t_watermarked",
        output_mode="append",
    )
    batch = all_queries()["stream_tumbling_counts"].builder(spark, SF_SMOKE)
    n_out, n_batch = out.count(), batch.count()
    assert 0 < n_out <= n_batch


def test_extracted_event_union_parity(spark, events_dir):
    from appeals_data_spark.streaming.event_stream import (
        extracted_event_stream,
    )
    from pyspark.sql import functions as F

    counts = (
        extracted_event_stream(event_stream(spark, events_dir))
        .groupBy(F.window("ts", "1 hour").alias("win"), "event_type")
        .agg(F.count("*").alias("n"))
        .select(F.col("win.start").alias("window_start"), "event_type", "n")
    )
    stream_out = run_to_memory(spark, counts, "t_event_union")
    batch = all_queries()["stream_event_union"].builder(spark, SF_SMOKE)
    cols = ["window_start", "event_type", "n"]

    def rows(df):
        # the NA-propagating hearing label yields NULL event_type rows
        return sorted(
            (tuple(r[c] for c in cols) for r in df.collect()),
            key=lambda t: tuple((v is None, v) for v in t),
        )

    assert rows(stream_out) == rows(batch)


@pytest.fixture(scope="module")
def docs_dir(tmp_path_factory):
    d = tmp_path_factory.mktemp("docs_stream")
    shutil.copy(f"{SF_SMOKE}/documents.parquet", d / "part-0000.parquet")
    return str(d)


def test_doc_curation_parity(spark, docs_dir):
    """The stateless curation projection (quality gate + split/shard)
    must produce identical per-doc rows over the file-source stream and
    the batch table — the ingest-time curation contract."""
    from appeals_data_spark.streaming.doc_stream import curate_docs, document_stream

    streamed = run_to_memory(
        spark,
        curate_docs(document_stream(spark, docs_dir)),
        "doc_curation_sink",
        output_mode="append",
    )
    batch = curate_docs(spark.read.parquet(f"{SF_SMOKE}/documents.parquet"))
    cols = ["doc_id", "source", "n_chars", "quality", "split", "shard"]
    assert _rows(streamed, cols) == _rows(batch, cols)
    # every doc appears exactly once and quality is a strict subset flag
    ids = [r[0] for r in _rows(streamed, ["doc_id"])]
    assert len(ids) == len(set(ids))


def test_parquet_sink_checkpoint_resume_exactly_once(spark, tmp_path):
    # First drain processes part-0000; the second sees ONLY the file
    # added in between — nothing reprocessed, nothing lost.
    from appeals_data_spark.streaming.event_stream import (
        extracted_event_stream,
        sink_parquet_stream,
    )

    src = tmp_path / "src"
    src.mkdir()
    shutil.copy(f"{SF_SMOKE}/events.parquet", src / "part-0000.parquet")
    out, ckpt = str(tmp_path / "out"), str(tmp_path / "ckpt")

    sink_parquet_stream(
        extracted_event_stream(event_stream(spark, str(src))), out, ckpt
    )
    n1 = spark.read.parquet(out).count()
    expected_per_file = n1
    assert n1 > 0

    shutil.copy(f"{SF_SMOKE}/events.parquet", src / "part-0001.parquet")
    sink_parquet_stream(
        extracted_event_stream(event_stream(spark, str(src))), out, ckpt
    )
    n2 = spark.read.parquet(out).count()
    assert n2 == 2 * expected_per_file  # part-0000 not re-emitted


def test_foreach_batch_sees_each_batch_once(spark, tmp_path):
    from appeals_data_spark.streaming.event_stream import run_foreach_batch

    src = tmp_path / "src"
    src.mkdir()
    shutil.copy(f"{SF_SMOKE}/events.parquet", src / "part-0000.parquet")
    ckpt = str(tmp_path / "ckpt")

    seen: list[tuple[int, int]] = []
    run_foreach_batch(
        event_stream(spark, str(src)).select("event_id"),
        lambda df, bid: seen.append((bid, df.count())),
        ckpt,
    )
    total = sum(n for _, n in seen)
    assert total == spark.read.parquet(f"{SF_SMOKE}/events.parquet").count()
    assert len(set(b for b, _ in seen)) == len(seen)  # batch ids unique

    # resume with nothing new: no batch re-fires with data
    before = list(seen)
    run_foreach_batch(
        event_stream(spark, str(src)).select("event_id"),
        lambda df, bid: seen.append((bid, df.count())),
        ckpt,
    )
    assert sum(n for _, n in seen) == sum(n for _, n in before)


@pytest.fixture(scope="module")
def embeddings_dir(tmp_path_factory):
    d = tmp_path_factory.mktemp("embeddings_stream")
    shutil.copy(f"{SF_SMOKE}/embeddings.parquet", d / "part-0000.parquet")
    return str(d)


def _centroid_array(spark):
    """The int-labelled centroid array scored_stream folds over, trained
    on the batch table."""
    from appeals_data_spark.catalog import load_table
    from appeals_data_spark.operators.similarity import (
        centroid_struct_array,
        label_centroids,
    )

    cents = label_centroids(load_table(spark, SF_SMOKE, "embeddings"))
    return centroid_struct_array(
        cents.selectExpr("CAST(c_label AS INT) AS c_label", "cvec")
    ).localCheckpoint()


def test_centroid_occupancy_parity(spark, embeddings_dir):
    # Online nearest-centroid scoring: the centroid index is trained on
    # the batch table (model-as-data), broadcast into the stream, and
    # the streamed occupancy must equal the batch twin exactly.
    from appeals_data_spark.streaming import (
        centroid_occupancy,
        embedding_stream,
        scored_stream,
    )

    cent_arr = _centroid_array(spark)
    stream_out = run_to_memory(
        spark,
        centroid_occupancy(
            scored_stream(embedding_stream(spark, embeddings_dir), cent_arr)
        ),
        "t_centroid_occupancy",
    )
    batch = all_queries()["stream_centroid_occupancy"].builder(spark, SF_SMOKE)
    cols = ["c_label", "n", "min_cos", "max_cos"]
    assert _rows(stream_out, cols) == _rows(batch, cols)


def test_scored_stream_is_stateless(spark, embeddings_dir):
    # The scoring stage must stay append-able (no state store): a
    # stateless projection drains in append mode without complaint.
    from appeals_data_spark.catalog import load_table
    from appeals_data_spark.streaming import embedding_stream, scored_stream

    cent_arr = _centroid_array(spark)
    out = run_to_memory(
        spark,
        scored_stream(embedding_stream(spark, embeddings_dir), cent_arr),
        "t_scored_append",
        output_mode="append",
    )
    n_batch = load_table(spark, SF_SMOKE, "embeddings").count()
    assert out.count() == n_batch


@pytest.fixture(scope="module")
def documents_dir(tmp_path_factory):
    d = tmp_path_factory.mktemp("documents_stream")
    shutil.copy(f"{SF_SMOKE}/documents.parquet", d / "part-0000.parquet")
    return str(d)


def test_lm_gate_parity(spark, documents_dir):
    # Train-batch / serve-stream: the unigram LM trains on the batch
    # table, broadcasts as a 1-row map, and the streamed gate rollup
    # must equal the batch twin exactly (decimal folds are exact).
    from appeals_data_spark.catalog import load_table
    from appeals_data_spark.streaming.doc_stream import (
        document_stream,
        lm_gate_rollup,
        lm_score_map,
        lm_scored_docs,
    )

    lm = lm_score_map(load_table(spark, SF_SMOKE, "documents")).localCheckpoint()
    stream_out = run_to_memory(
        spark,
        lm_gate_rollup(lm_scored_docs(document_stream(spark, documents_dir), lm)),
        "t_lm_gate",
    )
    batch = all_queries()["stream_lm_gate"].builder(spark, SF_SMOKE)
    cols = ["source", "n_docs", "n_pass", "min_score", "max_score"]
    assert _rows(stream_out, cols) == _rows(batch, cols)


def test_lm_gate_oov_floor(spark):
    # A streamed token the batch LM never saw takes the documented
    # floor instead of crashing or silently dropping the document.
    import pyspark.sql.functions as F

    from appeals_data_spark.catalog import load_table
    from appeals_data_spark.streaming.doc_stream import lm_score_map, lm_scored_docs

    lm = lm_score_map(load_table(spark, SF_SMOKE, "documents"))
    novel = spark.createDataFrame(
        [(1, "zzzunseen zzzunseen", "en", "srcX", 19)],
        "doc_id long, text string, lang string, source string, n_chars long",
    )
    row = lm_scored_docs(novel, lm).first()
    assert row["score"] == -20.0


def test_lm_gate_zero_token_doc_scores_floor(spark):
    # An empty/whitespace document has no tokens: sum/size would be
    # 0/0 (NULL) and the doc would slip through rollups unscored.
    # Both the scorer and the DuckDB oracle give it the OOV floor, so
    # n_docs agrees across engines and the gate deterministically
    # rejects it.
    from appeals_data_spark.catalog import load_table
    from appeals_data_spark.streaming.doc_stream import (
        lm_gate_rollup,
        lm_score_map,
        lm_scored_docs,
    )

    lm = lm_score_map(load_table(spark, SF_SMOKE, "documents"))
    docs = spark.createDataFrame(
        [
            (1, "", "en", "srcX", 0),
            (2, "   \t \n ", "en", "srcX", 7),
            (3, "the of and", "en", "srcX", 10),
        ],
        "doc_id long, text string, lang string, source string, n_chars long",
    )
    scored = lm_scored_docs(docs, lm)
    rows = {r["doc_id"]: r for r in scored.collect()}
    assert rows[1]["ntok"] == 0 and rows[1]["score"] == -20.0
    assert rows[2]["ntok"] == 0 and rows[2]["score"] == -20.0
    assert rows[3]["score"] is not None and rows[3]["score"] > -20.0
    roll = lm_gate_rollup(scored).first()
    assert roll["n_docs"] == 3  # empty docs counted, not dropped
    assert roll["min_score"] == -20.0


def test_watermark_drops_late_rows_after_finalization(spark, tmp_path):
    # Pin the late-data contract of the watermarked tumbling windows
    # (the engine's analog of the reference's manual trailing-month
    # hygiene, impact.R:65-66). Three staged micro-batches
    # (maxFilesPerTrigger=1, mtime-ordered):
    #   1. events 10:00-10:29  -> watermark after batch = 10:19
    #   2. event 10:45         -> watermark advances to 10:35; windows
    #      10:00 and 10:10 finalize and emit
    #   3. a LATE row at 10:06 (window already finalized) + an on-time
    #      10:46 row
    # Append mode must emit window 10:00 with the batch-1 count ONLY —
    # the late row is dropped, and the finalized window is not
    # re-emitted. (Subtlety worth pinning: a late row arriving in the
    # SAME batch that finalizes its window is still included; only
    # post-finalization arrivals drop. Batch over the same files counts
    # the late row — the divergence is the watermark's documented job.)
    import os
    import shutil as sh
    from datetime import datetime

    import pyspark.sql.functions as F

    from appeals_data_spark.streaming.event_stream import tumbling_counts

    d = tmp_path / "late_events"
    d.mkdir()

    def write_part(rows, name, mtime):
        tmp = str(tmp_path / ("stage_" + name))
        spark.createDataFrame(
            rows,
            "event_id long, ts timestamp, user_id long, event_type string, "
            "value double, props string",
        ).coalesce(1).write.mode("overwrite").parquet(tmp)
        src = [f for f in os.listdir(tmp) if f.endswith(".parquet")][0]
        dst = str(d / name)
        sh.copy(os.path.join(tmp, src), dst)
        os.utime(dst, (mtime, mtime))

    T = lambda h, m: datetime(2024, 1, 1, h, m)  # noqa: E731
    base = [(i, T(10, m), 1, "click", 1.0, "{}") for i, m in enumerate([0, 5, 15, 25, 29])]
    write_part(base, "part-0000.parquet", 1_700_000_000)
    write_part([(50, T(10, 45), 1, "click", 1.0, "{}")], "part-0001.parquet", 1_700_000_100)
    write_part(
        [(100, T(10, 6), 1, "click", 1.0, "{}"), (101, T(10, 46), 1, "click", 1.0, "{}")],
        "part-0002.parquet",
        1_700_000_200,
    )

    schema = spark.read.parquet(str(d)).schema
    raw = (
        spark.readStream.schema(schema)
        .option("maxFilesPerTrigger", 1)
        .parquet(str(d))
        .withColumn("ts", F.col("ts").cast("timestamp"))
    )
    out = run_to_memory(
        spark,
        tumbling_counts(raw, window="10 minutes", watermark="10 minutes"),
        "t_watermark_late_drop",
        output_mode="append",
    )
    got = sorted((str(r["window_start"]), r["n"]) for r in out.collect())
    assert got == [
        ("2024-01-01 10:00:00", 2),  # late 10:06 row dropped, no re-emit
        ("2024-01-01 10:10:00", 1),
        ("2024-01-01 10:20:00", 2),
    ]
    # Batch over the same files sees everything, late row included.
    batch = (
        spark.read.parquet(str(d))
        .groupBy(F.window("ts", "10 minutes"), "event_type")
        .count()
        .filter(F.col("window.start") == T(10, 0))
        .first()
    )
    assert batch["count"] == 3


def test_pii_scrub_parity(spark, docs_dir):
    """The stateless PII/denylist scrub projection must produce
    identical per-doc hit counts and mask mass over the file-source
    stream and the batch table — the redaction stage is ingest-safe."""
    from appeals_data_spark.functions.text import scrub_counts
    from appeals_data_spark.streaming.doc_stream import document_stream

    streamed = run_to_memory(
        spark,
        scrub_counts(document_stream(spark, docs_dir)),
        "pii_scrub_sink",
        output_mode="append",
    )
    batch = scrub_counts(spark.read.parquet(f"{SF_SMOKE}/documents.parquet"))
    cols = ["doc_id", "source", "occ_block", "occ_email", "occ_ipv4", "chars_masked"]
    assert _rows(streamed, cols) == _rows(batch, cols)


def test_incremental_delta_dedup_parity(spark, docs_dir):
    """The stateless corpus-dup flag projection must produce identical
    per-doc verdicts over the file-source stream and the batch table —
    the day-2 ingest dedup is ingest-safe (the PII-scrub discipline).
    The static side (frozen-corpus signatures + Bloom bitset) is the
    same artifact in both runs."""
    from pyspark.sql import functions as F

    from appeals_data_spark.operators.delta_dedup import (
        delta_dedup_flags,
        doc_signature,
    )
    from appeals_data_spark.streaming.doc_stream import document_stream

    def sigs(df):
        return df.select(
            "doc_id",
            "source",
            doc_signature("text").alias("th"),
        )

    batch_docs = sigs(spark.read.parquet(f"{SF_SMOKE}/documents.parquet"))
    corpus = (
        batch_docs.filter(F.col("doc_id") % 5 != 0)
        .select("th")
        .distinct()
        .localCheckpoint()
    )
    streamed = run_to_memory(
        spark,
        delta_dedup_flags(
            sigs(document_stream(spark, docs_dir)).filter(
                F.col("doc_id") % 5 == 0
            ),
            corpus,
        ),
        "delta_dedup_sink",
        output_mode="append",
    )
    batch = delta_dedup_flags(
        batch_docs.filter(F.col("doc_id") % 5 == 0), corpus
    )
    cols = ["doc_id", "source", "is_dup_vs_corpus"]
    assert _rows(streamed, cols) == _rows(batch, cols)


def test_mm_perceptual_hash_parity(spark, docs_dir):
    """The perceptual-dedup hash projections — image dHash, audio
    envelope hash, video frame-dHash sequence — are stateless Arrow
    (mapInPandas) projections, so a micro-batch ingest must score the
    EXACT batch hash functions bit-for-bit (the PII-scrub discipline).
    With parity pinned here, the mm_* banded dedup family can run its
    candidate generation against a stream landing zone and join the
    frozen corpus's distinct-hash table unchanged."""
    from appeals_data_spark.operators.multimodal import (
        as_gradient_image_media,
        as_tone_wav_media,
        as_video_media,
        audio_envelope_hash,
        dhash32,
        video_hash_seq,
    )
    from appeals_data_spark.streaming.doc_stream import document_stream

    batch_docs = spark.read.parquet(f"{SF_SMOKE}/documents.parquet")

    def norm(rows):
        return sorted(
            (r["doc_id"], tuple(r["h"]) if isinstance(r["h"], list) else r["h"])
            for r in rows
        )

    for name, build, hash_fn in (
        ("image_dhash", as_gradient_image_media, dhash32),
        ("audio_envelope", as_tone_wav_media, audio_envelope_hash),
        ("video_seq", as_video_media, video_hash_seq),
    ):
        hcol = "seq" if name == "video_seq" else "h"
        streamed = run_to_memory(
            spark,
            hash_fn(build(document_stream(spark, docs_dir))).withColumnRenamed(
                hcol, "h"
            ),
            f"mm_hash_parity_{name}",
            output_mode="append",
        )
        batch = hash_fn(build(batch_docs)).withColumnRenamed(hcol, "h")
        got, want = norm(streamed.collect()), norm(batch.collect())
        assert got == want, (name, got[:3], want[:3])
        assert len(got) == batch_docs.count(), name


def test_cdc_chunking_parity(spark, docs_dir):
    """The CDC chunk producer (cdc_chunk_stream, a row-local
    mapInPandas) is append-mode stream-safe — a micro-batch ingest must
    emit the identical (doc_id, chunk_len, h) chunk rows the batch form
    produces, so chunk-level dedup can run against a stream landing
    zone and join the frozen corpus's chunk-hash table unchanged."""
    from appeals_data_spark.functions.text import cdc_chunk_stream
    from appeals_data_spark.streaming.doc_stream import document_stream

    streamed = run_to_memory(
        spark,
        cdc_chunk_stream(document_stream(spark, docs_dir), "text", "doc_id"),
        "cdc_chunk_sink",
        output_mode="append",
    )
    batch = cdc_chunk_stream(
        spark.read.parquet(f"{SF_SMOKE}/documents.parquet"), "text", "doc_id"
    )
    cols = ["doc_id", "chunk_len", "h"]
    assert _rows(streamed, cols) == _rows(batch, cols)
