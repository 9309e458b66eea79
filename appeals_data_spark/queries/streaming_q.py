"""Batch twins of the streaming computations (SURVEY.md §2.10).

Each query here is the batch form of an operator in
``appeals_data_spark.streaming``; pytest proves stream==batch on the
same files, and the DuckDB oracle proves the batch form against ANSI
SQL (session_window is re-derived with gaps-and-islands SQL).
"""

from __future__ import annotations

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F

from ..catalog import load_table
from ..functions.scalars import SQL_DSUM, dsum
from ..registry import register


@register(
    "stream_tumbling_counts",
    oracle="""
    SELECT date_trunc('hour', ts) AS window_start,
           event_type,
           COUNT(*) AS n
    FROM events
    GROUP BY 1, 2
    ORDER BY 1, 2
    """,
    tags=("STREAM", "A12"),
)
def stream_tumbling_counts(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Tumbling 1-hour event counts — the batch twin of
    streaming.tumbling_counts (same window() expression; epoch-aligned
    1-hour windows coincide with date_trunc('hour'))."""
    e = load_table(spark, sf_dir, "events")
    return (
        e.groupBy(F.window("ts", "1 hour").alias("win"), "event_type")
        .agg(F.count("*").alias("n"))
        .select(F.col("win.start").alias("window_start"), "event_type", "n")
        .orderBy("window_start", "event_type")
    )


@register(
    "stream_session_stats",
    oracle="""
    WITH seq AS (
      SELECT user_id, ts,
             LAG(ts) OVER (PARTITION BY user_id ORDER BY ts) AS prev_ts
      FROM events
    ), marked AS (
      SELECT user_id, ts,
             CASE WHEN prev_ts IS NULL
                       OR ts - prev_ts >= INTERVAL '30 minutes' THEN 1
                  ELSE 0 END AS new_sess
      FROM seq
    ), grp AS (
      SELECT user_id, ts,
             SUM(new_sess) OVER (PARTITION BY user_id ORDER BY ts
                                 ROWS UNBOUNDED PRECEDING) AS sid
      FROM marked
    )
    SELECT user_id,
           MIN(ts) AS session_start,
           MAX(ts) + INTERVAL '30 minutes' AS session_end,
           COUNT(*) AS n_events
    FROM grp
    GROUP BY user_id, sid
    ORDER BY user_id, session_start
    """,
    tags=("STREAM", "W3", "X4"),
    bench=True,
)
def stream_session_stats(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Native session_window (30-min gap) per user — batch twin of
    streaming.session_window_stats. The oracle re-derives sessions from
    first principles (gaps-and-islands: lag + cumulative sum), pinning
    Spark's merge semantics: windows [t, t+gap) merge iff the gap to
    the next event is strictly less than 30 minutes."""
    e = load_table(spark, sf_dir, "events")
    return (
        e.groupBy(F.session_window("ts", "30 minutes").alias("sw"), "user_id")
        .agg(F.count("*").alias("n_events"))
        .select(
            "user_id",
            F.col("sw.start").alias("session_start"),
            F.col("sw.end").alias("session_end"),
            "n_events",
        )
        .orderBy("user_id", "session_start")
    )


@register(
    "stream_click_attribution",
    oracle=f"""
    SELECT c.user_id AS user_id,
           COUNT(*) AS n_pairs,
           {SQL_DSUM.format(col="p.value")} AS attributed_value
    FROM events c JOIN events p
      ON c.user_id = p.user_id
     AND p.ts >= c.ts AND p.ts < c.ts + INTERVAL 1 HOUR
    WHERE c.event_type = 'click' AND p.event_type = 'purchase'
    GROUP BY c.user_id
    ORDER BY user_id
    """,
    tags=("STREAM", "J6", "J16"),
)
def stream_click_attribution(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Click->purchase attribution within a 1-hour horizon — batch twin
    of streaming.purchase_attribution (stream-stream interval join).
    Equi-join on user_id with an event-time range residual: SMJ in
    batch, watermark-bounded state buffers in streaming; the plan
    expression is shared."""
    e = load_table(spark, sf_dir, "events")
    c = e.filter(F.col("event_type") == "click").select(
        F.col("user_id").alias("c_user"), F.col("ts").alias("click_ts")
    )
    p = e.filter(F.col("event_type") == "purchase").select(
        F.col("user_id").alias("p_user"), F.col("ts").alias("p_ts"), "value"
    )
    pairs = c.join(
        p,
        (F.col("c_user") == F.col("p_user"))
        & (F.col("p_ts") >= F.col("click_ts"))
        & (F.col("p_ts") < F.col("click_ts") + F.expr("interval 1 hour")),
    )
    return (
        pairs.groupBy(F.col("c_user").alias("user_id"))
        .agg(F.count("*").alias("n_pairs"), dsum("value").alias("attributed_value"))
        .orderBy("user_id")
    )


@register(
    "stream_dedup_user_types",
    oracle="""
    SELECT event_type, COUNT(DISTINCT user_id) AS n_users
    FROM events GROUP BY event_type ORDER BY event_type
    """,
    tags=("STREAM", "DEDUP", "A3", "A4"),
)
def stream_dedup_user_types(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Distinct (user, type) pairs per type — batch twin of
    streaming.deduped_stream: the drained streaming-dedup survivors
    aggregate to exactly these counts (survivor *rows* are
    nondeterministic in both engines, counts are not — A4)."""
    e = load_table(spark, sf_dir, "events")
    return (
        e.dropDuplicates(["user_id", "event_type"])
        .groupBy("event_type")
        .agg(F.count("*").alias("n_users"))
        .orderBy("event_type")
    )


@register(
    "stream_user_totals",
    oracle=f"""
    SELECT user_id,
           COUNT(*) AS n_events,
           {SQL_DSUM.format(col="value")} AS total_value
    FROM events
    GROUP BY user_id
    ORDER BY user_id
    """,
    tags=("STREAM", "A1"),
)
def stream_user_totals(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Per-user event totals — batch twin of the
    applyInPandasWithState running accumulator (whose final update-mode
    emission per user equals this aggregate)."""
    e = load_table(spark, sf_dir, "events")
    return (
        e.groupBy("user_id")
        .agg(F.count("*").alias("n_events"), dsum("value").alias("total_value"))
        .orderBy("user_id")
    )


@register(
    "stream_event_union",
    oracle="""
    WITH ev AS (
      SELECT user_id AS entity_id, event_type, ts FROM events
      UNION ALL
      SELECT user_id,
             CASE WHEN disp = 'H' THEN 'HEARING'
                  WHEN disp <> 'H' THEN 'HEARING_EXCEPTION' END,
             CASE WHEN disp IS NOT NULL AND disp <> 'H'
                       AND clsdate IS NOT NULL THEN clsdate ELSE ts END
      FROM (
        SELECT user_id, ts, value,
               CASE WHEN value > 30 THEN 'H'
                    WHEN value > 20 THEN 'X' END AS disp,
               CASE WHEN value > 10 THEN ts + INTERVAL 3 DAY END AS clsdate
        FROM events WHERE event_type = 'signup'
      )
      UNION ALL
      SELECT user_id, 'to_transcript', ts
      FROM events WHERE event_type = 'error'
      UNION ALL
      SELECT user_id, 'from_transcript',
             ts + to_minutes(CAST(FLOOR(value) AS BIGINT))
      FROM events WHERE event_type = 'error'
    )
    SELECT date_trunc('hour', ts) AS window_start, event_type, COUNT(*) AS n
    FROM ev WHERE ts IS NOT NULL
    GROUP BY 1, 2
    ORDER BY 1, 2
    """,
    tags=("STREAM", "U1", "R1"),
)
def stream_event_union(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Batch twin of streaming.extracted_event_stream + tumbling
    counts: the reference's event-extractor union (events.R:923-991)
    running as a STREAM — the stateless extractor shapes (projection,
    NA-propagating relabel+patch, from/to fan-out) are per-row, so the
    identical expressions serve both engines; pytest proves
    stream == batch on the same files."""
    from ..streaming.event_stream import extracted_event_stream

    e = load_table(spark, sf_dir, "events")
    ev = extracted_event_stream(e)
    return (
        ev.groupBy(F.window("ts", "1 hour").alias("win"), "event_type")
        .agg(F.count("*").alias("n"))
        .select(F.col("win.start").alias("window_start"), "event_type", "n")
        .orderBy("window_start", "event_type")
    )


def _doc_curation_oracle() -> str:
    from ..operators.dedup import sql_portable_hash48

    h_split = sql_portable_hash48("CAST(doc_id AS VARCHAR)", "split")
    h_shard = sql_portable_hash48("CAST(doc_id AS VARCHAR)", "shard")
    return f"""
    WITH feats AS (
      SELECT doc_id, n_chars,
             regexp_split_to_array(lower(trim(text)), '\\s+') AS toks,
             length(regexp_replace(text, '\\s', '', 'g')) AS n_nonspace,
             {h_split} % 100 AS h_split,
             {h_shard} % 8 AS shard
      FROM documents
    ), flags AS (
      SELECT doc_id, n_chars, shard,
             CASE WHEN h_split < 90 THEN 'train'
                  WHEN h_split < 95 THEN 'val'
                  ELSE 'test' END AS split,
             CASE WHEN len(toks) BETWEEN 50 AND 100000
                   AND CAST(n_nonspace AS DOUBLE) / len(toks) BETWEEN 3 AND 10
                   AND len(list_intersect(list_distinct(toks),
                       ['the','a','of','and','to','in','is','it','for','on']))
                       >= 2
                   AND (CASE WHEN len(toks) >= 3 THEN
                          1.0 - CAST(len(list_distinct(list_transform(
                                 range(len(toks)-2),
                                 i -> toks[i+1] || ' ' || toks[i+2] || ' '
                                      || toks[i+3]))) AS DOUBLE)
                               / (len(toks) - 2)
                        ELSE 0.0 END) <= 0.3
                  THEN 1 ELSE 0 END AS quality
      FROM feats
    )
    SELECT split, quality,
           COUNT(*) AS n_docs,
           COUNT(DISTINCT shard) AS n_shards,
           CAST(SUM(n_chars) AS BIGINT) AS chars
    FROM flags GROUP BY split, quality ORDER BY split, quality
    """


@register(
    "stream_doc_curation",
    oracle=_doc_curation_oracle(),
    tags=("STREAM", "TEXT", "P13"),
)
def stream_doc_curation(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Batch twin of streaming.curate_docs: ingest-time corpus curation
    (Gopher quality conjunction + deterministic split/shard assignment)
    as a STREAMABLE stateless projection — the identical expressions
    run over the file-source documents stream (pytest proves
    stream == batch), so a 100 TB corpus can be gated and sharded on
    arrival, micro-batch by micro-batch, with no global state. The
    aggregate here is the monitoring rollup a streaming sink would
    publish per trigger."""
    from ..streaming.doc_stream import curate_docs

    d = load_table(spark, sf_dir, "documents")
    return (
        curate_docs(d)
        .groupBy("split", "quality")
        .agg(
            F.count("*").alias("n_docs"),
            F.countDistinct("shard").alias("n_shards"),
            F.sum("n_chars").cast("long").alias("chars"),
        )
        .orderBy("split", "quality")
    )


@register(
    "stream_centroid_occupancy",
    oracle="""
    WITH unp AS (
      SELECT label, generate_subscripts(embedding, 1) AS pos,
             unnest(CAST(embedding AS DOUBLE[])) AS x
      FROM embeddings
    ), cent AS (
      SELECT c_label, list(cx ORDER BY pos) AS cvec
      FROM (SELECT label AS c_label, pos,
                   round_even(CAST(SUM(CAST(round_even(x * 1000000000000.0, 0)
                                            AS DECIMAL(38,0))) AS DOUBLE)
                              / 1000000000000.0 / COUNT(*) * 1000000.0, 0)
                     / 1000000.0 AS cx
            FROM unp GROUP BY label, pos) t
      GROUP BY c_label
    ), assigned AS (
      SELECT vec_id, c_label, c_cos FROM (
        SELECT e.vec_id, c.c_label,
               list_cosine_similarity(CAST(e.embedding AS DOUBLE[]),
                                      c.cvec) AS c_cos,
               ROW_NUMBER() OVER (
                 PARTITION BY e.vec_id
                 ORDER BY list_cosine_similarity(CAST(e.embedding AS DOUBLE[]),
                                                 c.cvec) DESC, c.c_label
               ) AS rn
        FROM embeddings e CROSS JOIN cent c
      ) WHERE rn = 1
    )
    SELECT c_label, COUNT(*) AS n,
           ROUND(MIN(c_cos), 6) AS min_cos,
           ROUND(MAX(c_cos), 6) AS max_cos
    FROM assigned GROUP BY c_label ORDER BY c_label
    """,
    tags=("STREAM", "VEC", "IVF"),
)
def stream_centroid_occupancy(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Online nearest-centroid scoring — batch twin of
    streaming.vec_stream.scored_stream + centroid_occupancy (the
    model-serving side of the IVF family: live embeddings scored
    against a broadcast centroid index). The twin runs the IDENTICAL
    stateless per-row fold (no window ranking — streams can't rank, so
    neither does the twin), proving the fold's (cos DESC, label ASC)
    argmax equals the oracle's ROW_NUMBER formulation; occupancy
    reports order-independent extremes, exact under any micro-batch
    or partition split."""
    from ..operators.similarity import centroid_struct_array, label_centroids
    from ..streaming.vec_stream import centroid_occupancy, scored_stream

    emb = load_table(spark, sf_dir, "embeddings")
    cent_arr = centroid_struct_array(
        label_centroids(emb).selectExpr("CAST(c_label AS INT) AS c_label", "cvec")
    )
    return centroid_occupancy(scored_stream(emb, cent_arr)).orderBy("c_label")


@register(
    "stream_lm_gate",
    oracle=r"""
    WITH tok AS (
      SELECT doc_id, source,
             unnest(list_filter(regexp_split_to_array(lower(trim(text)), '\s+'),
                                x -> x <> '')) AS token
      FROM documents
    ), vocab AS (
      SELECT token, COUNT(*) AS n FROM tok GROUP BY token
    ), tot AS (
      SELECT SUM(n) AS t FROM vocab
    ), lp AS (
      SELECT token,
             CAST(ROUND(LN(n) - LN((SELECT t FROM tot)), 6) AS DECIMAL(18,6))
               AS lp
      FROM vocab
    ), per_doc AS (
      SELECT doc_id, source,
             CAST(SUM(lp) AS DOUBLE) / COUNT(*) AS score
      FROM tok JOIN lp USING (token)
      GROUP BY doc_id, source
    ), all_docs AS (
      -- zero-token documents emit no tok row; they score the OOV
      -- floor, exactly as lm_scored_docs's size(toks)=0 branch does
      SELECT d.doc_id, d.source, COALESCE(p.score, -20.0) AS score
      FROM documents d
      LEFT JOIN per_doc p ON d.doc_id = p.doc_id
    )
    SELECT source,
           COUNT(*) AS n_docs,
           CAST(SUM(CASE WHEN score >= -3.402 THEN 1 ELSE 0 END) AS BIGINT)
             AS n_pass,
           ROUND(MIN(score), 6) AS min_score,
           ROUND(MAX(score), 6) AS max_score
    FROM all_docs GROUP BY source ORDER BY source
    """,
    tags=("STREAM", "PIPE", "TEXT", "QUALITY"),
)
def stream_lm_gate(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Train-batch / serve-stream LM quality gate — batch twin of
    streaming.doc_stream.lm_scored_docs + lm_gate_rollup: the unigram
    LM trains on the batch corpus (text_unigram_logprob's exact-decimal
    contract), packs into a 1-row map<token, logprob> model artifact,
    and the STREAM side scores each micro-batch by a stateless
    sequential decimal fold with the model broadcast in — the
    streaming analog of CCNet's LM quality gate, needing no state
    store and no window. The BATCH corpus twin here scores via the
    token posting-list join instead (unigram_logprob_frame +
    shuffle_hash, the text_unigram_logprob plan): the addends are the
    SAME DECIMAL(18,6) values either way, and exact decimal sums are
    order-free, so the two paths are bit-equal (gated in
    tests/test_streaming.py::test_lm_gate_parity) — but a Spark
    map<token,..> lookup is a LINEAR SCAN of the map, so folding the
    full-vocab artifact over the whole corpus is O(tokens·|vocab|):
    the 100x probe measured 566s (565x) before this split; the join
    form is linear. The map artifact stays the right shape for the
    serving path, where each micro-batch is small and the vocab is
    pruned/bounded. A ZERO-token document scores the floor outright
    in both engines rather than NULLing out of the rollup; streamed
    NEW tokens take the documented OOV floor. Gate threshold -3.402
    sits between the p25/p50 of the sf0.01 score distribution."""
    from ..functions.text import tokens
    from ..ml.unigram_lm import unigram_logprob_frame
    from ..streaming.doc_stream import LM_OOV_FLOOR, lm_gate_rollup

    d = load_table(spark, sf_dir, "documents")
    tok = d.select(
        "doc_id",
        "source",
        F.explode(tokens(F.lower(F.col("text")))).alias("token"),
    )
    lp = unigram_logprob_frame(tok)
    per_doc = (
        tok.join(lp.hint("shuffle_hash"), "token")
        .groupBy("doc_id", "source")
        .agg(F.sum("lp").alias("s"), F.count("*").alias("ntok"))
    )
    scored = (
        d.select("doc_id", "source")
        .join(per_doc, ["doc_id", "source"], "left")
        .select(
            "source",
            F.when(
                F.col("ntok").isNotNull(),
                F.col("s").cast("double") / F.col("ntok"),
            )
            .otherwise(F.lit(float(LM_OOV_FLOOR)))
            .alias("score"),
        )
    )
    return lm_gate_rollup(scored).orderBy("source")
