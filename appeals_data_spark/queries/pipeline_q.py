"""Corpus-curation pipeline queries (training-data ops beyond dedup).

The four stages every large-scale pretraining pipeline runs after
cleaning/dedup, expressed Spark-first over the ``documents`` table:

  benchmark decontamination  n-gram overlap vs a held-out eval set
  mixture reweighting        per-source keep-probabilities hitting a
                             target token mixture
  stratified sampling        deterministic hash sampling at per-source
                             rates (reproducible across runs/engines)
  sequence packing           fixed-token-budget pack assignment

All are pure DataFrame plans (no Python UDFs) with full DuckDB
oracles. The reference has no corpus analog; these extend its
query-helper model (SURVEY §2.11) to the LLM-pipeline domain.
"""

from __future__ import annotations

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F
from pyspark.sql.window import Window

from ..catalog import load_table
from ..functions.scalars import pin_dbl, pin_dec, sql_pin_dbl, sql_pin_dec
from ..functions.text import java_tokens, ngram_stream, shingles, tokens
from ..operators.dedup import portable_hash48, sql_portable_hash48
from ..registry import register

# Benchmark membership: a deterministic ~3.5% slice standing in for a
# held-out eval set. At 100 TB the benchmark is its own (small) table;
# the corpus side of the join is identical either way.
_BENCH_MOD = 29

_GRAMS_SQL = """
    toks AS (
      SELECT doc_id, regexp_split_to_array(lower(trim(text)), '\\s+') AS ws
      FROM documents
    ), grams AS (
      SELECT doc_id,
             list_distinct(list_transform(range(greatest(len(ws) - 2, 0)),
               i -> array_to_string(list_slice(ws, i + 1, i + 3), ' '))) AS gs
      FROM toks
    )
"""


@register(
    "pipe_contamination_overlap",
    oracle=f"""
    WITH {_GRAMS_SQL},
    bench AS (
      SELECT DISTINCT unnest(gs) AS g FROM grams WHERE doc_id % {_BENCH_MOD} = 0
    ), corpus AS (
      SELECT doc_id, unnest(gs) AS g FROM grams WHERE doc_id % {_BENCH_MOD} <> 0
    ), hits AS (
      SELECT c.doc_id, COUNT(*) AS n_grams, COUNT(b.g) AS n_hit
      FROM corpus c LEFT JOIN bench b USING (g)
      GROUP BY 1
    )
    SELECT CAST(FLOOR(CAST(n_hit AS DOUBLE) / n_grams * 10) AS INT)
             AS contamination_decile,
           COUNT(*) AS n_docs,
           CAST(SUM(n_hit) AS BIGINT) AS grams_hit
    FROM hits GROUP BY 1 ORDER BY contamination_decile
    """,
    tags=("DEDUP", "TEXT"),
)
def pipe_contamination_overlap(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Benchmark decontamination: fraction of each corpus doc's distinct
    word trigrams that appear in a held-out benchmark slice, bucketed
    by decile. The planted near-duplicates of benchmark docs land in
    deciles 9-10 (flag-and-drop set); organic trigram collisions stay
    in 0-2 — the standard eval-set n-gram overlap gate (cf. GPT-3 /
    Gopher appendix methodology).

    Scale shape: ONE corpus scan -> explode distinct trigrams -> hash
    join against the benchmark gram set -> two grouped aggs. The
    benchmark side is a second, heavily filtered scan here (it would
    be its own small table at 100 TB) and is broadcast — corpus rows
    are never shuffled by gram, only by doc_id for the per-doc count,
    and that agg is map-side combinable.

    Both gram streams come from :func:`ngram_stream` (distinct
    per-doc trigrams of ``lower(text)`` — overlap is case-insensitive
    even though the synthetic corpus is already lower, as in the
    oracle). The doc_id % benchmark split is pushed to the scans
    EXPLICITLY — the stream's Arrow arm is opaque to the optimizer, so
    each branch filters before its pass.
    """
    d = load_table(spark, sf_dir, "documents")
    bench = (
        ngram_stream(
            d.filter(F.col("doc_id") % _BENCH_MOD == 0), "text", 3, [],
            distinct=True,
        )
        .select("g")
        .distinct()
    )
    corpus = ngram_stream(
        d.filter(F.col("doc_id") % _BENCH_MOD != 0), "text", 3, ["doc_id"],
        distinct=True,
    ).select("doc_id", "g")
    hits = (
        corpus.join(F.broadcast(bench.withColumn("_hit", F.lit(1))), "g", "left")
        .groupBy("doc_id")
        .agg(F.count("*").alias("n_grams"), F.count("_hit").alias("n_hit"))
    )
    return (
        hits.groupBy(
            F.floor(F.col("n_hit").cast("double") / F.col("n_grams") * 10)
            .cast("int")
            .alias("contamination_decile")
        )
        .agg(
            F.count("*").alias("n_docs"),
            F.sum("n_hit").cast("long").alias("grams_hit"),
        )
        .orderBy("contamination_decile")
    )


# Target token mixture: upweight the first four sources; CASE-derived on
# both sides so no dim table is needed. Shares sum to 1.0 over the 20
# synthetic sources (4 * 0.10 + 16 * 0.0375).
_TARGET_SQL = (
    "CASE WHEN source IN ('src0','src1','src2','src3') "
    "THEN 0.10 ELSE 0.0375 END"
)


def _target_share() -> F.Column:
    return F.when(
        F.col("source").isin("src0", "src1", "src2", "src3"), F.lit(0.10)
    ).otherwise(F.lit(0.0375))


@register(
    "pipe_mixture_weights",
    oracle=f"""
    WITH tok AS (
      SELECT source,
             CAST(SUM(len(list_filter(regexp_split_to_array(trim(text), '\\s+'),
                                      x -> x <> ''))) AS BIGINT) AS tokens,
             CAST({_TARGET_SQL} AS DOUBLE) AS target_share
      FROM documents GROUP BY source
    ), budget AS (
      SELECT MIN(tokens / target_share) AS b FROM tok
    )
    SELECT source, tokens, target_share,
           {sql_pin_dbl("b * target_share / tokens", 6)} AS keep_prob,
           CAST(FLOOR(b * target_share) AS BIGINT) AS budget_tokens
    FROM tok CROSS JOIN budget
    ORDER BY source
    """,
    tags=("TEXT", "A5"),
)
def pipe_mixture_weights(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Data-mixture reweighting: per-source keep-probabilities that
    yield the LARGEST corpus matching a target token mixture (the
    binding source keeps prob 1.0; everything else downsamples to its
    target share of the implied budget) — the sampling-weight step of
    pretraining mixture design.

    Scale shape: one grouped agg per source (20 rows), a 1-row global
    min, broadcast cross join back. Nothing after the first agg ever
    sees more than #sources rows.
    """
    d = load_table(spark, sf_dir, "documents")
    tok = d.groupBy("source").agg(
        F.sum(F.size(tokens("text"))).cast("long").alias("tokens")
    ).withColumn("target_share", _target_share().cast("double"))
    budget = tok.agg(
        F.min(F.col("tokens") / F.col("target_share")).alias("b")
    )
    return (
        tok.crossJoin(F.broadcast(budget))
        .select(
            "source",
            "tokens",
            "target_share",
            pin_dbl(
                F.col("b") * F.col("target_share") / F.col("tokens"), 6
            ).alias("keep_prob"),
            F.floor(F.col("b") * F.col("target_share"))
            .cast("long")
            .alias("budget_tokens"),
        )
        .orderBy("source")
    )


@register(
    "pipe_temperature_mixture",
    oracle=rf"""
    WITH tok AS (
      SELECT source,
             CAST(SUM(len(list_filter(regexp_split_to_array(trim(text), '\s+'),
                                      x -> x <> ''))) AS BIGINT) AS tokens
      FROM documents GROUP BY source
    ), w AS (
      SELECT source, tokens,
             SUM(tokens) OVER () AS n_total,
             CAST(ROUND(POW(CAST(tokens AS DOUBLE)
                            / SUM(tokens) OVER (), 0.3), 6)
                  AS DECIMAL(18,6)) AS wgt
      FROM tok
    ), z AS (
      SELECT source, tokens, n_total, wgt, SUM(wgt) OVER () AS zsum FROM w
    )
    SELECT source, tokens,
           {sql_pin_dbl("CAST(tokens AS DOUBLE) / n_total", 6)} AS natural_share,
           {sql_pin_dbl("CAST(wgt AS DOUBLE) / CAST(zsum AS DOUBLE)", 6)} AS temp_share,
           {sql_pin_dbl("(CAST(wgt AS DOUBLE) / CAST(zsum AS DOUBLE)) / (CAST(tokens AS DOUBLE) / n_total)", 6)} AS upsample_factor,
           CAST(FLOOR(n_total * (CAST(wgt AS DOUBLE) / CAST(zsum AS DOUBLE)))
                AS BIGINT) AS epoch_tokens
    FROM z ORDER BY source
    """,
    tags=("TEXT", "A5", "W8"),
)
def pipe_temperature_mixture(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Temperature-based mixture resampling (the XLM-R / mT5
    multilingual recipe): sampling share p_i ∝ (n_i/N)^α with α=0.3,
    flattening the natural distribution so low-resource sources are
    upsampled. Emits per source the natural vs temperature share, the
    implied upsample factor, and the per-epoch token budget.

    Determinism contract: the one transcendental (pow) is evaluated
    per source row, rounded to 6 dp, and cast to DECIMAL(18,6) before
    the normalizer sum, so Z is exact decimal and every emitted double
    is a single deterministic expression over exact inputs.

    Scale shape: one map-side-combinable groupBy(source) over the
    corpus; everything after is #sources rows (20 here), where the
    global-window normalizer is a deliberate single-partition pass
    over a dimension-sized table, not the fact stream."""
    from pyspark.sql.window import Window

    d = load_table(spark, sf_dir, "documents")
    tok = d.groupBy("source").agg(
        F.sum(F.size(tokens("text"))).cast("long").alias("tokens")
    )
    w_all = Window.partitionBy()
    w = tok.select(
        "source",
        "tokens",
        F.sum("tokens").over(w_all).alias("n_total"),
        F.round(
            F.pow(F.col("tokens").cast("double") / F.sum("tokens").over(w_all), 0.3), 6
        )
        .cast("decimal(18,6)")
        .alias("wgt"),
    )
    z = w.withColumn("zsum", F.sum("wgt").over(w_all))
    temp_share = F.col("wgt").cast("double") / F.col("zsum").cast("double")
    nat_share = F.col("tokens").cast("double") / F.col("n_total")
    return z.select(
        "source",
        "tokens",
        pin_dbl(nat_share, 6).alias("natural_share"),
        pin_dbl(temp_share, 6).alias("temp_share"),
        pin_dbl(temp_share / nat_share, 6).alias("upsample_factor"),
        F.floor(F.col("n_total") * temp_share).cast("long").alias("epoch_tokens"),
    ).orderBy("source")


@register(
    "pipe_stratified_sample",
    oracle=f"""
    WITH rated AS (
      SELECT source, doc_id, n_chars,
             50 + 45 * (CAST(substr(source, 4) AS INT) % 8) AS rate_pm,
             {sql_portable_hash48("CAST(doc_id AS VARCHAR)", "strat")} % 1000
               AS bucket
      FROM documents
    )
    SELECT source, MIN(rate_pm) AS rate_pm,
           COUNT(*) AS n_total,
           CAST(SUM(CASE WHEN bucket < rate_pm THEN 1 ELSE 0 END) AS BIGINT)
             AS n_sampled,
           CAST(SUM(CASE WHEN bucket < rate_pm THEN n_chars ELSE 0 END)
             AS BIGINT) AS chars_sampled
    FROM rated GROUP BY source ORDER BY source
    """,
    tags=("TEXT", "P13"),
)
def pipe_stratified_sample(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Deterministic stratified sampling: per-source keep rates (per
    mille, derived from the source index) applied via a content hash —
    reproducible across runs, engines, and partitionings, unlike
    ``df.sample`` whose output depends on partition layout. This is
    the sampling primitive the mixture weights feed at scale.

    Scale shape: embarrassingly parallel row filter (hash + compare,
    all codegen) followed by one map-side-combinable agg on source.
    """
    d = load_table(spark, sf_dir, "documents")
    rated = d.select(
        "source",
        "n_chars",
        (
            F.lit(50)
            + F.lit(45) * (F.substring("source", 4, 10).cast("int") % 8)
        ).alias("rate_pm"),
        (portable_hash48(F.col("doc_id").cast("string"), "strat") % 1000).alias(
            "bucket"
        ),
    )
    keep = F.col("bucket") < F.col("rate_pm")
    return (
        rated.groupBy("source")
        .agg(
            F.min("rate_pm").alias("rate_pm"),
            F.count("*").alias("n_total"),
            F.sum(keep.cast("int")).cast("long").alias("n_sampled"),
            F.sum(F.when(keep, F.col("n_chars")).otherwise(F.lit(0)))
            .cast("long")
            .alias("chars_sampled"),
        )
        .orderBy("source")
    )


@register(
    "pipe_curation_funnel",
    oracle=f"""
    WITH raw AS (
      SELECT doc_id, source,
             regexp_split_to_array(lower(trim(text)), '\\s+') AS toks,
             md5(regexp_replace(lower(trim(text)), '\\s+', ' ', 'g'))
               AS norm_key,
             length(regexp_replace(text, '\\s', '', 'g')) AS n_nonspace
      FROM documents WHERE doc_id % {_BENCH_MOD} <> 0
    ), feats AS (
      SELECT doc_id, source, norm_key,
             len(toks) AS wc,
             CAST(n_nonspace AS DOUBLE) / len(toks) AS mean_wlen,
             len(list_intersect(list_distinct(toks),
                 ['the','a','of','and','to','in','is','it','for','on']))
               AS n_stop,
             CASE WHEN len(toks) >= 3 THEN
               1.0 - CAST(len(list_distinct(list_transform(range(len(toks)-2),
                      i -> toks[i+1] || ' ' || toks[i+2] || ' ' || toks[i+3])))
                    AS DOUBLE) / (len(toks) - 2)
             ELSE 0.0 END AS dup3,
             list_distinct(list_transform(range(greatest(len(toks) - 2, 0)),
               i -> toks[i+1] || ' ' || toks[i+2] || ' ' || toks[i+3])) AS gs
      FROM raw
    ), bench AS (
      SELECT DISTINCT unnest(list_transform(range(greatest(len(ws) - 2, 0)),
               i -> ws[i+1] || ' ' || ws[i+2] || ' ' || ws[i+3])) AS g
      FROM (SELECT regexp_split_to_array(lower(trim(text)), '\\s+') AS ws
            FROM documents WHERE doc_id % {_BENCH_MOD} = 0)
    ), hits AS (
      SELECT c.doc_id, COUNT(b.g) AS n_hit
      FROM (SELECT doc_id, unnest(gs) AS g FROM feats) c
      LEFT JOIN bench b USING (g) GROUP BY 1
    ), flag1 AS (
      SELECT f.source, f.doc_id, f.wc, f.norm_key,
             CASE WHEN f.wc BETWEEN 50 AND 100000
                   AND f.mean_wlen BETWEEN 3 AND 10
                   AND f.n_stop >= 2 AND f.dup3 <= 0.3
                  THEN 1 ELSE 0 END AS q,
             CAST(COALESCE(h.n_hit, 0) AS DOUBLE)
               / GREATEST(len(f.gs), 1) AS ratio
      FROM feats f LEFT JOIN hits h USING (doc_id)
    ), flag2 AS (
      SELECT *,
             CASE WHEN q = 1 AND doc_id = MIN(CASE WHEN q = 1 THEN doc_id END)
                    OVER (PARTITION BY norm_key)
                  THEN 1 ELSE 0 END AS canon
      FROM flag1
    ), flag3 AS (
      SELECT *, CASE WHEN canon = 1 AND ratio < 0.8 THEN 1 ELSE 0 END AS clean
      FROM flag2
    ), mix AS (
      SELECT source,
             CAST(SUM(CASE WHEN clean = 1 THEN wc ELSE 0 END) AS DOUBLE)
               AS stok,
             CAST({_TARGET_SQL} AS DOUBLE) AS ts
      FROM flag3 GROUP BY source
    ), budget AS (
      SELECT MIN(stok / ts) AS b FROM mix WHERE stok > 0
    ), thr AS (
      SELECT source,
             CAST(FLOOR(b * ts / stok * 1000000) AS BIGINT) AS t,
             {sql_pin_dbl("b * ts / stok", 6)} AS keep_prob
      FROM mix CROSS JOIN budget WHERE stok > 0
    ), final AS (
      SELECT f.*, COALESCE(t.t, 0) AS t, t.keep_prob,
             CASE WHEN f.clean = 1
                   AND {sql_portable_hash48("CAST(f.doc_id AS VARCHAR)", "mix")}
                       % 1000000 < COALESCE(t.t, 0)
                  THEN 1 ELSE 0 END AS samp
      FROM flag3 f LEFT JOIN thr t USING (source)
    )
    SELECT source,
           COUNT(*) AS n_raw,
           CAST(SUM(wc) AS BIGINT) AS tok_raw,
           CAST(SUM(q) AS BIGINT) AS n_quality,
           CAST(SUM(canon) AS BIGINT) AS n_canonical,
           CAST(SUM(clean) AS BIGINT) AS n_clean,
           MIN(keep_prob) AS keep_prob,
           CAST(SUM(samp) AS BIGINT) AS n_sampled,
           CAST(SUM(CASE WHEN samp = 1 THEN wc ELSE 0 END) AS BIGINT)
             AS tok_sampled
    FROM final GROUP BY source ORDER BY source
    """,
    tags=("DEDUP", "TEXT", "A2", "W4"),
    # Not bench-flagged: the 16-query headline suite is the recorded
    # baseline comparable, and the driver's runner throttles ~1.5x under
    # load (BASELINE.md) — the funnel's ~3s of stage-barrier floor would
    # spend half the 35s suite budget on one query. Its plan is still
    # frozen in tests/test_plans.py::SHUFFLE_BUDGET.
)
def pipe_curation_funnel(spark: SparkSession, sf_dir: str) -> DataFrame:
    """END-TO-END curation funnel — the whole pretraining data pipeline
    as ONE oracled query: Gopher quality gate -> exact-dedup canonical
    survivor -> benchmark trigram decontamination (ratio < 0.8) ->
    mixture-weighted deterministic hash sampling. Emits the per-source
    funnel (raw / quality / canonical / clean / sampled doc+token
    counts) — the report a 100 TB curation sweep publishes.

    Scale shape (4 logical shuffles, each on a narrow key): (1) window
    on md5(norm_text) — a 32-char key, never the document body; (2)
    trigram-hit aggregation keyed by doc_id after a broadcast join
    against the benchmark gram set; (3) co-partitioned doc_id join of
    hits back onto features; (4) the final per-source agg, map-side
    combinable. Mixture thresholds are a #sources-row broadcast whose
    global min runs as a window over the per-source AGGREGATE (20
    rows), never a second corpus pass. The initial plan repeats the
    flag subtree under the mixture branch; AQE stage reuse dedups the
    actual execution (verified: the norm-key window's shuffle
    materializes once). All flags are codegen CASE expressions; no
    Python anywhere.
    """
    d = load_table(spark, sf_dir, "documents")
    low = F.lower(F.trim(F.col("text")))
    toks = F.split(low, r"\s+")
    sw = F.array(*[F.lit(w) for w in
                   ("the", "a", "of", "and", "to", "in", "is", "it", "for", "on")])

    raw = d.filter(F.col("doc_id") % _BENCH_MOD != 0)
    # All trigram work is the ngram_stream pass: the exploded corpus
    # gram stream carries the per-doc distinct-gram total (count_col),
    # so dup3's numerator and ratio's denominator both ride the SAME
    # hit aggregation and the feature projection never builds a gram.
    # NULL n_gs (a doc whose filtered token stream has < 3 words, so
    # zero gram rows) gives the values of an empty gram array: dup3
    # NULL null-propagates to q=0, and greatest(NULL, 1) = 1 matches
    # greatest(size([]), 1).
    feats = raw.select(
        "doc_id",
        "source",
        F.md5(F.regexp_replace(low, r"\s+", " ")).alias("norm_key"),
        F.size(toks).alias("wc"),
        (
            F.length(F.regexp_replace("text", r"\s", "")).cast("double")
            / F.size(toks)
        ).alias("mean_wlen"),
        F.size(F.array_intersect(F.array_distinct(toks), sw)).alias("n_stop"),
    )
    bench = (
        ngram_stream(
            d.filter(F.col("doc_id") % _BENCH_MOD == 0), "text", 3, [],
            distinct=True,
        )
        .distinct()
    )
    hits = (
        ngram_stream(
            raw, "text", 3, ["doc_id"], distinct=True, count_col="n_gs"
        )
        .join(F.broadcast(bench.withColumn("_hit", F.lit(1))), "g", "left")
        .groupBy("doc_id")
        .agg(
            F.count("_hit").alias("n_hit"),
            # every exploded row of a doc carries the same total
            F.max("n_gs").alias("n_gs"),
        )
    )
    dup3 = F.when(
        F.col("wc") >= 3,
        F.lit(1.0) - F.col("n_gs").cast("double") / (F.col("wc") - 2),
    ).otherwise(0.0)
    # coalesce: NULL dup3 must yield q=0 exactly like the old
    # dup3=1.0 did (the downstream sums would agree either way, but
    # the flag cascade stays value-identical row by row)
    q = F.coalesce(
        (
            F.col("wc").between(50, 100000)
            & F.col("mean_wlen").between(3, 10)
            & (F.col("n_stop") >= 2)
            & (dup3 <= 0.3)
        ).cast("int"),
        F.lit(0),
    )
    flag1 = (
        feats.join(hits, "doc_id", "left")
        .select(
            "source",
            "doc_id",
            "wc",
            "norm_key",
            q.alias("q"),
            (
                F.coalesce(F.col("n_hit"), F.lit(0)).cast("double")
                / F.greatest(F.col("n_gs"), F.lit(1))
            ).alias("ratio"),
        )
    )
    w = Window.partitionBy("norm_key")
    flag3 = flag1.withColumn(
        "canon",
        (
            (F.col("q") == 1)
            & (
                F.col("doc_id")
                == F.min(F.when(F.col("q") == 1, F.col("doc_id"))).over(w)
            )
        ).cast("int"),
    ).withColumn(
        "clean", ((F.col("canon") == 1) & (F.col("ratio") < 0.8)).cast("int")
    )
    mix = flag3.groupBy("source").agg(
        F.sum(F.when(F.col("clean") == 1, F.col("wc")).otherwise(0))
        .cast("double")
        .alias("stok")
    ).withColumn("ts", _target_share().cast("double"))
    # Global min as a window over the #sources-row aggregate (NOT a
    # second pass over the corpus): the unpartitioned window is bounded
    # by the source count, so "move all data to one partition" moves 20
    # rows, and the whole mixture computation hangs off ONE corpus agg.
    wb = Window.partitionBy(F.lit(1))
    thr = (
        mix.filter(F.col("stok") > 0)
        .withColumn("b", F.min(F.col("stok") / F.col("ts")).over(wb))
        .select(
            "source",
            F.floor(F.col("b") * F.col("ts") / F.col("stok") * 1000000)
            .cast("long")
            .alias("t"),
            pin_dbl(F.col("b") * F.col("ts") / F.col("stok"), 6).alias(
                "keep_prob"
            ),
        )
    )
    final = flag3.join(F.broadcast(thr), "source", "left").withColumn(
        "samp",
        (
            (F.col("clean") == 1)
            & (
                portable_hash48(F.col("doc_id").cast("string"), "mix") % 1000000
                < F.coalesce(F.col("t"), F.lit(0))
            )
        ).cast("int"),
    )
    return (
        final.groupBy("source")
        .agg(
            F.count("*").alias("n_raw"),
            F.sum("wc").cast("long").alias("tok_raw"),
            F.sum("q").cast("long").alias("n_quality"),
            F.sum("canon").cast("long").alias("n_canonical"),
            F.sum("clean").cast("long").alias("n_clean"),
            F.min("keep_prob").alias("keep_prob"),
            F.sum("samp").cast("long").alias("n_sampled"),
            F.sum(F.when(F.col("samp") == 1, F.col("wc")).otherwise(0))
            .cast("long")
            .alias("tok_sampled"),
        )
        .orderBy("source")
    )


@register(
    "pipe_split_shards",
    oracle=f"""
    WITH assigned AS (
      SELECT doc_id, n_chars,
             CASE WHEN h_split < 90 THEN 'train'
                  WHEN h_split < 95 THEN 'val'
                  ELSE 'test' END AS split,
             h_shard AS shard
      FROM (
        SELECT doc_id, n_chars,
               {sql_portable_hash48("CAST(doc_id AS VARCHAR)", "split")} % 100
                 AS h_split,
               {sql_portable_hash48("CAST(doc_id AS VARCHAR)", "shard")} % 8
                 AS h_shard
        FROM documents
      )
    )
    SELECT split, shard,
           COUNT(*) AS n_docs,
           CAST(SUM(n_chars) AS BIGINT) AS chars,
           MIN(doc_id) AS first_doc,
           MAX(doc_id) AS last_doc
    FROM assigned GROUP BY split, shard ORDER BY split, shard
    """,
    tags=("TEXT", "P13"),
)
def pipe_split_shards(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Deterministic train/val/test split (90/5/5 by content hash) plus
    shard assignment within each split — the dataset-freeze step
    before training. Hash-derived assignment is stable under
    re-partitioning, engine changes, and incremental corpus appends
    (a doc's split never changes when new docs arrive), which
    ``randomSplit`` cannot guarantee.

    Scale shape: stateless row projection (two hash expressions, all
    codegen) then one map-side-combinable agg on (split, shard) — at
    100 TB the physical write would be ``partitionBy(split, shard)``
    with this exact assignment; min/max doc ids per cell pin the full
    assignment for the differential check.
    """
    d = load_table(spark, sf_dir, "documents")
    h_split = portable_hash48(F.col("doc_id").cast("string"), "split") % 100
    h_shard = portable_hash48(F.col("doc_id").cast("string"), "shard") % 8
    assigned = d.select(
        "doc_id",
        "n_chars",
        F.when(h_split < 90, "train")
        .when(h_split < 95, "val")
        .otherwise("test")
        .alias("split"),
        h_shard.alias("shard"),
    )
    return (
        assigned.groupBy("split", "shard")
        .agg(
            F.count("*").alias("n_docs"),
            F.sum("n_chars").cast("long").alias("chars"),
            F.min("doc_id").alias("first_doc"),
            F.max("doc_id").alias("last_doc"),
        )
        .orderBy("split", "shard")
    )


_PACK_BUDGET = 512


@register(
    "pipe_pack_sequences",
    oracle=f"""
    WITH tok AS (
      SELECT source, doc_id,
             len(list_filter(regexp_split_to_array(trim(text), '\\s+'),
                             x -> x <> '')) AS tok
      FROM documents
    ), offs AS (
      SELECT source, doc_id, tok,
             SUM(tok) OVER (PARTITION BY source ORDER BY doc_id
                            ROWS UNBOUNDED PRECEDING) - tok AS off
      FROM tok
    )
    SELECT source,
           CAST(FLOOR(CAST(off AS DOUBLE) / {_PACK_BUDGET}) AS BIGINT)
             AS pack_id,
           COUNT(*) AS n_docs,
           CAST(SUM(tok) AS BIGINT) AS pack_tokens
    FROM offs GROUP BY source, pack_id ORDER BY source, pack_id
    """,
    tags=("TEXT", "W3"),
)
def pipe_pack_sequences(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Sequence packing: assign docs to fixed-token-budget packs by
    cumulative offset within (source, doc_id order) — the chunked
    approximation of greedy bin packing that stays a single window
    expression (true first-fit is inherently sequential; offset
    chunking is the standard distributed substitute, cf. T5/LLM data
    loaders). Emits per-pack doc counts and token fills.

    Scale shape: one window partitioned by source (at 100 TB you pack
    per (source, shard) so no partition exceeds executor memory — the
    window key is the knob), then a map-side-combinable agg. No joins.
    """
    d = load_table(spark, sf_dir, "documents")
    tok = d.select(
        "source", "doc_id", F.size(tokens("text")).alias("tok")
    )
    w = (
        Window.partitionBy("source")
        .orderBy("doc_id")
        .rowsBetween(Window.unboundedPreceding, Window.currentRow)
    )
    offs = tok.withColumn("off", F.sum("tok").over(w) - F.col("tok"))
    return (
        offs.groupBy(
            "source",
            F.floor(F.col("off").cast("double") / _PACK_BUDGET)
            .cast("long")
            .alias("pack_id"),
        )
        .agg(
            F.count("*").alias("n_docs"),
            F.sum("tok").cast("long").alias("pack_tokens"),
        )
        .orderBy("source", "pack_id")
    )


@register(
    "pipe_model_score_broadcast",
    oracle="""
    WITH feats AS (
      SELECT source, CAST(n_chars AS DOUBLE) AS y,
             CAST(len(list_filter(regexp_split_to_array(trim(text), '\\s+'),
                                  x -> x <> '')) AS DOUBLE) AS x
      FROM documents
    ), coef AS (
      SELECT regr_slope(y, x) AS slope, regr_intercept(y, x) AS b0
      FROM feats
    )
    SELECT source, COUNT(*) AS n_docs,
           ROUND(AVG(y - (b0 + slope * x)), 3) AS mean_resid,
           ROUND(MAX(ABS(y - (b0 + slope * x))), 3) AS max_abs_resid
    FROM feats CROSS JOIN coef
    GROUP BY source ORDER BY source
    """,
    tags=("PIPE", "X3", "GLM"),
)
def pipe_model_score_broadcast(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Model scoring at corpus scale WITHOUT a driver round trip: the
    fitted coefficients are a 1-row aggregate broadcast-joined onto
    every document, so "train then score" is ONE Catalyst plan — the
    quality-classifier pattern (fit on a sample, score the corpus)
    with the model as data, never a collect(). Here the model is the
    closed-form OLS of chars-on-tokens (ml.linreg_stats — sufficient
    statistics, one pass) and the scored output is per-source residual
    diagnostics. Rounded to 3 dp: both engines fit with their own
    summation order, so coefficients agree only to float-sum drift."""
    from ..ml import linreg_stats

    d = load_table(spark, sf_dir, "documents")
    feats = d.select(
        "source",
        F.col("n_chars").cast("double").alias("y"),
        F.size(tokens(F.col("text"))).cast("double").alias("x"),
    )
    coef = linreg_stats(feats, y="y", x="x").select("slope", "intercept")
    resid = F.col("y") - (F.col("intercept") + F.col("slope") * F.col("x"))
    return (
        feats.crossJoin(F.broadcast(coef))
        .groupBy("source")
        .agg(
            F.count("*").alias("n_docs"),
            F.round(F.avg(resid), 3).alias("mean_resid"),
            F.round(F.max(F.abs(resid)), 3).alias("max_abs_resid"),
        )
        .orderBy("source")
    )


@register(
    "pipe_chunk_overlap",
    oracle=r"""
    WITH t AS (
      SELECT doc_id, source,
             len(list_filter(regexp_split_to_array(trim(text), '\s+'),
                             x -> x <> '')) AS ntok
      FROM documents
    ), chunks AS (
      SELECT doc_id, source, ntok,
             UNNEST(range(1, ntok + 1, 24)) AS start
      FROM t WHERE ntok >= 1
    ), sized AS (
      SELECT doc_id, source,
             LEAST(32, ntok - start + 1) AS chunk_len
      FROM chunks
    )
    SELECT source,
           COUNT(DISTINCT doc_id) AS n_docs,
           COUNT(*) AS n_chunks,
           CAST(SUM(chunk_len) AS BIGINT) AS total_chunk_tokens,
           CAST(SUM(CASE WHEN chunk_len < 32 THEN 1 ELSE 0 END) AS BIGINT)
             AS n_short_chunks
    FROM sized GROUP BY source ORDER BY source
    """,
    tags=("TEXT", "R4"),
)
def pipe_chunk_overlap(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Overlapped document chunking — the embedding-pipeline splitter
    (size 32 tokens, stride 24, so consecutive chunks share 8):
    chunk starts materialize as an exploded arithmetic sequence per
    document, no self-join, no window; the rollup reports chunk
    counts, the overlap-inflated token mass (total_chunk_tokens /
    corpus tokens is the duplication factor the embedding budget
    pays), and ragged-tail chunks. All integers — exact.

    Scale shape: explode-by-sequence is embarrassingly parallel and
    output-proportional; the single groupBy(source) map-side-combines.
    This is pipe_pack_sequences' dual: packing concatenates documents
    into fixed windows, chunking fans one document out into them."""
    d = load_table(spark, sf_dir, "documents")
    from ..functions.text import token_count

    t = d.select("doc_id", "source", token_count("text").alias("ntok")).filter(
        F.col("ntok") >= 1
    )
    chunks = t.select(
        "doc_id",
        "source",
        "ntok",
        F.explode(
            F.sequence(F.lit(1), F.col("ntok"), F.lit(24))
        ).alias("start"),
    )
    sized = chunks.select(
        "doc_id",
        "source",
        F.least(F.lit(32), F.col("ntok") - F.col("start") + 1).alias("chunk_len"),
    )
    return (
        sized.groupBy("source")
        .agg(
            F.countDistinct("doc_id").alias("n_docs"),
            F.count("*").alias("n_chunks"),
            F.sum("chunk_len").alias("total_chunk_tokens"),
            F.sum(F.when(F.col("chunk_len") < 32, 1).otherwise(0)).alias(
                "n_short_chunks"
            ),
        )
        .orderBy("source")
    )


@register(
    "pipe_source_caps",
    oracle="""
    WITH ranked AS (
      SELECT source, doc_id, n_chars,
             ROW_NUMBER() OVER (
               PARTITION BY source
               ORDER BY n_chars DESC, doc_id
             ) AS qrank
      FROM documents
    )
    SELECT source,
           COUNT(*) AS n_total,
           CAST(SUM(CASE WHEN qrank <= 15 THEN 1 ELSE 0 END) AS BIGINT)
             AS n_kept,
           CAST(SUM(CASE WHEN qrank > 15 THEN 1 ELSE 0 END) AS BIGINT)
             AS n_dropped,
           CAST(SUM(CASE WHEN qrank <= 15 THEN n_chars ELSE 0 END) AS BIGINT)
             AS chars_kept,
           COUNT(*) > 15 AS cap_hit
    FROM ranked GROUP BY source ORDER BY source
    """,
    tags=("PIPE", "W4", "A14"),
)
def pipe_source_caps(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Per-source document quota (the RefinedWeb/Gopher per-domain cap:
    no single domain may dominate the training mixture): rank each
    source's docs by a deterministic quality proxy (n_chars desc,
    doc_id tiebreak) and keep at most 15, reporting kept/dropped
    volume per source. Complements pipe_stratified_sample (rate-based)
    with the RANK-based quota the crawl-curation stacks apply to
    oversampled domains; all-integer arithmetic, so the differential
    check is exact.

    Scale shape: one window partitioned by source (the shuffle key a
    domain cap needs anyway; skewed mega-domains are exactly the rows
    the cap truncates, and a two-stage top-K per key — partial top-K
    per partition, then merge — drops the skew before the shuffle if a
    domain outgrows a partition) followed by a map-side-combinable
    rollup."""
    d = load_table(spark, sf_dir, "documents")
    w = Window.partitionBy("source").orderBy(
        F.desc("n_chars"), F.asc("doc_id")
    )
    ranked = d.select("source", "doc_id", "n_chars").withColumn(
        "qrank", F.row_number().over(w)
    )
    kept = F.col("qrank") <= 15
    return (
        ranked.groupBy("source")
        .agg(
            F.count("*").alias("n_total"),
            F.sum(kept.cast("int")).cast("long").alias("n_kept"),
            F.sum((~kept).cast("int")).cast("long").alias("n_dropped"),
            F.sum(F.when(kept, F.col("n_chars")).otherwise(F.lit(0)))
            .cast("long")
            .alias("chars_kept"),
            (F.count("*") > 15).alias("cap_hit"),
        )
        .orderBy("source")
    )


_BLOOM_BITS = 1 << 15  # 32768-bit filter (512 64-bit words)
_BLOOM_K = 3  # hash functions per element


@register(
    "pipe_decontam_bloom",
    oracle=f"""
    WITH {_GRAMS_SQL},
    bench AS (
      SELECT DISTINCT unnest(gs) AS g FROM grams WHERE doc_id % {_BENCH_MOD} = 0
    ), corpus AS (
      SELECT doc_id, unnest(gs) AS g FROM grams WHERE doc_id % {_BENCH_MOD} <> 0
    ), hits AS (
      SELECT c.doc_id, COUNT(*) AS n_grams, COUNT(b.g) AS n_hit
      FROM corpus c LEFT JOIN bench b USING (g)
      GROUP BY 1
    )
    SELECT CAST(FLOOR(CAST(n_hit AS DOUBLE) / n_grams * 10) AS INT)
             AS contamination_decile,
           COUNT(*) AS n_docs,
           CAST(SUM(n_hit) AS BIGINT) AS grams_hit
    FROM hits GROUP BY 1 ORDER BY contamination_decile
    """,
    tags=("DEDUP", "TEXT"),
)
def pipe_decontam_bloom(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Bloom-prefiltered benchmark decontamination: the same exact
    eval-set trigram overlap as pipe_contamination_overlap (identical
    oracle — the Bloom filter has false positives but NO false
    negatives, and every candidate is confirmed by the exact join, so
    the answer is bit-identical to the exact path), with the corpus
    side of the expensive gram join pre-filtered through a Bloom
    filter built WITH DATAFRAME AGGREGATION, not a driver-side
    collect:

      build:  bench gram -> k=3 positions via xxhash64(g, seed) mod m
              -> explode -> groupBy word index -> BIT_OR of the set
              bit -> 512-word bitset -> one-row map<word_idx, word>
      probe:  broadcast the one-row map; a gram survives iff all k
              bits test set (pure JVM expressions: element_at +
              shiftleft/shiftright, no UDF anywhere)

    Scale story: at 100 TB the benchmark gram set is ~1e6-1e8 entries;
    m scales to a few hundred MB of words, still a broadcastable
    single row, while the corpus side never shuffles by gram — the
    per-doc total is counted BEFORE the prefilter (map-side
    combinable), and only Bloom-positive grams (true hits + the ~1%
    false-positive tail) reach the confirming join. When the bench
    side outgrows broadcast range, the same bitset build works and the
    confirm join becomes a shuffle join over a corpus stream already
    thinned by orders of magnitude — which is the entire point of the
    prefilter.
    """
    d = load_table(spark, sf_dir, "documents")
    # The doc_id % split is pushed to the scans explicitly because the
    # ngram_stream Arrow arm is opaque to the optimizer.
    # Materialized once: the tiny distinct gram set feeds BOTH the
    # Bloom build and the confirming semi-join broadcast — without the
    # barrier each consumer re-scans and re-shingles the full
    # documents table (the similarity.py ivf_topk convention).
    bench = (
        ngram_stream(
            d.filter(F.col("doc_id") % _BENCH_MOD == 0), "text", 3, [],
            distinct=True,
        )
        .distinct()
        .localCheckpoint()
    )
    pos = [
        F.pmod(F.xxhash64("g", F.lit(j)), F.lit(_BLOOM_BITS)).alias(f"p{j}")
        for j in range(_BLOOM_K)
    ]
    words = (
        bench.select(F.explode(F.array(*pos)).alias("pos"))
        .groupBy(F.shiftright("pos", 6).alias("w"))
        .agg(
            F.bit_or(
                F.expr("shiftleft(CAST(1 AS BIGINT), CAST(pos % 64 AS INT))")
            ).alias("word")
        )
    )
    bloom = words.agg(
        F.map_from_entries(F.collect_list(F.struct("w", "word"))).alias("bf")
    )
    # One corpus gram pass (guide §2.3/§2.4): the per-doc
    # gram total rides the exploded stream as a carried column
    # (ngram_stream's count_col) instead of a second full evaluation
    # of the gram build. Zero-hit docs never need their exact gram
    # count — floor(0/n*10) = 0 for every n — so they are recovered by
    # count arithmetic from a cheap token-count scan (no per-gram
    # concat): size(gs) > 0  <=>  size(tokens) >= 3.
    corpus = ngram_stream(
        d.filter(F.col("doc_id") % _BENCH_MOD != 0),
        "text",
        3,
        ["doc_id"],
        distinct=True,
        count_col="n_grams",
    ).select("doc_id", "n_grams", "g")
    probe = corpus.crossJoin(F.broadcast(bloom)).select(
        "doc_id", "n_grams", "g", *pos, "bf"
    )
    maybe = None
    for j in range(_BLOOM_K):
        bit = F.expr(
            # try_element_at: NULL-for-missing on a sparse bitset map in
            # EVERY ansi config (plain element_at throws
            # MAP_KEY_DOES_NOT_EXIST under some 3.x ANSI settings and the
            # session does not pin spark.sql.ansi.enabled)
            f"coalesce(try_element_at(bf, shiftright(p{j}, 6)), CAST(0 AS BIGINT))"
            f" & shiftleft(CAST(1 AS BIGINT), CAST(p{j} % 64 AS INT))"
        ) != 0
        maybe = bit if maybe is None else (maybe & bit)
    confirmed = (
        probe.filter(maybe)
        .join(F.broadcast(bench), "g", "left_semi")
        .groupBy("doc_id")
        .agg(
            F.count("*").alias("n_hit"),
            # every exploded row of a doc carries the same total
            F.max("n_grams").alias("n_grams"),
        )
    )
    # Deciles over contaminated docs only (a handful of rows —
    # localCheckpoint so the scalar-sum consumer below cannot re-run
    # the corpus probe).
    hit_deciles = (
        confirmed.groupBy(
            F.floor(F.col("n_hit").cast("double") / F.col("n_grams") * 10)
            .cast("int")
            .alias("contamination_decile")
        )
        .agg(
            F.count("*").alias("n_docs"),
            F.sum("n_hit").cast("long").alias("grams_hit"),
        )
        .localCheckpoint()
    )
    # Zero-hit docs all land in decile 0 with grams_hit 0: their count
    # is (corpus docs with >= 1 gram) - (docs with >= 1 confirmed hit).
    # size(gs) > 0 <=> size(tokens) >= 3 (shingle count is
    # greatest(size(t) - 2, 0); distinct of a non-empty array is
    # non-empty), so the eligibility scan never builds a gram string.
    from ..functions.text import tokens as _tokens

    tot = (
        d.filter(F.col("doc_id") % _BENCH_MOD != 0)
        .filter(F.size(_tokens(F.lower(F.trim(F.col("text"))))) >= 3)
        .agg(F.count("*").alias("n_tot"))
    )
    zero = (
        tot.crossJoin(
            F.broadcast(
                hit_deciles.agg(
                    F.coalesce(F.sum("n_docs"), F.lit(0)).alias("n_hitdocs")
                )
            )
        )
        .select(
            F.lit(0).cast("int").alias("contamination_decile"),
            (F.col("n_tot") - F.col("n_hitdocs")).alias("n_docs"),
            F.lit(0).cast("long").alias("grams_hit"),
        )
        .filter(F.col("n_docs") > 0)
    )
    return (
        hit_deciles.unionByName(zero)
        .groupBy("contamination_decile")
        .agg(
            F.sum("n_docs").alias("n_docs"),
            F.sum("grams_hit").cast("long").alias("grams_hit"),
        )
        .orderBy("contamination_decile")
    )


# Scrub patterns live in functions.text (shared verbatim by this
# oracle, the Spark projection, and the streaming ingest parity test).
# The term denylist carries the live signal on the synthetic corpus;
# the email/IPv4 arms are the standard PII shapes and legitimately
# count zero here (the generator emits no digits) while staying fully
# exercised plumbing.
from ..functions.text import SCRUB_BLOCK as _SCRUB_BLOCK  # noqa: E402
from ..functions.text import SCRUB_EMAIL as _SCRUB_EMAIL  # noqa: E402
from ..functions.text import SCRUB_IPV4 as _SCRUB_IPV4  # noqa: E402

_SCRUB_ORACLE = """
    WITH scrub AS (
      SELECT source,
             len(regexp_extract_all(lower(trim(text)), '%(b)s', 0)) AS occ_block,
             len(regexp_extract_all(lower(trim(text)), '%(e)s', 0)) AS occ_email,
             len(regexp_extract_all(lower(trim(text)), '%(i)s', 0)) AS occ_ipv4,
             length(lower(trim(text)))
               - length(regexp_replace(regexp_replace(regexp_replace(
                     lower(trim(text)),
                     '%(b)s', '', 'g'), '%(e)s', '', 'g'), '%(i)s', '', 'g'))
               AS chars_masked
      FROM documents
    )
    SELECT source,
           COUNT(*) AS n_docs,
           CAST(SUM(CASE WHEN occ_block + occ_email + occ_ipv4 > 0
                    THEN 1 ELSE 0 END) AS BIGINT) AS docs_flagged,
           CAST(SUM(occ_block) AS BIGINT) AS block_hits,
           CAST(SUM(occ_email) AS BIGINT) AS email_hits,
           CAST(SUM(occ_ipv4) AS BIGINT) AS ipv4_hits,
           CAST(SUM(chars_masked) AS BIGINT) AS chars_masked
    FROM scrub GROUP BY source ORDER BY source
""" % {"b": _SCRUB_BLOCK, "e": _SCRUB_EMAIL, "i": _SCRUB_IPV4}


@register(
    "pipe_pii_blocklist_scrub",
    oracle=_SCRUB_ORACLE,
    tags=("TEXT",),
)
def pipe_pii_blocklist_scrub(spark: SparkSession, sf_dir: str) -> DataFrame:
    """PII / denylist scrubbing report — the redaction stage every
    curation pipeline runs before training (C4's blocklist pass,
    RefinedWeb/Dolma PII masking): count and mask (1) a term denylist
    with word boundaries, (2) email-shaped spans, (3) IPv4-shaped
    spans, and report per source how many docs were flagged, the hit
    count per pattern, and exactly how many characters masking
    removes. All counts are integers, so the report is hash-exact
    across engines; masking order (block, email, ipv4) is fixed and
    mirrored in the oracle.

    Scale shape: one projection-pruned scan, regex work entirely
    JVM-side inside whole-stage codegen (regexp_extract_all /
    regexp_replace — zero UDFs), one map-side-combinable aggregation
    on source. At 100 TB this is the canonical embarrassingly-parallel
    pass; the actual scrubbed text (the regexp_replace with a mask
    token instead of '') would feed a sink from the same single scan.
    The per-doc projection is STATELESS and shared with the streaming
    ingest path (functions.text.scrub_counts) — stream==batch parity
    is pinned in tests/test_streaming.py.
    """
    from ..functions.text import scrub_counts

    d = load_table(spark, sf_dir, "documents")
    per_doc = scrub_counts(d)
    return (
        per_doc.groupBy("source")
        .agg(
            F.count("*").alias("n_docs"),
            F.sum(
                (
                    F.col("occ_block") + F.col("occ_email") + F.col("occ_ipv4")
                    > 0
                ).cast("int")
            )
            .cast("long")
            .alias("docs_flagged"),
            F.sum("occ_block").cast("long").alias("block_hits"),
            F.sum("occ_email").cast("long").alias("email_hits"),
            F.sum("occ_ipv4").cast("long").alias("ipv4_hits"),
            F.sum("chars_masked").cast("long").alias("chars_masked"),
        )
        .orderBy("source")
    )


_DSIR_B = 256  # hashed-feature buckets (fixed: the model is B-sized)
_DSIR_TARGET = ("src0", "src1", "src2", "src3")  # 'curated' exemplar


def _dsir_occurrence_rows(d: DataFrame, bucket_fn) -> DataFrame:
    """Expression-level weighted bucket-occurrence rows — one row per
    bigram occurrence with cnt=1: (doc_id, source, b, cnt). The SPEC
    for the Arrow producer below, and the live path for the xxhash64
    production twin (codegen hash; only the shingle concat is
    interpreted there)."""
    low = F.lower(F.trim(F.col("text")))
    return d.select(
        "doc_id",
        "source",
        F.explode(shingles(low, 2)).alias("g"),
    ).select(
        "doc_id",
        "source",
        bucket_fn(F.col("g")).alias("b"),
        F.lit(1).cast("long").alias("cnt"),
    )


def _dsir_portable_bucket_rows(d: DataFrame) -> DataFrame:
    """Arrow producer of PER-DOC bucket counts under
    ``portable_hash48(g, "dsir") % _DSIR_B``.

    The expression path pays twice per bigram OCCURRENCE: the
    shingles() transform's per-gram concat is CodegenFallback
    (interpreted), and the md5/conv chain of portable_hash48 runs on
    every occurrence. This pass mirrors both in Python (hashlib.md5 is
    the same function) with a per-task bigram->bucket memo — each
    distinct bigram is hashed ONCE per task — and collapses the rows
    to per-doc bucket counts before they ever leave the scan task
    (<= min(bigrams, 256) rows per doc instead of one per occurrence),
    so both downstream aggregations read narrow pre-collapsed ints
    (guide §2.3/§4.2). JVM semantics mirrored bit-for-bit: bigrams are
    space-joined adjacent :func:`java_tokens` of lower(trim(text)),
    hash input is ``g + "#dsir"`` UTF-8, bucket =
    first-12-hex-digits int % 256. Golden-gated against the expression
    spec (tests/test_operators_golden.py::
    test_dsir_bucket_rows_match_expression_spec)."""
    import hashlib

    B = _DSIR_B

    def gen(batches):
        import pandas as pd

        memo: dict[str, int] = {}
        for pdf in batches:
            o_doc, o_src, o_b, o_c = [], [], [], []
            for did, src, txt in zip(
                pdf["doc_id"], pdf["source"], pdf["text"]
            ):
                if txt is None:
                    continue
                toks = java_tokens(txt.lower())
                if len(toks) < 2:
                    continue
                counts: dict[int, int] = {}
                prev = toks[0]
                for t in toks[1:]:
                    g = prev + " " + t
                    b = memo.get(g)
                    if b is None:
                        b = (
                            int(
                                hashlib.md5(
                                    g.encode("utf-8") + b"#dsir"
                                ).hexdigest()[:12],
                                16,
                            )
                            % B
                        )
                        memo[g] = b
                    counts[b] = counts.get(b, 0) + 1
                    prev = t
                for b, c in counts.items():
                    o_doc.append(did)
                    o_src.append(src)
                    o_b.append(b)
                    o_c.append(c)
            if o_doc:
                yield pd.DataFrame(
                    {
                        "doc_id": o_doc,
                        "source": o_src,
                        "b": o_b,
                        "cnt": o_c,
                    }
                )

    from ..catalog import sized_for_compute

    return sized_for_compute(d.select("doc_id", "source", "text")).mapInPandas(
        gen, schema="doc_id long, source string, b long, cnt long"
    )


def _dsir_report(
    spark: SparkSession, sf_dir: str, rows_fn, collapsed: bool
) -> DataFrame:
    """Shared DSIR pipeline body for the portable/production twins:
    everything except the weighted bucket-row source (``rows_fn``:
    documents frame -> (doc_id, source, b, cnt) rows; ``collapsed``
    says whether rows are already unique per (doc_id, b)) is identical
    by construction, so a formula or schema fix lands in both queries
    at once (round-10 review: the decimal->double final-cast fix had
    to be hand-applied twice before this factoring)."""
    d = load_table(spark, sf_dir, "documents")
    bg = rows_fn(d)
    # ONE pass builds both B-row count tables (round 12): a single
    # map-side-combinable agg carries the target count as a
    # conditional sum, and the corpus totals are exact integer sums
    # OVER the B-row table (nr = sum cr, nt = sum ct — identical
    # values, bucket-count-sized input). The per-doc scoring pass
    # below is the only other bg consumer, so the stream is derived
    # twice, not four times.
    counts = bg.groupBy("b").agg(
        F.sum("cnt").alias("cr"),
        F.sum(
            F.when(
                F.col("source").isin(*_DSIR_TARGET), F.col("cnt")
            ).otherwise(F.lit(0))
        ).alias("ct"),
    )
    tot = counts.agg(
        F.sum("cr").cast("double").alias("nr"),
        F.sum("ct").cast("double").alias("nt"),
    )
    lr = (
        counts.crossJoin(F.broadcast(tot))
        .select(
            "b",
            pin_dec(
                F.log(
                    (F.coalesce(F.col("ct"), F.lit(0)) + F.lit(1.0))
                    / (F.col("nt") + F.lit(float(_DSIR_B)))
                )
                - F.log(
                    (F.col("cr") + F.lit(1.0))
                    / (F.col("nr") + F.lit(float(_DSIR_B)))
                )
            ).alias("lr"),
        )
        .localCheckpoint()
    )
    base = (
        bg
        if collapsed
        else bg.groupBy("doc_id", "source", "b").agg(
            F.sum("cnt").alias("cnt")
        )
    )
    per_doc = (
        base.join(F.broadcast(lr), "b")
        .groupBy("doc_id", "source")
        .agg((F.sum(F.col("cnt") * F.col("lr"))).cast("decimal(28,6)").alias("w"))
    )
    return (
        per_doc.groupBy("source")
        .agg(
            F.count("*").cast("long").alias("n_docs"),
            F.sum("w").cast("decimal(38,6)").cast("double").alias("sum_weight"),
            F.min("w").cast("decimal(28,6)").cast("double").alias("min_weight"),
            F.max("w").cast("decimal(28,6)").cast("double").alias("max_weight"),
            F.sum((F.col("w") > 0).cast("int")).cast("long").alias("n_target_like"),
        )
        .orderBy("source")
    )


@register(
    "pipe_dsir_importance",
    oracle=f"""
    WITH doc AS (
      SELECT doc_id, source,
             list_filter(regexp_split_to_array(lower(trim(text)), '\\s+'),
                         x -> x <> '') AS ws
      FROM documents
    ), bg AS (
      SELECT doc_id, source,
             {sql_portable_hash48(
                 "unnest(list_slice(ws, 1, len(ws) - 1)) || ' ' || "
                 "unnest(list_slice(ws, 2, len(ws)))", "dsir")} % {_DSIR_B}
               AS b
      FROM doc WHERE len(ws) >= 2
    ), raw_c AS (
      SELECT b, COUNT(*) AS cr FROM bg GROUP BY b
    ), tgt_c AS (
      SELECT b, COUNT(*) AS ct FROM bg
      WHERE source IN ('src0', 'src1', 'src2', 'src3') GROUP BY b
    ), tot AS (
      SELECT CAST(COUNT(*) AS DOUBLE) AS nr,
             CAST(SUM(CASE WHEN source IN ('src0','src1','src2','src3')
                           THEN 1 ELSE 0 END) AS DOUBLE) AS nt
      FROM bg
    ), lr AS (
      SELECT r.b,
             {sql_pin_dec(
                 f"LN((COALESCE(t.ct, 0) + 1.0) / (tot.nt + {_DSIR_B}.0))"
                 f" - LN((r.cr + 1.0) / (tot.nr + {_DSIR_B}.0))")} AS lr
      FROM raw_c r LEFT JOIN tgt_c t USING (b) CROSS JOIN tot
    ), per_doc AS (
      SELECT g.doc_id, g.source,
             CAST(SUM(cnt * l.lr) AS DECIMAL(28,6)) AS w
      FROM (SELECT doc_id, source, b, COUNT(*) AS cnt
            FROM bg GROUP BY 1, 2, 3) g
      JOIN lr l USING (b)
      GROUP BY g.doc_id, g.source
    )
    SELECT source,
           CAST(COUNT(*) AS BIGINT) AS n_docs,
           CAST(CAST(SUM(w) AS DECIMAL(38,6)) AS DOUBLE) AS sum_weight,
           CAST(CAST(MIN(w) AS DECIMAL(28,6)) AS DOUBLE) AS min_weight,
           CAST(CAST(MAX(w) AS DECIMAL(28,6)) AS DOUBLE) AS max_weight,
           CAST(SUM(CASE WHEN w > 0 THEN 1 ELSE 0 END) AS BIGINT)
             AS n_target_like
    FROM per_doc GROUP BY source ORDER BY source
    """,
    tags=("PIPE", "TEXT", "QUALITY"),
)
def pipe_dsir_importance(spark: SparkSession, sf_dir: str) -> DataFrame:
    """DSIR-style data selection (Xie et al. 2023, 'Data Selection
    for Language Models via Importance Resampling'): score every raw
    document by the log importance ratio of a hashed-bigram bag model
    between a TARGET exemplar corpus (here the src0-src3 slice) and
    the RAW corpus — log p_target(x) - log p_raw(x) =
    sum over the doc's bigrams of the bucketed, Laplace-smoothed
    log-count ratio. Positive weight = 'looks like the target';
    per-source sums/extremes and target-like counts are what a
    mixture designer reads before resampling.

    Scale shape: features are hashed into a FIXED B=256 bucket space
    (portable_hash48 — bit-identical in DuckDB), so both n-gram count
    tables are B-row model artifacts built by ONE map-side-combinable
    pass; since round 12 the bucket rows come pre-collapsed to per-doc
    counts from one Arrow scan pass with a per-task bigram->bucket
    memo (each distinct bigram md5-hashed once per task instead of
    once per occurrence — golden-gated bit-equal to the expression
    spec), so nothing downstream ever sees a per-occurrence row; the
    per-doc scoring pass joins the broadcast 256-row log-ratio table
    and reduces with exact decimal arithmetic (integer counts x
    DECIMAL(18,6) ratios — no float accumulation anywhere). At 100 TB: two linear passes, no
    data-sized shuffle except the per-doc rollup. LN is the one
    libm-boundary op, pinned by ``pin_dec`` (bit-identical IEEE
    floor(x*1e6 + 0.5) on both engines — hardened after the round-8
    driver hash flip; see functions/scalars.py pin rationale)."""
    return _dsir_report(spark, sf_dir, _dsir_portable_bucket_rows, True)


@register(
    "pipe_dsir_importance_prod",
    oracle=None,  # xxhash64 family has no DuckDB twin (rows-only; the
    # fully-oracled portable twin above carries the hash verdict)
    tags=("PIPE", "TEXT", "QUALITY", "SCALE"),
)
def pipe_dsir_importance_prod(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Production-path DSIR twin of :func:`pipe_dsir_importance`: the
    identical hashed-bigram importance pipeline with the feature hash
    swapped from portable_hash48 (md5 string work, the price of a
    DuckDB-checkable oracle — measured as the registry's worst 100x
    factor, 19.6x) to JVM-codegen'd ``xxhash64`` — the hash a 100 TB
    run would actually use. Same registry discipline as the
    dedup_minhash_lsh / dedup_minhash_portable pair: the portable twin
    carries the cross-engine hash verdict, this one carries the scale
    number (factors recorded in BASELINE.md).

    Outputs the same per-source report shape (weights differ — a
    different hash partitions bigrams into different buckets — but
    n_docs per source and the two linear passes are identical), so the
    rows-only check still pins row count and schema."""
    return _dsir_report(
        spark,
        sf_dir,
        lambda d: _dsir_occurrence_rows(
            d, lambda g: F.pmod(F.xxhash64(g, F.lit("dsir")), F.lit(_DSIR_B))
        ),
        False,
    )


