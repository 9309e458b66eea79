"""Text-analysis queries (training-data ops): quality scoring,
language ID, token stats, fingerprinting — all JVM-side expressions.
"""

from __future__ import annotations

import os

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F

from ..catalog import load_table
from ..ml.unigram_lm import unigram_logprob_frame
from ..functions.scalars import ratio_dbl, sql_ratio_dbl
from ..functions.text import (
    STOPWORDS,
    cdc_chunk_stream,
    char_classes,
    lang_id_heuristic,
    ngram_stream,
    stopword_ratio,
    token_count,
    tokens,
)
from ..registry import materialize_ctes, register

_SW = "(" + ",".join(f"'{w}'" for w in STOPWORDS) + ")"


@register(
    "text_token_stats",
    oracle=f"""
    SELECT source,
           COUNT(*) AS n_docs,
           CAST(SUM(len(regexp_split_to_array(trim(text), '\\s+'))) AS BIGINT)
             AS total_tokens,
           MAX(len(regexp_split_to_array(trim(text), '\\s+'))) AS max_tokens,
           CAST(SUM(len(list_filter(regexp_split_to_array(lower(trim(text)), '\\s+'),
                               x -> x IN {_SW}))) AS BIGINT) AS total_stopwords
    FROM documents
    GROUP BY source
    ORDER BY source
    """,
    tags=("TEXT",),
    bench=True,
)
def text_token_stats(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Token counting + stopword totals per source — whitespace
    tokenizer as split/filter builtins (integer sums: exact)."""
    d = load_table(spark, sf_dir, "documents")
    sw = F.array([F.lit(w) for w in STOPWORDS])
    toks = F.array_remove(F.split(F.trim(F.col("text")), r"\s+"), "")
    n_stop = F.size(F.filter(F.transform(toks, lambda x: F.lower(x)), lambda x: F.array_contains(sw, x)))
    return (
        d.select("source", token_count("text").alias("ntok"), n_stop.alias("nstop"))
        .groupBy("source")
        .agg(
            F.count("*").alias("n_docs"),
            F.sum("ntok").alias("total_tokens"),
            F.max("ntok").alias("max_tokens"),
            F.sum("nstop").alias("total_stopwords"),
        )
        .orderBy("source")
    )


@register(
    "text_quality_flags",
    oracle=f"""
    WITH m AS (
      SELECT lang,
             len(regexp_split_to_array(trim(text), '\\s+')) AS ntok,
             length(text) AS nchar,
             CAST(len(list_filter(regexp_split_to_array(lower(trim(text)), '\\s+'),
                                  x -> x IN {_SW})) AS DOUBLE)
               / GREATEST(len(regexp_split_to_array(trim(text), '\\s+')), 1) AS sw_ratio
      FROM documents
    )
    SELECT lang,
           COUNT(CASE WHEN ntok BETWEEN 20 AND 1000 THEN 1 END) AS n_len_ok,
           COUNT(CASE WHEN sw_ratio > 0.05 THEN 1 END) AS n_sw_heavy,
           COUNT(CASE WHEN nchar >= 100 THEN 1 END) AS n_long,
           COUNT(*) AS n
    FROM m
    GROUP BY lang
    ORDER BY lang
    """,
    tags=("TEXT", "P9"),
)
def text_quality_flags(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Quality-scoring gates (length window, stopword density, char
    count) — the standard pre-training filter stack as one pass."""
    d = load_table(spark, sf_dir, "documents")
    return (
        d.select(
            "lang",
            token_count("text").alias("ntok"),
            F.length("text").alias("nchar"),
            stopword_ratio("text").alias("sw_ratio"),
        )
        .groupBy("lang")
        .agg(
            F.count(F.when(F.col("ntok").between(20, 1000), 1)).alias("n_len_ok"),
            F.count(F.when(F.col("sw_ratio") > 0.05, 1)).alias("n_sw_heavy"),
            F.count(F.when(F.col("nchar") >= 100, 1)).alias("n_long"),
            F.count("*").alias("n"),
        )
        .orderBy("lang")
    )


@register(
    "text_char_classes",
    oracle="""
    SELECT source,
           CAST(SUM(length(text)) AS BIGINT) AS total_chars,
           CAST(SUM(length(text) - length(regexp_replace(text, '[A-Za-z]', '', 'g'))) AS BIGINT) AS total_alpha,
           CAST(SUM(length(text) - length(regexp_replace(text, '[0-9]', '', 'g'))) AS BIGINT) AS total_digit,
           CAST(SUM(length(text) - length(regexp_replace(text, '\\s', '', 'g'))) AS BIGINT) AS total_space
    FROM documents
    GROUP BY source
    ORDER BY source
    """,
    tags=("TEXT", "F7"),
)
def text_char_classes(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Character-class composition via strip-and-measure regexps."""
    d = load_table(spark, sf_dir, "documents")
    cc = char_classes("text")
    return (
        d.select(
            "source",
            cc["n_chars"].alias("nc"),
            cc["n_alpha"].alias("na"),
            cc["n_digit"].alias("nd"),
            cc["n_space"].alias("ns"),
        )
        .groupBy("source")
        .agg(
            F.sum("nc").alias("total_chars"),
            F.sum("na").alias("total_alpha"),
            F.sum("nd").alias("total_digit"),
            F.sum("ns").alias("total_space"),
        )
        .orderBy("source")
    )


@register(
    "text_lang_confusion",
    oracle="""
    WITH t AS (
      SELECT lang,
             regexp_split_to_array(lower(trim(text)), '\\s+') AS toks
      FROM documents
    ), scored AS (
      SELECT lang,
             len(list_filter(toks, x -> x IN ('the','and','is','of'))) AS en_hits,
             len(list_filter(toks, x -> x IN ('el','la','de','que'))) AS es_hits,
             len(list_filter(toks, x -> x IN ('der','die','und','ist'))) AS de_hits
      FROM t
    )
    SELECT lang,
           CASE WHEN en_hits >= es_hits AND en_hits >= de_hits AND en_hits > 0 THEN 'en'
                WHEN es_hits >= de_hits AND es_hits > 0 THEN 'es'
                WHEN de_hits > 0 THEN 'de'
                ELSE 'unknown' END AS predicted,
           COUNT(*) AS n
    FROM scored
    GROUP BY 1, 2
    ORDER BY lang, predicted
    """,
    tags=("TEXT", "LANGID"),
)
def text_lang_confusion(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Language-ID heuristic vs labeled lang — confusion counts.
    Deterministic marker-word scorer; a real fastText-style model
    would slot in as an Arrow-batched pandas UDF with the same
    (text) -> label contract."""
    d = load_table(spark, sf_dir, "documents")
    return (
        d.select("lang", lang_id_heuristic("text").alias("predicted"))
        .groupBy("lang", "predicted")
        .agg(F.count("*").alias("n"))
        .orderBy("lang", "predicted")
    )


@register(
    "text_fingerprint_md5",
    oracle="""
    SELECT source,
           COUNT(DISTINCT md5(regexp_replace(lower(trim(text)), '\\s+', ' ', 'g'))) AS n_fingerprints,
           MIN(md5(regexp_replace(lower(trim(text)), '\\s+', ' ', 'g'))) AS min_fp
    FROM documents
    GROUP BY source
    ORDER BY source
    """,
    tags=("TEXT", "FP"),
)
def text_fingerprint_md5(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Content-addressed document fingerprints (md5 of normalized
    text; same digest function exists in both engines). The engine's
    native fingerprint is xxhash64 (operators.dedup) — md5 here for
    oracle parity."""
    d = load_table(spark, sf_dir, "documents")
    fp = F.md5(F.regexp_replace(F.lower(F.trim(F.col("text"))), r"\s+", " "))
    return (
        d.select("source", fp.alias("fp"))
        .groupBy("source")
        .agg(
            F.countDistinct("fp").alias("n_fingerprints"),
            F.min("fp").alias("min_fp"),
        )
        .orderBy("source")
    )


@register(
    "text_winnow_fingerprints",
    oracle="""
    WITH d AS (
      SELECT doc_id, source,
             regexp_replace(lower(trim(text)), '\\s+', ' ', 'g') AS t
      FROM documents
    ), pos AS (
      SELECT doc_id, source, t, length(t) AS lt,
             UNNEST(generate_series(1, length(t) - 4)) AS p
      FROM d WHERE length(t) >= 5
    ), grams AS (
      SELECT doc_id, source, p, lt,
             ord(substr(t, p, 1))
             + 31 * ord(substr(t, p + 1, 1))
             + 961 * ord(substr(t, p + 2, 1))
             + 29791 * ord(substr(t, p + 3, 1))
             + 923521 * ord(substr(t, p + 4, 1)) AS h
      FROM pos
    ), wins AS (
      SELECT doc_id, source, p, lt,
             MIN(h) OVER (PARTITION BY doc_id ORDER BY p
                          ROWS BETWEEN CURRENT ROW AND 3 FOLLOWING) AS fp
      FROM grams
    ), fps AS (
      SELECT DISTINCT doc_id, source, fp FROM wins WHERE p <= lt - 7
    )
    SELECT source,
           COUNT(DISTINCT doc_id) AS n_docs,
           COUNT(*) AS total_doc_fps,
           COUNT(DISTINCT fp) AS n_distinct_fps
    FROM fps GROUP BY source ORDER BY source
    """,
    tags=("TEXT", "FP", "DEDUP"),
)
def text_winnow_fingerprints(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Winnowing rolling-hash fingerprints (k=5 char-grams, window
    w=4): any shared substring of length >= 8 chars yields a shared
    fingerprint — the substring-level dedup/plagiarism primitive that
    whole-doc hashing (text_fingerprint_md5) can't provide. The
    base-31 polynomial hash has an exact SQL twin, so this is the one
    fingerprint family with a full value-level oracle.

    Round-12: fingerprints come from the Arrow ``winnow_stream`` pass
    (bit-equality-gated twin of the exploded expression form, which
    paid an interpreted per-char ascii HOF plus TWO corpus-char-sized
    exchanges — the window sort and the distinct; 68.2 -> 7.5 s at the
    100x probe), with ``source`` carried through so the join back onto
    documents disappears. Zero shuffles remain before the final
    rollup."""
    from ..functions.text import winnow_stream

    d = load_table(spark, sf_dir, "documents")
    fps = winnow_stream(d, "text", "doc_id", ["source"], k=5, w=4)
    return (
        fps.groupBy("source")
        .agg(
            F.countDistinct("doc_id").alias("n_docs"),
            F.count("*").alias("total_doc_fps"),
            F.countDistinct("fp").alias("n_distinct_fps"),
        )
        .orderBy("source")
    )


@register(
    "text_subword_tokens",
    oracle=r"""
    SELECT source,
           CAST(SUM(len(regexp_extract_all(text, ' ?[A-Za-z]+| ?[0-9]+| ?[^A-Za-z0-9 ]+'))) AS BIGINT)
             AS total_subwords,
           CAST(SUM(len(regexp_extract_all(text, ' ?[0-9]+'))) AS BIGINT)
             AS total_number_chunks,
           COUNT(*) AS n_docs
    FROM documents
    GROUP BY source
    ORDER BY source
    """,
    tags=("TEXT", "BPE"),
)
def text_subword_tokens(spark: SparkSession, sf_dir: str) -> DataFrame:
    """BPE-ish token counting: a GPT-2-style pre-tokenizer regex
    (letter runs / digit runs / punctuation runs, optional leading
    space) counted per doc — the subword-budget estimator of a
    training-data pipeline. Plain character classes only, so Java and
    RE2 agree on every match."""
    d = load_table(spark, sf_dir, "documents")
    pat = r" ?[A-Za-z]+| ?[0-9]+| ?[^A-Za-z0-9 ]+"
    return (
        d.groupBy("source")
        .agg(
            F.sum(F.expr(f"regexp_count(text, '{pat}')")).alias("total_subwords"),
            F.sum(F.expr("regexp_count(text, ' ?[0-9]+')")).alias(
                "total_number_chunks"
            ),
            F.count("*").alias("n_docs"),
        )
        .orderBy("source")
    )


_SW_LIST = "[" + ",".join(f"'{w}'" for w in STOPWORDS) + "]"


@register(
    "text_gopher_filters",
    oracle=f"""
    WITH d AS (
      SELECT source,
             regexp_split_to_array(lower(trim(text)), '\\s+') AS toks,
             length(regexp_replace(text, '\\s', '', 'g')) AS n_nonspace
      FROM documents
    ), feats AS (
      SELECT source,
             len(toks) AS wc,
             CAST(n_nonspace AS DOUBLE) / len(toks) AS mean_wlen,
             len(list_intersect(list_distinct(toks), {_SW_LIST})) AS n_stop,
             CASE WHEN len(toks) >= 3 THEN
               1.0 - CAST(len(list_distinct(list_transform(range(len(toks)-2),
                      i -> toks[i+1] || ' ' || toks[i+2] || ' ' || toks[i+3])))
                    AS DOUBLE) / (len(toks) - 2)
             ELSE 0.0 END AS dup3
      FROM d
    ), flags AS (
      SELECT source,
             CASE WHEN wc BETWEEN 50 AND 100000 THEN 1 ELSE 0 END AS p_len,
             CASE WHEN mean_wlen BETWEEN 3 AND 10 THEN 1 ELSE 0 END AS p_wlen,
             CASE WHEN n_stop >= 2 THEN 1 ELSE 0 END AS p_stop,
             CASE WHEN dup3 <= 0.3 THEN 1 ELSE 0 END AS p_rep
      FROM feats
    )
    SELECT source, COUNT(*) AS n_docs,
           CAST(SUM(p_len) AS BIGINT) AS pass_length,
           CAST(SUM(p_wlen) AS BIGINT) AS pass_word_len,
           CAST(SUM(p_stop) AS BIGINT) AS pass_stopwords,
           CAST(SUM(p_rep) AS BIGINT) AS pass_repetition,
           CAST(SUM(p_len * p_wlen * p_stop * p_rep) AS BIGINT) AS pass_all
    FROM flags
    GROUP BY source ORDER BY source
    """,
    tags=("TEXT", "QUALITY", "A2"),
)
def text_gopher_filters(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Gopher/C4-style document quality gate — the pre-training filter
    battery as one pass of JVM-side expressions (Rae et al. 2021 §A1.1
    rules adapted to the synthetic corpus): word-count bounds, mean
    word length bounds, minimum distinct-stopword hits, and
    within-document 3-gram repetition ratio. Per-source pass counts
    per rule plus the conjunction — the shape a 100 TB corpus sweep
    reports before dropping documents. Features are one projection
    (mean word length = non-space chars / words, avoiding a per-word
    fold; repetition = 1 - distinct/total shingles).

    The repetition feature never builds a gram in the projection: the
    TOTAL shingle count is pure arithmetic —
    ``size(shingles(t,3)) == greatest(size(tokens)-2,0)`` by
    construction (arrays_zip of equal-length slices) — and the
    DISTINCT count comes from the :func:`ngram_stream` pass collapsed
    map-side to one row per doc, joined back on doc_id (a
    doc-count-sized exchange instead of the interpreted HOF evaluated
    three times per doc). A left-join NULL distinct count occurs
    exactly when the doc has zero grams, which the ``total > 0`` guard
    already routes to dup3 = 0.0 — value-identical row by row."""
    d = load_table(spark, sf_dir, "documents")
    low = F.lower(F.trim(F.col("text")))
    toks = F.split(low, r"\s+")
    sh_total = F.greatest(F.size(tokens(low)) - 2, F.lit(0))
    dcounts = (
        ngram_stream(d, "text", 3, ["doc_id"], distinct=True)
        .groupBy("doc_id")
        .agg(F.count("*").alias("_n_distinct"))
    )
    feats = d.select(
        "doc_id",
        "source",
        F.size(toks).alias("wc"),
        (
            F.length(F.regexp_replace("text", r"\s", "")).cast("double")
            / F.size(toks)
        ).alias("mean_wlen"),
        F.size(
            F.array_intersect(
                F.array_distinct(toks), F.array(*[F.lit(w) for w in STOPWORDS])
            )
        ).alias("n_stop"),
        sh_total.alias("_sh_total"),
    ).join(dcounts, "doc_id", "left").withColumn(
        "dup3",
        F.when(
            F.col("_sh_total") > 0,
            1.0
            - F.col("_n_distinct").cast("double") / F.col("_sh_total"),
        ).otherwise(0.0),
    )
    flags = feats.select(
        "source",
        F.col("wc").between(50, 100000).cast("int").alias("p_len"),
        F.col("mean_wlen").between(3, 10).cast("int").alias("p_wlen"),
        (F.col("n_stop") >= 2).cast("int").alias("p_stop"),
        (F.col("dup3") <= 0.3).cast("int").alias("p_rep"),
    )
    return (
        flags.groupBy("source")
        .agg(
            F.count("*").alias("n_docs"),
            F.sum("p_len").alias("pass_length"),
            F.sum("p_wlen").alias("pass_word_len"),
            F.sum("p_stop").alias("pass_stopwords"),
            F.sum("p_rep").alias("pass_repetition"),
            F.sum(
                F.col("p_len") * F.col("p_wlen") * F.col("p_stop") * F.col("p_rep")
            ).alias("pass_all"),
        )
        .orderBy("source")
    )


def _bpe_round_sql(i: int) -> str:
    """One unrolled BPE training round for the DuckDB oracle —
    mirrors operators.bpe.bpe_merge_table exactly (pa != pb candidate
    restriction, (count desc, pa, pb) tie-break, simultaneous fuse).
    The merge join is LEFT JOIN ON TRUE, not CROSS JOIN: when a round
    finds no mergeable pair (empty b{i}) the word table must pass
    through unchanged — the NULL pa/pb falls to the ELSE branch —
    exactly matching the operator's early stop; a cross join would
    annihilate the dictionary instead."""
    return f"""
    c{i} AS (
      SELECT pa, pb, CAST(SUM(n) AS BIGINT) AS pair_count FROM (
        SELECT w.n, w.syms[t.i] AS pa, w.syms[t.i + 1] AS pb
        FROM w{i - 1} w, UNNEST(range(1, len(w.syms))) AS t(i)
      ) WHERE pa <> pb GROUP BY pa, pb
    ), b{i} AS (
      SELECT pa, pb, pair_count FROM (
        SELECT pa, pb, pair_count,
               ROW_NUMBER() OVER (ORDER BY pair_count DESC, pa, pb) AS rn
        FROM c{i}
      ) WHERE rn = 1
    ), w{i} AS (
      SELECT w.word, w.n,
             list_filter(list_transform(range(1, len(w.syms) + 1),
               i -> CASE
                      WHEN w.syms[i] = b.pa AND i < len(w.syms)
                           AND w.syms[i + 1] = b.pb THEN b.pa || b.pb
                      WHEN i > 1 AND w.syms[i - 1] = b.pa
                           AND w.syms[i] = b.pb THEN NULL
                      ELSE w.syms[i]
                    END), x -> x IS NOT NULL) AS syms
      FROM w{i - 1} w LEFT JOIN b{i} b ON TRUE
    )"""


@register(
    "text_bpe_merges",
    oracle=r"""
    WITH words AS (
      SELECT token AS word, COUNT(*) AS n FROM (
        SELECT unnest(list_filter(regexp_split_to_array(lower(trim(text)), '\s+'),
                                  x -> x <> '')) AS token
        FROM documents) GROUP BY token
    ), w0 AS (
      SELECT word, n,
             list_transform(range(1, length(word) + 1),
                            i -> substr(word, i, 1)) AS syms
      FROM words
    ),"""
    + ",".join(_bpe_round_sql(i) for i in (1, 2, 3))
    + """
    SELECT 1 AS merge_round, pa, pb, pair_count FROM b1
    UNION ALL SELECT 2, pa, pb, pair_count FROM b2
    UNION ALL SELECT 3, pa, pb, pair_count FROM b3
    ORDER BY merge_round
    """,
    tags=("TEXT", "X6", "J19"),
)
def text_bpe_merges(spark: SparkSession, sf_dir: str) -> DataFrame:
    """BPE tokenizer training (Sennrich et al. 2016), 3 merge rounds
    over the corpus word-frequency dictionary: each round counts
    adjacent symbol pairs weighted by word frequency, fuses the argmax
    pair everywhere, repeats. The emitted merge table IS the trained
    tokenizer artifact — all integer/string, so the 3-round unrolled
    oracle is exact. See operators.bpe for the pa != pb determinism
    restriction and the per-round physical shape (pair-count partial
    agg + 1-row argmax broadcast + vectorized array rewrite; the word
    dictionary, not the corpus, is what iterates — the corpus is
    touched once by the word-count groupBy)."""
    from ..operators.bpe import bpe_merge_table

    d = load_table(spark, sf_dir, "documents")
    words = (
        d.select(F.explode(tokens(F.lower(F.col("text")))).alias("word"))
        .groupBy("word")
        .agg(F.count("*").alias("n"))
    )
    return bpe_merge_table(words, n_rounds=3)


@register(
    "text_bpe_vocab",
    oracle=r"""
    WITH words AS (
      SELECT token AS word, COUNT(*) AS n FROM (
        SELECT unnest(list_filter(regexp_split_to_array(lower(trim(text)), '\s+'),
                                  x -> x <> '')) AS token
        FROM documents) GROUP BY token
    ), w0 AS (
      SELECT word, n,
             list_transform(range(1, length(word) + 1),
                            i -> substr(word, i, 1)) AS syms
      FROM words
    ),"""
    + ",".join(_bpe_round_sql(i) for i in (1, 2, 3))
    + """
    , vocab AS (
      SELECT sym, CAST(SUM(n) AS BIGINT) AS occurrences
      FROM (SELECT n, unnest(syms) AS sym FROM w3)
      GROUP BY sym
    )
    SELECT rnk, sym, occurrences FROM (
      SELECT sym, occurrences,
             ROW_NUMBER() OVER (ORDER BY occurrences DESC, sym) AS rnk
      FROM vocab
    ) WHERE rnk <= 20 ORDER BY rnk
    """,
    tags=("TEXT", "A14"),
)
def text_bpe_vocab(spark: SparkSession, sf_dir: str) -> DataFrame:
    """The trained BPE tokenizer APPLIED: segment the word dictionary
    with the 3 learned merges, roll the symbol stream up into the
    subword vocabulary, and rank the top 20 by weighted occurrence —
    train-then-apply as ONE plan (the merge argmaxes broadcast between
    rounds; no tokenizer artifact leaves the cluster). Counts are
    integer-exact; the tie-break is (occurrences desc, symbol asc)."""
    from ..operators.bpe import bpe_segmented_words

    d = load_table(spark, sf_dir, "documents")
    words = (
        d.select(F.explode(tokens(F.lower(F.col("text")))).alias("word"))
        .groupBy("word")
        .agg(F.count("*").alias("n"))
    )
    seg = bpe_segmented_words(words, n_rounds=3)
    vocab = (
        seg.select("n", F.explode("syms").alias("sym"))
        .groupBy("sym")
        .agg(F.sum("n").alias("occurrences"))
    )
    from ..operators.rank import ranked_head

    return (
        ranked_head(vocab, 20, [F.desc("occurrences"), F.asc("sym")])
        .select("rnk", "sym", "occurrences")
        .orderBy("rnk")
    )


@register(
    "text_unigram_logprob",
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
      SELECT doc_id, source, COUNT(*) AS ntok, SUM(lp) AS sumdec
      FROM tok JOIN lp USING (token)
      GROUP BY doc_id, source
    )
    SELECT source,
           COUNT(*) AS n_docs,
           CAST(SUM(ntok) AS BIGINT) AS total_tokens,
           CAST(SUM(sumdec) AS DOUBLE) AS sum_logprob,
           ROUND(MIN(CAST(sumdec AS DOUBLE) / ntok), 6) AS min_doc_logprob,
           ROUND(MAX(CAST(sumdec AS DOUBLE) / ntok), 6) AS max_doc_logprob
    FROM per_doc GROUP BY source ORDER BY source
    """,
    tags=("TEXT", "QUALITY", "J1"),
)
def text_unigram_logprob(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Unigram language-model document scoring — the CCNet/CC-100-style
    perplexity proxy every corpus-quality funnel runs: train token ->
    log p(token) on the corpus itself (one groupBy), score each
    document by its mean token log-probability, roll up per source.

    Determinism contract: the only transcendental (ln) is evaluated
    once per DISTINCT vocabulary token, rounded to 6 dp, and cast to
    DECIMAL(18,6) *before* any aggregation — so every sum is exact
    decimal arithmetic (associative, partitioning-independent) and
    the emitted doubles are single correctly-rounded casts/divisions
    of exact values, never order-dependent float accumulations.

    Physical shape at 100 TB: vocab is a token groupBy with map-side
    partials; the vocab log-prob table joins back onto the exploded
    occurrence stream UNHINTED (round 8) — AQE broadcasts it while it
    is MB-scale and falls back to a hash-partitioned equi-join on
    token when the vocab outgrows broadcast; a hard hint would force
    the broadcast at any size (the sf10-probe trigram lesson,
    BASELINE.md). Per-doc and per-source rollups both
    partial-aggregate."""
    d = load_table(spark, sf_dir, "documents")
    from pyspark.sql.functions import broadcast

    tok = d.select(
        "doc_id", "source", F.explode(tokens(F.lower(F.col("text")))).alias("token")
    )
    lp = unigram_logprob_frame(tok)
    per_doc = (
        tok.join(lp.hint("shuffle_hash"), "token")
        .groupBy("doc_id", "source")
        .agg(F.count("*").alias("ntok"), F.sum("lp").alias("sumdec"))
    )
    doc_score = F.col("sumdec").cast("double") / F.col("ntok")
    return (
        per_doc.groupBy("source")
        .agg(
            F.count("*").alias("n_docs"),
            F.sum("ntok").alias("total_tokens"),
            F.sum("sumdec").cast("double").alias("sum_logprob"),
            F.round(F.min(doc_score), 6).alias("min_doc_logprob"),
            F.round(F.max(doc_score), 6).alias("max_doc_logprob"),
        )
        .orderBy("source")
    )


@register(
    "text_token_entropy",
    oracle=r"""
    WITH tok AS (
      SELECT doc_id, source,
             unnest(list_filter(regexp_split_to_array(lower(trim(text)), '\s+'),
                                x -> x <> '')) AS token
      FROM documents
    ), dt AS (
      SELECT doc_id, source, token, COUNT(*) AS c
      FROM tok GROUP BY doc_id, source, token
    ), per_doc AS (
      SELECT doc_id, source,
             SUM(c) AS ntok,
             SUM(c * CAST(ROUND(LN(c), 6) AS DECIMAL(18,6))) AS s_clnc
      FROM dt GROUP BY doc_id, source
    ), scored AS (
      SELECT source, ntok,
             ROUND(LN(ntok), 6) - CAST(s_clnc AS DOUBLE) / ntok AS ent
      FROM per_doc
    )
    SELECT source,
           COUNT(*) AS n_docs,
           CAST(SUM(ntok) AS BIGINT) AS total_tokens,
           ROUND(MIN(ent), 6) AS min_entropy,
           ROUND(MAX(ent), 6) AS max_entropy,
           CAST(SUM(CASE WHEN ent < 2.5 THEN 1 ELSE 0 END) AS BIGINT)
             AS n_low_entropy
    FROM scored GROUP BY source ORDER BY source
    """,
    tags=("TEXT", "QUALITY"),
)
def text_token_entropy(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Token-distribution Shannon entropy per document — the classic
    repetitiveness/quality signal (low entropy = a few tokens dominate;
    used alongside Gopher's repetition ratios in Dolma/RefinedWeb-style
    funnels). H = ln(n) - (1/n)·Σ c·ln(c) over the document's token
    counts, so the only transcendental is ln on small integers:
    evaluated per distinct (doc, token) count, rounded to 6 dp, cast to
    DECIMAL before the multiply-and-sum — every aggregation is exact
    decimal/integer arithmetic, and each emitted double is one
    deterministic expression over exact inputs (same contract as
    text_unigram_logprob).

    Physical shape at 100 TB: explode -> (doc, token) partial-agg ->
    per-doc rollup -> per-source rollup; no join, no window, every
    groupBy map-side-combines before its shuffle."""
    d = load_table(spark, sf_dir, "documents")
    dt = (
        d.select(
            "doc_id", "source", F.explode(tokens(F.lower(F.col("text")))).alias("token")
        )
        .groupBy("doc_id", "source", "token")
        .agg(F.count("*").alias("c"))
    )
    per_doc = dt.groupBy("doc_id", "source").agg(
        F.sum("c").alias("ntok"),
        F.sum(
            F.col("c") * F.round(F.log(F.col("c")), 6).cast("decimal(18,6)")
        ).alias("s_clnc"),
    )
    # Both transcendentals round to 6 dp before use — ln(c) feeding
    # the decimal sum AND ln(ntok) here — so ent is a deterministic
    # expression over exact inputs on both engines.
    ent = F.round(F.log(F.col("ntok")), 6) - F.col("s_clnc").cast("double") / F.col(
        "ntok"
    )
    scored = per_doc.select("source", "ntok", ent.alias("ent"))
    return (
        scored.groupBy("source")
        .agg(
            F.count("*").alias("n_docs"),
            F.sum("ntok").alias("total_tokens"),
            F.round(F.min("ent"), 6).alias("min_entropy"),
            F.round(F.max("ent"), 6).alias("max_entropy"),
            F.sum(F.when(F.col("ent") < 2.5, 1).otherwise(0)).alias("n_low_entropy"),
        )
        .orderBy("source")
    )


@register(
    "text_vocab_topk",
    oracle="""
    WITH tok AS (
      SELECT unnest(list_filter(
               regexp_split_to_array(lower(trim(text)), '\\s+'),
               x -> x <> '')) AS token
      FROM documents
    ), counts AS (
      SELECT token, COUNT(*) AS n FROM tok GROUP BY token
    ), ranked AS (
      SELECT token, n,
             ROW_NUMBER() OVER (ORDER BY n DESC, token) AS rnk
      FROM counts
    )
    SELECT rnk, token, n FROM ranked WHERE rnk <= 50 ORDER BY rnk
    """,
    tags=("TEXT", "A14"),
)
def text_vocab_topk(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Corpus vocabulary: top-50 tokens by frequency with a
    deterministic (count desc, token asc) tiebreak — the vocabulary /
    frequency-table pass every tokenizer-training pipeline runs first.

    Scale shape: explode + ONE groupBy(token) whose partial counts
    combine map-side (the shuffle carries one row per distinct token
    per task, not per occurrence), then a rank over the count table.
    The global window sorts only the distinct-token counts — at 100 TB
    cap it with an AQE-friendly pre-filter (HAVING n >= floor) or take
    per-partition top-k before the final ordering; the synthetic vocab
    is small enough to rank directly."""
    d = load_table(spark, sf_dir, "documents")

    counts = (
        d.select(F.explode(tokens(F.lower(F.col("text")))).alias("token"))
        .groupBy("token")
        .agg(F.count("*").alias("n"))
    )
    from ..operators.rank import ranked_head

    return (
        ranked_head(counts, 50, [F.col("n").desc(), F.col("token")])
        .select("rnk", "token", "n")
        .orderBy("rnk")
    )


def _top2gram_stats(d: DataFrame) -> DataFrame:
    """One Arrow pass emitting (doc_id, source, wc, topc) for every
    doc with wc >= 2: filtered token count and the max within-doc
    2-gram occurrence count. BIT-EQUALITY CONTRACT: row multiset ==
    the expression pipeline
    ``select(doc_id, source, size(tokens(low)) wc, shingles(low,2))
    .filter(wc>=2) -> explode -> groupBy(doc,gram).count ->
    groupBy(doc).max`` — pinned by tests/test_operators_golden.py::
    test_top2gram_stats_match_expression_spec. All outputs are ints.
    Tokens come from :func:`java_tokens`, the shared Python mirror of
    the JVM tokenizer."""
    from collections import Counter

    from ..functions.text import java_tokens

    out_schema = (
        "doc_id " + d.schema["doc_id"].dataType.simpleString()
        + ", source " + d.schema["source"].dataType.simpleString()
        + ", wc int, topc int"
    )

    def gen(batches):
        import pandas as pd

        for pdf in batches:
            rows_id, rows_src, rows_wc, rows_top = [], [], [], []
            for did, src, t in zip(pdf["doc_id"], pdf["source"], pdf["text"]):
                if t is None:
                    continue
                toks = java_tokens(t.lower())
                wc = len(toks)
                if wc < 2:
                    continue
                counts = Counter(
                    " ".join(p) for p in zip(toks, toks[1:])
                )
                rows_id.append(did)
                rows_src.append(src)
                rows_wc.append(wc)
                rows_top.append(max(counts.values()))
            yield pd.DataFrame(
                {
                    "doc_id": rows_id,
                    "source": rows_src,
                    "wc": pd.array(rows_wc, dtype="int32"),
                    "topc": pd.array(rows_top, dtype="int32"),
                }
            )

    from ..catalog import sized_for_compute

    return sized_for_compute(d.select("doc_id", "source", "text")).mapInPandas(
        gen, schema=out_schema
    )


@register(
    "text_top2gram_repetition",
    oracle="""
    WITH t AS (
      SELECT doc_id, source,
             regexp_split_to_array(lower(trim(text)), '\\s+') AS toks
      FROM documents
    ), g AS (
      SELECT doc_id, source, len(toks) AS wc,
             UNNEST(list_transform(range(len(toks) - 1),
                                   i -> toks[i + 1] || ' ' || toks[i + 2])) AS gram
      FROM t WHERE len(toks) >= 2
    ), cnt AS (
      SELECT doc_id, source, wc, gram, COUNT(*) AS c
      FROM g GROUP BY doc_id, source, wc, gram
    ), top AS (
      SELECT doc_id, source, wc, MAX(c) AS topc
      FROM cnt GROUP BY doc_id, source, wc
    )
    SELECT source, COUNT(*) AS n_docs,
           CAST(SUM(2 * topc) AS BIGINT) AS total_top_tokens,
           CAST(SUM(wc) AS BIGINT) AS total_tokens,
           CAST(SUM(CASE WHEN 2.0 * topc / wc > 0.2 THEN 1 ELSE 0 END)
                AS BIGINT) AS n_repetitive
    FROM top
    GROUP BY source ORDER BY source
    """,
    tags=("TEXT", "QUALITY", "A1"),
)
def text_top2gram_repetition(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Gopher's top-n-gram repetition signal (Rae et al. 2021 §A1.1:
    'fraction of characters in the most common n-gram', word-2-gram
    form): per document, the token share of its single most frequent
    2-gram; per source, the aggregate top-gram token mass (integer
    sums — the mean share is total_top_tokens/total_tokens, kept
    unreduced so the compare stays integer-exact) and the count of
    documents over the 0.2 repetition threshold. Complements
    text_gopher_filters' duplicate-3-gram ratio (which measures
    distinctness, not concentration). The per-doc threshold ratio is
    a comparison, not an emitted float: 2*topc/wc > 0.2 flips only at
    exact rational boundaries both engines compute identically in
    double.

    Physical shape at 100 TB (round-12): the whole per-doc signal
    (token count, within-doc 2-gram occurrence counts, their max) is
    ROW-LOCAL, so it runs as ONE Arrow mapInPandas pass emitting a
    #docs-sized (doc, source, wc, topc) table — no explode, and the
    (doc_id, gram) aggregation exchange is gone outright (guide §2.4;
    the old shape also paid the interpreted HOF gram build). Only the
    #docs-sized per-source rollup shuffles. Bit-equality golden test
    vs the expression pipeline (tests/test_operators_golden.py::
    test_top2gram_stats_match_expression_spec); integers end-to-end,
    so the threshold compare is unchanged."""
    d = load_table(spark, sf_dir, "documents")
    top = _top2gram_stats(d)
    frac = F.lit(2.0) * F.col("topc") / F.col("wc")
    return (
        top.groupBy("source")
        .agg(
            F.count("*").alias("n_docs"),
            F.sum(F.lit(2) * F.col("topc")).cast("long").alias("total_top_tokens"),
            F.sum("wc").cast("long").alias("total_tokens"),
            F.sum((frac > 0.2).cast("int")).cast("long").alias("n_repetitive"),
        )
        .orderBy("source")
    )


@register(
    "text_tfidf_topk",
    oracle=r"""
    WITH tok AS (
      SELECT source,
             unnest(list_filter(regexp_split_to_array(lower(trim(text)), '\s+'),
                                x -> x <> '')) AS token
      FROM documents
    ), tf AS (
      SELECT source, token, COUNT(*) AS tf FROM tok GROUP BY source, token
    ), stats AS (
      SELECT token, COUNT(*) AS df FROM tf GROUP BY token
    ), n AS (
      SELECT COUNT(DISTINCT source) AS ns FROM tf
    ), scored AS (
      SELECT f.source, f.token, f.tf, s.df,
             f.tf * CAST(ROUND(LN(CAST(ns AS DOUBLE) / s.df), 6)
                         AS DECIMAL(18,6)) AS score
      FROM tf f JOIN stats s USING (token) CROSS JOIN n
    ), ranked AS (
      SELECT source, token, tf, df, score,
             ROW_NUMBER() OVER (
               PARTITION BY source ORDER BY score DESC, token
             ) AS rnk
      FROM scored
    )
    SELECT source, rnk, token, tf, df, CAST(score AS DOUBLE) AS tfidf
    FROM ranked WHERE rnk <= 5
    ORDER BY source, rnk
    """,
    tags=("TEXT", "A14", "W4"),
)
def text_tfidf_topk(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Per-source TF-IDF keyword extraction: term frequency within the
    source × inverse source frequency across the corpus, top 5 terms
    per source. The idf transcendental is evaluated once per DISTINCT
    token, rounded, and cast to DECIMAL, so score = tf × idf is exact
    integer×decimal arithmetic and the (score desc, token asc) rank is
    bit-stable — the usual determinism contract.

    Scale shape: one (source, token) groupBy with map-side partials;
    df is a second tiny rollup of THAT table (never re-reads the
    corpus); ranking windows over #sources × vocab rows."""
    from pyspark.sql.functions import broadcast

    d = load_table(spark, sf_dir, "documents")
    tf = (
        d.select(
            "source", F.explode(tokens(F.lower(F.col("text")))).alias("token")
        )
        .groupBy("source", "token")
        .agg(F.count("*").alias("tf"))
        .localCheckpoint()  # feeds tf, df, AND ns — one corpus scan
    )
    stats = tf.groupBy("token").agg(F.count("*").alias("df"))
    n = tf.agg(F.countDistinct("source").alias("ns"))
    scored = (
        tf.join(stats, "token")
        .crossJoin(broadcast(n))
        .select(
            "source",
            "token",
            "tf",
            "df",
            (
                F.col("tf")
                * F.round(F.log(F.col("ns").cast("double") / F.col("df")), 6).cast(
                    "decimal(18,6)"
                )
            ).alias("score"),
        )
    )
    from pyspark.sql.window import Window

    w = Window.partitionBy("source").orderBy(F.desc("score"), F.asc("token"))
    return (
        scored.withColumn("rnk", F.row_number().over(w))
        .filter(F.col("rnk") <= 5)
        .select("source", "rnk", "token", "tf", "df",
                F.col("score").cast("double").alias("tfidf"))
        .orderBy("source", "rnk")
    )


def _bm25_doc_scores(d: DataFrame, terms: tuple[str, ...]) -> DataFrame:
    """(doc_id, bm25 double) for the fixed query ``terms`` (k1=1.2,
    b=0.75). ONE implementation shared by ``text_bm25_topk`` and the
    hybrid-retrieval fusion so the lexical scoring contract cannot
    drift. The idf transcendental rounds per distinct term, and each
    per-term contribution rounds to DECIMAL BEFORE the per-doc sum, so
    the accumulation is exact decimal arithmetic (partition-order-
    independent) and any (score desc, doc_id) ranking is engine-stable.

    Scale shape: the term filter prunes the exploded stream BEFORE the
    (doc, term) aggregation (only query terms survive the shuffle);
    doc lengths are a separate narrow rollup; df and the corpus stats
    are #terms- and 1-row broadcasts. Query cost tracks posting-list
    size, not corpus size — the inverted-index access pattern
    expressed as joins."""
    from pyspark.sql.functions import broadcast

    tok = d.select(
        "doc_id", F.explode(tokens(F.lower(F.col("text")))).alias("token")
    )
    dl = tok.groupBy("doc_id").agg(F.count("*").alias("dlen")).localCheckpoint()
    stats = dl.agg(
        F.count("*").cast("double").alias("ndocs"),
        (F.sum("dlen").cast("double") / F.count("*")).alias("avgdl"),
    )
    tf = (
        tok.filter(F.col("token").isin(*terms))
        .groupBy("doc_id", "token")
        .agg(F.count("*").alias("tf"))
    )
    df = tf.groupBy("token").agg(F.count("*").alias("df"))
    idf = F.round(
        F.log(1 + (F.col("ndocs") - F.col("df") + 0.5) / (F.col("df") + 0.5)), 6
    )
    contrib = F.round(
        idf
        * (
            (F.col("tf") * 2.2)
            / (F.col("tf") + 1.2 * (0.25 + 0.75 * F.col("dlen") / F.col("avgdl")))
        ),
        6,
    ).cast("decimal(18,6)")
    return (
        tf.join(df, "token")
        .join(dl, "doc_id")
        .crossJoin(broadcast(stats))
        .groupBy("doc_id")
        .agg(F.sum(contrib).cast("double").alias("bm25"))
    )



# The fixed retrieval query, shared by BOTH BM25 consumers AND their
# oracles — one definition so the Spark builders and the SQL fragment
# cannot drift.
_BM25_TERMS = ("spark", "window", "hash")

# Shared oracle fragment: the BM25 scoring chain (tok -> dl -> stats ->
# tf -> df -> scored), mirroring _bm25_doc_scores term for term. Used by
# text_bm25_topk and text_hybrid_rrf_topk.
_BM25_SCORED_CTES = r"""tok AS (
      SELECT doc_id,
             unnest(list_filter(regexp_split_to_array(lower(trim(text)), '\s+'),
                                x -> x <> '')) AS token
      FROM documents
    ), dl AS (
      SELECT doc_id, COUNT(*) AS dlen FROM tok GROUP BY doc_id
    ), stats AS (
      SELECT CAST(COUNT(*) AS DOUBLE) AS ndocs,
             CAST(SUM(dlen) AS DOUBLE) / COUNT(*) AS avgdl
      FROM dl
    ), tf AS (
      SELECT doc_id, token, COUNT(*) AS tf
      FROM tok WHERE token IN ({terms})
      GROUP BY doc_id, token
    ), df AS (
      SELECT token, COUNT(*) AS df FROM tf GROUP BY token
    ), scored AS (
      SELECT f.doc_id,
             CAST(SUM(
               CAST(ROUND(
                 ROUND(LN(1 + (ndocs - df + 0.5) / (df + 0.5)), 6)
                 * ((f.tf * 2.2)
                    / (f.tf + 1.2 * (0.25 + 0.75 * l.dlen / s.avgdl))),
                 6) AS DECIMAL(18,6))
             ) AS DOUBLE) AS bm25
      FROM tf f
      JOIN df USING (token)
      JOIN dl l USING (doc_id)
      CROSS JOIN stats s
      GROUP BY f.doc_id
    )""".format(terms=", ".join(f"'{t}'" for t in _BM25_TERMS))


@register(
    "text_bm25_topk",
    oracle=f"""
    WITH {_BM25_SCORED_CTES}, ranked AS (
      SELECT doc_id, bm25,
             ROW_NUMBER() OVER (ORDER BY bm25 DESC, doc_id) AS rnk
      FROM scored
    )
    SELECT rnk, doc_id, bm25 FROM ranked WHERE rnk <= 10 ORDER BY rnk
    """,
    tags=("TEXT", "A14", "W4"),
)
def text_bm25_topk(spark: SparkSession, sf_dir: str) -> DataFrame:
    """BM25 retrieval (k1=1.2, b=0.75) for a fixed 3-term query —
    the lexical-search baseline every retrieval pipeline starts from,
    with real document-length normalization (unlike text_tfidf_topk's
    per-source keyword view). Scoring contract and scale shape live in
    ``_bm25_doc_scores`` (shared with ``text_hybrid_rrf_topk``)."""

    from ..operators.rank import ranked_head

    d = load_table(spark, sf_dir, "documents")
    scored = _bm25_doc_scores(d, _BM25_TERMS)
    return (
        ranked_head(scored, 10, [F.desc("bm25"), F.asc("doc_id")])
        .select("rnk", "doc_id", "bm25")
        .orderBy("rnk")
    )


@register(
    "text_hybrid_rrf_topk",
    oracle=f"""
    WITH {_BM25_SCORED_CTES}, lexk AS (
      SELECT doc_id,
             ROW_NUMBER() OVER (ORDER BY bm25 DESC, doc_id) AS rnk
      FROM scored
      QUALIFY rnk <= 20
    ), q AS (
      SELECT CAST(embedding AS DOUBLE[]) AS qv
      FROM embeddings WHERE vec_id = 0
    ), densek AS (
      SELECT e.vec_id AS doc_id,
             ROW_NUMBER() OVER (
               ORDER BY list_cosine_similarity(q.qv, CAST(e.embedding AS DOUBLE[])) DESC,
                        e.vec_id
             ) AS rnk
      FROM embeddings e CROSS JOIN q
      WHERE e.vec_id <> 0
      QUALIFY rnk <= 20
    ), fused AS (
      SELECT COALESCE(l.doc_id, d.doc_id) AS doc_id,
             l.rnk AS lex_rnk, d.rnk AS dense_rnk,
             COALESCE(CAST(ROUND(1000000.0 / (60 + l.rnk), 6)
                           AS DECIMAL(18,6)), 0)
           + COALESCE(CAST(ROUND(1000000.0 / (60 + d.rnk), 6)
                           AS DECIMAL(18,6)), 0) AS rrf
      FROM lexk l FULL OUTER JOIN densek d ON l.doc_id = d.doc_id
    )
    SELECT ROW_NUMBER() OVER (ORDER BY rrf DESC, doc_id) AS rnk,
           doc_id,
           lex_rnk IS NOT NULL AS in_lex,
           dense_rnk IS NOT NULL AS in_dense,
           CAST(rrf AS DOUBLE) AS rrf_score
    FROM fused
    QUALIFY rnk <= 10
    ORDER BY rnk
    """,
    tags=("TEXT", "VEC", "ANN", "J12"),
)
def text_hybrid_rrf_topk(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Hybrid retrieval with reciprocal-rank fusion (Cormack et al.
    2009): fuse the BM25 lexical top-20 (``_bm25_doc_scores``, fixed
    3-term query) with the dense cosine top-20 for the doc-0 embedding
    (``brute_force_topk`` — doc_id and vec_id are the same corpus ids)
    by RRF score sum(1/(60+rank)), the standard first-stage ranker of
    a RAG retrieval stack. Scaled by 1e6 and rounded to DECIMAL(18,6)
    per list BEFORE the sum, so fusion is exact decimal arithmetic and
    the final (score desc, doc_id) order is engine-stable; only RANKS
    cross the float boundary, never raw scores — the reason RRF is
    robust to score-scale mismatch between retrievers (and to float
    accumulation order here).

    Scale shape: each side is its own driver-green pattern (posting-
    list joins for BM25; broadcast query + corpus scan for dense); the
    fusion is a 20∪20-row full outer join on doc_id — negligible. The
    in_lex/in_dense flags expose the single-list tails (dense-only
    hits are the hard-negative candidates for retriever training)."""
    from pyspark.sql.window import Window

    from ..operators.similarity import brute_force_topk

    d = load_table(spark, sf_dir, "documents")
    emb = load_table(spark, sf_dir, "embeddings")

    from ..operators.rank import ranked_head

    lexk = ranked_head(
        _bm25_doc_scores(d, _BM25_TERMS),
        20,
        [F.desc("bm25"), F.asc("doc_id")],
        rank_name="lex_rnk",
    ).select("doc_id", "lex_rnk")
    densek = brute_force_topk(
        emb, emb.filter(F.col("vec_id") == 0), k=20
    ).select(F.col("corpus_id").alias("doc_id"), F.col("rank").alias("dense_rnk"))

    def rrf_part(rank_col: str):
        return F.coalesce(
            F.round(F.lit(1000000.0) / (60 + F.col(rank_col)), 6).cast(
                "decimal(18,6)"
            ),
            F.lit(0).cast("decimal(18,6)"),
        )

    # no broadcast hint: Spark can't broadcast a full-outer side (it
    # must emit unmatched rows from both); both inputs are <=20 rows
    # by construction so the shuffled join is trivially cheap
    fused = (
        lexk.join(densek, "doc_id", "full_outer")
        .select(
            "doc_id",
            "lex_rnk",
            "dense_rnk",
            (rrf_part("lex_rnk") + rrf_part("dense_rnk")).alias("rrf"),
        )
    )
    wf = Window.orderBy(F.desc("rrf"), F.asc("doc_id"))
    return (
        fused.withColumn("rnk", F.row_number().over(wf))
        .filter(F.col("rnk") <= 10)
        .select(
            "rnk",
            "doc_id",
            F.col("lex_rnk").isNotNull().alias("in_lex"),
            F.col("dense_rnk").isNotNull().alias("in_dense"),
            F.col("rrf").cast("double").alias("rrf_score"),
        )
        .orderBy("rnk")
    )


@register(
    "pipe_perplexity_buckets",
    oracle=r"""
    WITH tok AS (
      SELECT doc_id,
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
      SELECT doc_id, COUNT(*) AS ntok,
             CAST(SUM(lp) AS DOUBLE) / COUNT(*) AS score
      FROM tok JOIN lp USING (token)
      GROUP BY doc_id
    ), banded AS (
      SELECT doc_id, ntok, score,
             NTILE(10) OVER (ORDER BY score, doc_id) AS decile
      FROM per_doc
    )
    SELECT decile,
           COUNT(*) AS n_docs,
           CAST(SUM(ntok) AS BIGINT) AS total_tokens,
           ROUND(MIN(score), 6) AS min_score,
           ROUND(MAX(score), 6) AS max_score,
           decile >= 8 AS keep
    FROM banded GROUP BY decile ORDER BY decile
    """,
    tags=("PIPE", "TEXT", "QUALITY", "W15"),
)
def pipe_perplexity_buckets(spark: SparkSession, sf_dir: str) -> DataFrame:
    """CCNet-style perplexity bucketing (Wenzek et al. 2019,
    arXiv:1911.00359): score every document with the corpus-trained
    unigram LM (text_unigram_logprob's exact-decimal contract — the
    perplexity proxy), band the corpus into NTILE(10) quality deciles,
    and keep the head (top-3 deciles by mean token log-probability =
    lowest perplexity), reporting per-band volume and score range —
    the head/middle/tail split CCNet uses to select training data.

    Determinism: per-doc scores are single divisions of exact-decimal
    sums (never order-dependent float accumulation) and NTILE orders
    by (score, doc_id), so band assignment is bit-stable across
    engines. Physical shape: the LM train/score is the
    text_unigram_logprob plan (vocab groupBy + broadcast-back); the
    global NTILE is one single-partition window over the #docs-sized
    per_doc table — at 100 TB replace with a range-partitioned
    percent_rank or approx-quantile band edges (the w15_ntile_deciles
    trade documented there)."""
    from pyspark.sql.functions import broadcast

    d = load_table(spark, sf_dir, "documents")
    tok = d.select(
        "doc_id", F.explode(tokens(F.lower(F.col("text")))).alias("token")
    )
    lp = unigram_logprob_frame(tok)
    per_doc = (
        tok.join(lp.hint("shuffle_hash"), "token")
        .groupBy("doc_id")
        .agg(
            F.count("*").alias("ntok"),
            (F.sum("lp").cast("double") / F.count("*")).alias("score"),
        )
    )
    # exact NTILE without the single-reducer global sort (the bare
    # window funnels the whole per-doc frame through one task — the
    # w15 probe measured that shape at 108x on 100x data); the helper
    # is the two-phase distributed rank, bit-identical tiles
    from ..operators.rank import global_ntile

    banded = global_ntile(
        per_doc, 10, ["score", "doc_id"], tile_name="decile"
    )
    return (
        banded.groupBy("decile")
        .agg(
            F.count("*").alias("n_docs"),
            F.sum("ntok").cast("long").alias("total_tokens"),
            F.round(F.min("score"), 6).alias("min_score"),
            F.round(F.max("score"), 6).alias("max_score"),
        )
        .withColumn("keep", F.col("decile") >= 8)
        .orderBy("decile")
    )


def _clf_oracle(lam: float = 0.02, iters: int = 20) -> str:
    """Unrolled pegasos oracle over per-doc quality features (the
    x3_linear_svm_eval pattern applied to the corpus-filter model);
    formulas mirror pipe_classifier_filter term for term."""
    parts = [
        f"""
    WITH feat AS (
      SELECT doc_id, source,
             len(regexp_split_to_array(trim(text), '\\s+')) AS ntok,
             CAST(len(list_filter(regexp_split_to_array(lower(trim(text)), '\\s+'),
                                  x -> x IN {_SW})) AS DOUBLE)
               / GREATEST(len(regexp_split_to_array(trim(text), '\\s+')), 1)
               AS swr
      FROM documents
    ), d AS (
      SELECT doc_id, source,
             CASE WHEN ntok BETWEEN 20 AND 1000 AND swr > 0.05
                  THEN 1.0 ELSE -1.0 END AS y,
             CAST(ntok AS DOUBLE) / 1000 - 0.05 AS x1,
             swr * 10 - 0.5 AS x2
      FROM feat
    ), nn AS (SELECT COUNT(*) AS n FROM d),
    it0 AS (SELECT CAST(0 AS DOUBLE) AS w0, CAST(0 AS DOUBLE) AS w1,
                   CAST(0 AS DOUBLE) AS w2)"""
    ]
    for i in range(1, iters + 1):
        parts.append(f"""
    , s{i} AS (
      SELECT COALESCE(CAST(SUM(CAST(round_even((CASE WHEN y * (w0 + (w1*x1 + w2*x2)) < 1
               THEN y END) * 1000000, 0) AS BIGINT)) AS DOUBLE), 0) / 1000000 AS sv0,
             COALESCE(CAST(SUM(CAST(round_even((CASE WHEN y * (w0 + (w1*x1 + w2*x2)) < 1
               THEN y * x1 END) * 1000000, 0) AS BIGINT)) AS DOUBLE), 0) / 1000000 AS sv1,
             COALESCE(CAST(SUM(CAST(round_even((CASE WHEN y * (w0 + (w1*x1 + w2*x2)) < 1
               THEN y * x2 END) * 1000000, 0) AS BIGINT)) AS DOUBLE), 0) / 1000000 AS sv2
      FROM d CROSS JOIN it{i - 1}
    ), it{i} AS (
      SELECT (1 - 1.0/{i}) * w0 + sv0 / ({lam!r} * {i} * n) AS w0,
             (1 - 1.0/{i}) * w1 + sv1 / ({lam!r} * {i} * n) AS w1,
             (1 - 1.0/{i}) * w2 + sv2 / ({lam!r} * {i} * n) AS w2
      FROM s{i} CROSS JOIN it{i - 1} CROSS JOIN nn
    )""")
    parts.append(f"""
    SELECT source,
           COUNT(*) AS n_docs,
           CAST(SUM(CASE WHEN w0 + (w1*x1 + w2*x2) >= 0
                    THEN 1 ELSE 0 END) AS BIGINT) AS n_keep,
           CAST(SUM(CASE WHEN y > 0 THEN 1 ELSE 0 END) AS BIGINT)
             AS n_weak_pos,
           CAST(SUM(CASE WHEN (y > 0) = (w0 + (w1*x1 + w2*x2) >= 0)
                    THEN 1 ELSE 0 END) AS BIGINT) AS n_agree
    FROM d CROSS JOIN it{iters}
    GROUP BY source ORDER BY source""")
    return "".join(parts)


@register(
    "pipe_classifier_filter",
    oracle=materialize_ctes(_clf_oracle()),
    tags=("PIPE", "TEXT", "QUALITY", "X3"),
)
def pipe_classifier_filter(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Model-based corpus filtering — the fastText-classifier curation
    step (LLaMA/GPT-3-style 'wiki-like' quality classifiers; CCNet
    arXiv:1911.00359 §4.3): train a linear classifier on WEAK labels
    derived from heuristic gates (text_quality_flags' length window +
    stopword density), then keep documents the MODEL scores positive —
    the model generalizes the box rule into a soft linear boundary,
    the standard bootstrap when no hand-labels exist. Twenty
    full-batch pegasos rounds (ml.svm.pegasos_linear_svm, lam=0.02;
    ~0.93 weak-label agreement at sf0.01) on two features (scaled
    token count, scaled stopword ratio); each round is one
    map-side-combinable aggregation with the k+1 fitted doubles
    spliced back as literals (MLlib-style driver iteration), and the
    final 1-row coefficient frame broadcasts onto the corpus for
    scoring (the pipe_model_score_broadcast discipline). Per-source
    report: volume, model-kept count, weak positives, model/weak
    agreement — all integer-exact.

    The feature frame IS persisted (unlike the raw-column fits — see
    ml.svm.pegasos_linear_svm's no-cache note): the projection here is
    regex tokenization of every document, and re-deriving it for each
    of the 20 training passes measured 2x slower than caching the
    3-column result (8.0s -> 4.5s at sf0.1). The dedup fast paths set
    the precedent; callers reclaim with clearCache.

    Partitioning (round 10): the tokenization pass runs at
    sized_for_compute parallelism (a small export arrives as one split
    and ran the regex single-threaded: first-run 13.5s -> 4.2s at
    sf0.1), but the CACHED frame is re-bucketed to max(8, input
    splits) partitions before persist — each of the 20 training rounds
    is a 1-row aggregate whose bench-SF cost is pure task scheduling
    (measured: 32 cached partitions cost +1.1s steady over 8; at
    100 TB the input-splits bound makes the repartition a widening
    no-op)."""
    from pyspark import StorageLevel

    from ..catalog import input_split_count, sized_for_compute
    from ..ml.svm import pegasos_linear_svm

    d = load_table(spark, sf_dir, "documents")
    n_splits = input_split_count(d)
    d = sized_for_compute(d)
    ntok = token_count("text")
    swr = stopword_ratio("text")
    feat = (
        d.select(
            "doc_id",
            "source",
            F.when(ntok.between(20, 1000) & (swr > 0.05), 1.0)
            .otherwise(-1.0)
            .alias("y"),
            (ntok.cast("double") / 1000 - 0.05).alias("x1"),
            (swr * 10 - 0.5).alias("x2"),
        )
        .repartition(max(8, n_splits))
        .persist(StorageLevel.MEMORY_AND_DISK)
    )
    # Materialize the cache with a parallel pass BEFORE the fit: the
    # round-12 one-pass local fit reads its input coalesced into one
    # task, and without this the tokenization-heavy projection would
    # compute serially inside that task (measured +0.9s); after the
    # count the fit task just deserializes cached feature rows. The
    # count doubles as the fit's size hint — persist() hides the file
    # index, so without it the dispatch would read unknown = LARGE.
    n_feat = feat.count()
    # exact_sum_decimals: the violator folds accumulate 1e6-scaled
    # LONGs, so the 20-round fit is bit-identical under any
    # partitioning (tests/test_determinism.py covers this query).
    # Unlike x3's grid-aligned features, swr-derived contributions can
    # in principle land on a .5 scaled boundary, so the oracle rounds
    # with round_even — DuckDB's exact twin of Spark's rint.
    coefs = pegasos_linear_svm(
        feat,
        y=F.col("y"),
        xs=[F.col("x1"), F.col("x2")],
        lam=0.02,
        iters=20,
        exact_sum_decimals=6,
        n_rows=n_feat,
    )
    score = F.col("w0") + (F.col("w1") * F.col("x1") + F.col("w2") * F.col("x2"))
    return (
        feat.crossJoin(F.broadcast(coefs))
        .groupBy("source")
        .agg(
            F.count("*").alias("n_docs"),
            F.sum((score >= 0).cast("int")).cast("long").alias("n_keep"),
            F.sum((F.col("y") > 0).cast("int")).cast("long").alias("n_weak_pos"),
            F.sum(((F.col("y") > 0) == (score >= 0)).cast("int"))
            .cast("long")
            .alias("n_agree"),
        )
        .orderBy("source")
    )


@register(
    "text_bigram_interp_logprob",
    oracle=r"""
    WITH doc AS (
      SELECT doc_id, source,
             list_filter(regexp_split_to_array(lower(trim(text)), '\s+'),
                         x -> x <> '') AS ws
      FROM documents
    ), tok AS (
      SELECT unnest(ws) AS token FROM doc
    ), vocab AS (
      SELECT token, COUNT(*) AS n FROM tok GROUP BY token
    ), tot AS (
      SELECT CAST(SUM(n) AS DOUBLE) AS t FROM vocab
    ), occ AS (
      SELECT doc_id, source,
             unnest(list_slice(ws, 1, len(ws) - 1)) AS prev,
             unnest(list_slice(ws, 2, len(ws))) AS w
      FROM doc WHERE len(ws) >= 2
    ), bigc AS (
      SELECT prev, w, COUNT(*) AS nb FROM occ GROUP BY prev, w
    ), lp2 AS (
      SELECT b.prev, b.w,
             CAST(ROUND(LN(0.75 * (CAST(b.nb AS DOUBLE) / vp.n)
                           + 0.25 * (CAST(vw.n AS DOUBLE) / tot.t)), 6)
                  AS DECIMAL(18,6)) AS lp
      FROM bigc b
      JOIN vocab vp ON b.prev = vp.token
      JOIN vocab vw ON b.w = vw.token
      CROSS JOIN tot
    ), per_doc AS (
      SELECT o.doc_id, o.source, COUNT(*) AS nbig, SUM(l.lp) AS sumdec
      FROM occ o JOIN lp2 l ON o.prev = l.prev AND o.w = l.w
      GROUP BY o.doc_id, o.source
    )
    SELECT source,
           COUNT(*) AS n_docs,
           CAST(SUM(nbig) AS BIGINT) AS total_bigrams,
           CAST(SUM(sumdec) AS DOUBLE) AS sum_logprob,
           ROUND(MIN(CAST(sumdec AS DOUBLE) / nbig), 6) AS min_doc_logprob,
           ROUND(MAX(CAST(sumdec AS DOUBLE) / nbig), 6) AS max_doc_logprob
    FROM per_doc GROUP BY source ORDER BY source
    """,
    tags=("TEXT", "QUALITY", "J1"),
)
def text_bigram_interp_logprob(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Interpolated bigram language-model scoring — one order up from
    text_unigram_logprob toward the KenLM-style n-gram perplexity
    filters the production corpus funnels run: p(w|prev) =
    0.75 * C(prev,w)/C(prev) + 0.25 * C(w)/T, mean log-prob per doc,
    rolled up per source. Bigrams come straight from the token array
    (arrays_zip of two shifted slices — no positional self-join, no
    extra shuffle); docs with <2 tokens drop identically on both
    engines.

    Determinism contract: the probability and its ln are evaluated
    once per DISTINCT bigram with the identical association in both
    engines, rounded to 6 dp, cast to DECIMAL(18,6) BEFORE any
    aggregation — every downstream sum is exact decimal arithmetic.

    Scale shape: the exploded bigram stream (the expensive regex
    tokenize + zip + explode) is checkpointed ONCE and feeds both the
    bigram counts and the per-doc scoring join — the
    pipe_classifier_filter precedent (expensive projections persist;
    cheap raw-column projections re-scan). The log-prob table joins
    its unigram marginals and rides an explicit broadcast hint back
    onto the occurrence stream; the hint is a deliberate knob sized
    for a count-floored bigram vocab — if the table outgrows the
    broadcast limit, DROP the hint and the join becomes a
    hash-partitioned equi-join on the bigram key (it does not degrade
    automatically; Spark honors explicit hints unconditionally)."""
    from pyspark.sql.functions import broadcast

    d = load_table(spark, sf_dir, "documents")
    occ, bigc, _ = _lm_occurrences(spark, d, ["prev", "w"], "nb")
    # Vocab (unigram counts over every token). In the scratch arm it
    # comes from a 1-gram pass of ngram_stream, the tokenizer of the
    # occurrence stream there, so a JVM-vs-Python lowercasing
    # divergence cannot silently drop bigrams from the lp2 inner join.
    # Below the scratch bound the JVM explode stays: an Arrow vocab
    # measured 2.57 vs 2.22 s at sf0.1 (lost 8 of 8 pairs).
    if _scan_bytes(d) > _LM_DISK_CKPT_MIN_BYTES:
        tok = ngram_stream(d, "text", 1, [], names=["token"])
    else:
        tok = d.select(F.explode(tokens(F.lower(F.col("text")))).alias("token"))
    vocab = (
        tok.groupBy("token").agg(F.count("*").alias("n")).localCheckpoint()
    )
    tot = vocab.agg(F.sum("n").cast("double").alias("t"))
    lp2 = (
        bigc.join(vocab.selectExpr("token AS prev", "n AS np"), "prev")
        .join(vocab.selectExpr("token AS w", "n AS nw"), "w")
        .crossJoin(broadcast(tot))
        .select(
            "prev",
            "w",
            F.round(
                F.log(
                    F.lit(0.75) * (F.col("nb").cast("double") / F.col("np"))
                    + F.lit(0.25) * (F.col("nw").cast("double") / F.col("t"))
                ),
                6,
            )
            .cast("decimal(18,6)")
            .alias("lp"),
        )
    )
    per_doc = (
        occ.join(lp2.hint("shuffle_hash"), ["prev", "w"])
        .groupBy("doc_id", "source")
        .agg(F.count("*").alias("nbig"), F.sum("lp").alias("sumdec"))
    )
    mean = F.col("sumdec").cast("double") / F.col("nbig")
    return (
        per_doc.groupBy("source")
        .agg(
            F.count("*").alias("n_docs"),
            F.sum("nbig").cast("long").alias("total_bigrams"),
            F.sum("sumdec").cast("double").alias("sum_logprob"),
            F.round(F.min(mean), 6).alias("min_doc_logprob"),
            F.round(F.max(mean), 6).alias("max_doc_logprob"),
        )
        .orderBy("source")
    )


@register(
    "text_trigram_backoff_logprob",
    oracle=r"""
    WITH doc AS (
      SELECT doc_id, source,
             list_filter(regexp_split_to_array(lower(trim(text)), '\s+'),
                         x -> x <> '') AS ws
      FROM documents
    ), occ AS (
      SELECT doc_id, source,
             unnest(list_slice(ws, 1, len(ws) - 2)) AS u,
             unnest(list_slice(ws, 2, len(ws) - 1)) AS v,
             unnest(list_slice(ws, 3, len(ws))) AS w
      FROM doc WHERE len(ws) >= 3
    ), tri AS (
      SELECT u, v, w, COUNT(*) AS c3 FROM occ GROUP BY u, v, w
    ), pre AS (
      SELECT u, v, COUNT(*) AS cpre FROM occ GROUP BY u, v
    ), suf AS (
      SELECT v, w, COUNT(*) AS csuf FROM occ GROUP BY v, w
    ), mid AS (
      SELECT v, COUNT(*) AS cmid FROM occ GROUP BY v
    ), lastc AS (
      SELECT w, COUNT(*) AS clast FROM occ GROUP BY w
    ), tot AS (
      SELECT CAST(COUNT(*) AS DOUBLE) AS tt FROM occ
    ), lp AS (
      SELECT t.u, t.v, t.w,
             CAST(ROUND(LN(CASE
               WHEN t.c3 >= 2 THEN CAST(t.c3 AS DOUBLE) / p.cpre
               WHEN s.csuf >= 2 THEN 0.4 * (CAST(s.csuf AS DOUBLE) / m.cmid)
               ELSE 0.16 * (CAST(l.clast AS DOUBLE) / tot.tt) END), 6)
               AS DECIMAL(18,6)) AS lp
      FROM tri t
      JOIN pre p USING (u, v)
      JOIN suf s USING (v, w)
      JOIN mid m USING (v)
      JOIN lastc l USING (w)
      CROSS JOIN tot
    ), per_doc AS (
      SELECT o.doc_id, o.source, COUNT(*) AS ntri, SUM(l.lp) AS sumdec
      FROM occ o
      JOIN lp l ON o.u = l.u AND o.v = l.v AND o.w = l.w
      GROUP BY o.doc_id, o.source
    )
    SELECT source,
           COUNT(*) AS n_docs,
           CAST(SUM(ntri) AS BIGINT) AS total_trigrams,
           CAST(SUM(sumdec) AS DOUBLE) AS sum_logprob,
           ROUND(MIN(CAST(sumdec AS DOUBLE) / ntri), 6) AS min_doc_logprob,
           ROUND(MAX(CAST(sumdec AS DOUBLE) / ntri), 6) AS max_doc_logprob
    FROM per_doc GROUP BY source ORDER BY source
    """,
    tags=("TEXT", "QUALITY", "J1", "ITER"),
)
def text_trigram_backoff_logprob(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Trigram stupid-backoff language-model scoring (Brants et al.
    2007, EMNLP — 'Large Language Models in Machine Translation') —
    one order up from text_bigram_interp_logprob, the KenLM-style
    perplexity filter at its standard order. Counts are pruned at 2
    (the usual LM min-count), which is what makes backoff REAL on a
    training corpus (every observed trigram trivially has c3 >= 1):
    singleton trigrams fall back to the (v,w) bigram level at
    alpha=0.4, singleton bigrams to the unigram level at alpha^2.
    All five count tables (trigram, prefix, suffix, middle, last)
    derive from ONE checkpointed trigram stream, so the LM is
    self-consistent by construction. Mean log-prob per doc, rolled up
    per source, exactly like the lower orders.

    Determinism contract (the bigram precedent): the backoff score
    and its ln are evaluated once per DISTINCT trigram with identical
    association in both engines, rounded to 6 dp, cast to
    DECIMAL(18,6) BEFORE any aggregation.

    Scale shape: trigrams come from zipped slices (no positional
    self-join); the expensive tokenize+zip+explode is checkpointed
    once and feeds all five count aggregations AND the per-doc
    scoring join (_lm_occurrences; its ngram_stream picks the
    expression or Arrow arm by scan size). The LM tables carry NO
    broadcast hints: they are vocab-sized — they grow with the corpus
    — and Spark honors hints unconditionally, so the hinted form
    forced a 2 GB+ broadcast at the 100x probe (BASELINE.md).
    AQE picks broadcast while a table is actually small and a
    hash-partitioned equi-join on the n-gram key beyond — the same
    fuzzy-ER precedent."""
    from pyspark.sql.functions import broadcast

    d = load_table(spark, sf_dir, "documents")
    occ, tri, low = _lm_occurrences(
        spark,
        d,
        ["u", "v", "w"],
        "c3",
        {"cpre": ["u", "v"], "csuf": ["v", "w"], "cmid": ["v"], "clast": ["w"],
         "tt": []},
    )
    pre, suf, mid, lastc = low["cpre"], low["csuf"], low["cmid"], low["clast"]
    tot = low["tt"].select(F.col("tt").cast("double").alias("tt"))
    s = (
        F.when(
            F.col("c3") >= 2, F.col("c3").cast("double") / F.col("cpre")
        )
        .when(
            F.col("csuf") >= 2,
            F.lit(0.4) * (F.col("csuf").cast("double") / F.col("cmid")),
        )
        .otherwise(
            F.lit(0.16) * (F.col("clast").cast("double") / F.col("tt"))
        )
    )
    lp = (
        tri.join(pre, ["u", "v"])
        .join(suf, ["v", "w"])
        .join(mid, "v")
        .join(lastc, "w")
        .crossJoin(broadcast(tot))
        .select(
            "u",
            "v",
            "w",
            F.round(F.log(s), 6).cast("decimal(18,6)").alias("lp"),
        )
    )
    per_doc = (
        occ.join(lp.hint("shuffle_hash"), ["u", "v", "w"])
        .groupBy("doc_id", "source")
        .agg(F.count("*").alias("ntri"), F.sum("lp").alias("sumdec"))
    )
    mean = F.col("sumdec").cast("double") / F.col("ntri")
    return (
        per_doc.groupBy("source")
        .agg(
            F.count("*").alias("n_docs"),
            F.sum("ntri").cast("long").alias("total_trigrams"),
            F.sum("sumdec").cast("double").alias("sum_logprob"),
            F.round(F.min(mean), 6).alias("min_doc_logprob"),
            F.round(F.max(mean), 6).alias("max_doc_logprob"),
        )
        .orderBy("source")
    )


# Above this many scan bytes of documents parquet, the LM queries
# switch to their scale arm: occurrence/count intermediates go to
# parquet scratch instead of checkpoint blocks, and the trigram
# lower-order tables derive from tri. The occurrence stream is ~150x
# the compressed scan bytes in row form (text parquet compresses
# ~10x; each token position becomes a row), so EVERY RDD-block
# residency for it dies at the 1000x probe (665 MB scan, 48 g heap:
# MEMORY_AND_DISK starved the agg pool [AGGREGATE_OUT_OF_MEMORY],
# DISK_ONLY then OOM'd raw heap on per-row Java deserialization
# churn, Kryo likewise on per-row object construction) while parquet
# scratch reads back vectorized and column-pruned with zero per-row
# objects. The boundary sits between the two measured points: the
# 100x probe (67 MB scan, ~2.6 GB expanded) completes on the 8 g
# default heap with plain in-memory checkpoint blocks and is FASTER
# that way (no write barrier); 1000x (665 MB, ~100 GB expanded) needs
# the scratch arm at any heap this box can offer. sf0.1 (594 KB)
# keeps in-memory blocks and measured +0.4 s under the disk arm.
_LM_DISK_CKPT_MIN_BYTES = 128 << 20


def _lm_occurrences(spark, d, names, count_col, lower=None):
    """The LM queries' n-gram occurrence stream over documents ``d``
    and its count tables. Returns ``(occ, counts, lower_counts)``:

    * ``occ`` — the materialized ngram_stream ``(doc_id, source,
      *names)``, one row per n-gram occurrence; it feeds the count
      tables AND the per-doc scoring join;
    * ``counts`` — occurrences per distinct n-gram, ``(*names,
      count_col)``;
    * ``lower_counts`` — for each ``alias: cols`` of ``lower``, the
      occurrences per distinct ``cols`` (a subset of ``names``) as
      ``(*cols, alias)``; ``[]`` gives the one-row total.

    At or below ``_LM_DISK_CKPT_MIN_BYTES`` of scan input ``occ`` is a
    localCheckpoint and every table counts it. Above, ``occ`` is
    parquet scratch (:func:`_lm_occ_scratch`), and when lower orders
    are asked for ``counts`` is parquet scratch too and each lower
    order sums it — exact int64 partial sums, value-identical by
    construction. At the 1000x probe that is the difference between
    completing and OOM: counting every order from occ reads the
    ~100 GB stream seven times, up to five agg stages concurrently,
    and the raw-heap deserialization churn killed a 48 g heap
    (GCLocker thrash). Here occ is read twice (counts + scoring
    join); counts is scratch because on the word-perturbed probe
    corpus the trigram vocabulary is nearly occurrence-sized, so an
    RDD-block checkpoint of it re-imports the per-row churn
    (UnsafeRow.readExternal OOM).
    Below the bound the derived shape MEASURED SLOWER (63.4 -> 79.2 s
    at the 100x probe: a near-occurrence-sized tri vocab means the
    extra exchange collapses nothing, OPTIMIZATION_r12.md)."""
    lower = lower or {}
    src = ngram_stream(d, "text", len(names), ["doc_id", "source"], names=names)
    scale = _scan_bytes(d) > _LM_DISK_CKPT_MIN_BYTES
    occ = _lm_occ_scratch(spark, src, "occ") if scale else src.localCheckpoint()
    counts = occ.groupBy(*names).agg(F.count("*").alias(count_col))
    if not (scale and lower):
        return occ, counts, {
            alias: occ.groupBy(*cols).agg(F.count("*").alias(alias))
            for alias, cols in lower.items()
        }
    counts = _lm_occ_scratch(spark, counts, "counts")
    # coalesce: SUM over an empty table is NULL where COUNT is 0
    return occ, counts, {
        alias: counts.groupBy(*cols).agg(
            F.coalesce(F.sum(count_col), F.lit(0)).alias(alias)
        )
        for alias, cols in lower.items()
    }


def _lm_occ_scratch(spark, occ_src, name: str):
    """Materialize a corpus-scale LM occurrence stream as PARQUET
    scratch (written fresh on EVERY build — nothing is memoized, each
    bench/oracle invocation recomputes and rewrites from the inputs).

    Each build gets its OWN path (monotonic counter suffix, round-13
    ADVICE fix): the queries() contract hands builders to an external
    driver, and two builds of the same query in one application (a
    second sf_dir, a retry, a thread) must not overwrite the scratch a
    previously returned, not-yet-collected DataFrame still points at.
    Paths keep the applicationId prefix and are best-effort deleted at
    interpreter exit (atexit) so repeated app runs do not accumulate
    multi-GB scratch under the temp dir.

    Exists because a localCheckpoint of this stream CANNOT carry the
    1000x probe regardless of storage level: RDD block ser/deser is
    per-row object churn (Java serialization stack-allocates an
    ObjectStreamClass graph per element; Kryo still constructs one
    UnsafeRow object per element), and 2.6B rows x several consumer
    stages of that churn OOMs a 48 g heap outright (measured r12 —
    MEMORY_AND_DISK starved the agg pool, DISK_ONLY then died in
    raw-heap GC thrash, Kryo likewise). Parquet scratch is the
    columnar fix: vectorized batched reads, zero per-row objects, and
    each consumer prunes to the columns it needs (the count tables
    read 1-3 of 5 columns)."""
    import tempfile

    seq = next(_LM_SCRATCH_SEQ)
    path = os.path.join(
        tempfile.gettempdir(),
        f"appeals_lm_scratch_{name}_{spark.sparkContext.applicationId}_{seq}",
    )
    occ_src.write.mode("overwrite").parquet(path)
    _LM_SCRATCH_PATHS.append(path)
    return spark.read.parquet(path)


_LM_SCRATCH_SEQ = __import__("itertools").count()
_LM_SCRATCH_PATHS: list[str] = []


def _lm_scratch_cleanup() -> None:
    import shutil

    for p in _LM_SCRATCH_PATHS:
        shutil.rmtree(p, ignore_errors=True)


__import__("atexit").register(_lm_scratch_cleanup)


def _scan_bytes(df):
    """Scan bytes, with unknown mapped to +inf — size dispatch must
    treat 'can't tell' as LARGE (the scale-safe default)."""
    from ..catalog import scan_input_bytes

    n = scan_input_bytes(df)
    return float("inf") if n is None else n


@register(
    "text_kgram_novelty",
    oracle=r"""
    WITH doc AS (
      SELECT doc_id, source, lang,
             list_filter(regexp_split_to_array(lower(trim(text)), '\s+'),
                         x -> x <> '') AS ws
      FROM documents
    ), occ AS (
      SELECT doc_id, source, lang,
             unnest(list_slice(ws, 1, len(ws) - 4)) AS w1,
             unnest(list_slice(ws, 2, len(ws) - 3)) AS w2,
             unnest(list_slice(ws, 3, len(ws) - 2)) AS w3,
             unnest(list_slice(ws, 4, len(ws) - 1)) AS w4,
             unnest(list_slice(ws, 5, len(ws))) AS w5
      FROM doc WHERE len(ws) >= 5
    ), grams AS (
      SELECT DISTINCT doc_id, source, lang,
             w1 || ' ' || w2 || ' ' || w3 || ' ' || w4 || ' ' || w5 AS g
      FROM occ
    ), shared AS (
      SELECT doc_id, source, lang, g,
             COUNT(*) OVER (PARTITION BY g) AS ndocs
      FROM grams
    ), per_doc AS (
      SELECT doc_id, source, lang,
             COUNT(*) AS n_grams,
             SUM(CASE WHEN ndocs >= 2 THEN 1 ELSE 0 END) AS n_shared
      FROM shared GROUP BY 1, 2, 3
    )
    SELECT source, lang,
           CAST(COUNT(*) AS BIGINT) AS n_docs,
           CAST(SUM(n_grams) AS BIGINT) AS total_grams,
           CAST(SUM(n_shared) AS BIGINT) AS shared_grams,
           CAST(SUM(CASE WHEN n_shared * 2 >= n_grams THEN 1 ELSE 0 END)
                AS BIGINT) AS memorized_docs
    FROM per_doc
    GROUP BY source, lang ORDER BY source, lang
    """,
    tags=("TEXT", "DEDUP", "QUALITY"),
)
def text_kgram_novelty(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Per-document k-gram novelty / memorization audit (the metric
    behind Lee et al. 2022, 'Deduplicating Training Data Makes
    Language Models Better'): for every document, how many of its
    DISTINCT word 5-grams also occur in at least one OTHER document —
    rolled up per (source, lang) with a 'memorized' flag for docs
    whose shared fraction reaches 1/2 (integer cross-multiplication,
    no float). The per-source shared-gram mass is the signal a
    curation pipeline uses to decide which source needs aggressive
    dedup before training.

    Scale shape (the skew-safe one): explode distinct per-doc 5-grams
    (one pass, whole-stage codegen), groupBy(gram) count with map-side
    combine, keep only grams with ndocs >= 2 (a small fraction of the
    gram vocabulary), LEFT join the gram stream back against that dup
    set — the stream's exchange on `g` is shared between the count agg
    and the join probe (AQE stage reuse), so the corpus text is
    shuffled ONCE, and no per-gram window sort ever materializes a
    hot-gram partition (a million-doc boilerplate gram costs one
    combined count row, not a million-row sort group). Per-doc and
    per-source aggs are map-combinable integer counts — exact.

    The gram stream is :func:`ngram_stream` (expression arm on small
    corpora, Arrow pass at scale — the HOF transform's interpreted
    per-gram concat was ~18s x 2 consumers of the 30s sf10 runtime and
    the superlinear tail of the 472s sf100 probe, while the Arrow pass
    is ~10s and partition-parallel). A DISK_ONLY persist of the stream
    was tried and rejected: the columnar cache build stacks on the
    same stage as the dup partial agg and 32 Arrow workers, and the
    combination OOMs the 8g probe heap at sf100."""
    d = load_table(spark, sf_dir, "documents")
    grams = ngram_stream(
        d, "text", 5, ["doc_id", "source", "lang"], distinct=True
    )
    dup = (
        grams.groupBy("g")
        .agg(F.count("*").alias("ndocs"))
        .filter(F.col("ndocs") >= 2)
        .select("g", F.lit(1).alias("dup"))
    )
    # shuffle_hash, not broadcast: the dup-gram table grows with the
    # corpus (every boilerplate/near-dup gram lands in it), and
    # agg-derived estimates are unreliable either way — the round-8
    # planner-estimate lesson (BASELINE.md). Per-partition hash build
    # is bounded at any corpus size and keeps the exchange on `g`
    # shared with the count agg.
    per_doc = (
        grams.join(dup.hint("shuffle_hash"), "g", "left")
        .groupBy("doc_id", "source", "lang")
        .agg(
            F.count("*").alias("n_grams"),
            F.sum(F.coalesce(F.col("dup"), F.lit(0))).alias("n_shared"),
        )
    )
    return (
        per_doc.groupBy("source", "lang")
        .agg(
            F.count("*").cast("long").alias("n_docs"),
            F.sum("n_grams").cast("long").alias("total_grams"),
            F.sum("n_shared").cast("long").alias("shared_grams"),
            F.sum(
                (F.col("n_shared") * 2 >= F.col("n_grams")).cast("int")
            ).cast("long").alias("memorized_docs"),
        )
        .orderBy("source", "lang")
    )


def _cdc_chain_sql(w: int = 8, div: int = 64) -> str:
    """Shared SQL twin of functions.text.cdc_chunks up through the
    per-chunk ``ch`` CTE (doc_id, source, clen, h): the identical
    base-31 w-gram hash (winnowing oracle idiom), cut positions
    collected per doc, spans rebuilt by list indexing. Both CDC
    oracles (per-source rollup, cross-source matrix) splice this
    verbatim so the chunking definition cannot drift between them."""
    from ..operators.dedup import sql_portable_hash48

    gram = " + ".join(
        f"{31**j}::BIGINT * ord(substr(t, p + {j}, 1))" for j in range(w)
    )
    h_sql = sql_portable_hash48("substr(t, s + 1, e - s)", "cdc")
    return f"""
    d AS (
      SELECT doc_id, source,
             regexp_replace(lower(trim(text)), '\\s+', ' ', 'g') AS t
      FROM documents
    ), dn AS (
      SELECT doc_id, source, t, length(t) AS n FROM d WHERE length(t) >= 1
    ), pos AS (
      SELECT doc_id, t, n, UNNEST(generate_series(1, n - {w - 1})) AS p
      FROM dn WHERE n >= {w}
    ), cuts AS (
      SELECT doc_id, list(p + {w - 1} ORDER BY p) AS cs
      FROM (SELECT doc_id, p, n, {gram} AS h FROM pos)
      WHERE h % {div} = 0 AND p + {w - 1} < n
      GROUP BY doc_id
    ), spans AS (
      SELECT dn.doc_id, dn.source, dn.t, dn.n,
             COALESCE(c.cs, []) AS cs
      FROM dn LEFT JOIN cuts c USING (doc_id)
    ), idx AS (
      SELECT doc_id, source, t, n, cs,
             UNNEST(generate_series(1, len(cs) + 1)) AS i
      FROM spans
    ), chunk AS (
      SELECT doc_id, source, t,
             CASE WHEN i = 1 THEN 0 ELSE cs[i - 1] END AS s,
             CASE WHEN i = len(cs) + 1 THEN n ELSE cs[i] END AS e
      FROM idx
    ), ch AS (
      SELECT doc_id, source, e - s AS clen, {h_sql} AS h
      FROM chunk WHERE e > s
    )"""


def _cdc_oracle(w: int = 8, div: int = 64) -> str:
    """Per-source CDC rollup oracle on top of ``_cdc_chain_sql``."""
    avg_sql = sql_ratio_dbl("SUM(CAST(cnt AS BIGINT) * clen)",
                            "SUM(CAST(cnt AS BIGINT))", 6, 4)
    return f"""
    WITH {_cdc_chain_sql(w, div)}, g AS (
      SELECT source, h, clen, COUNT(*) AS cnt
      FROM ch GROUP BY source, h, clen
    ), nd AS (
      SELECT source, COUNT(*) AS n_docs FROM documents GROUP BY source
    )
    SELECT g.source,
           ANY_VALUE(nd.n_docs) AS n_docs,
           CAST(SUM(cnt) AS BIGINT) AS n_chunks,
           CAST(COUNT(*) AS BIGINT) AS n_distinct_chunks,
           CAST(SUM(CASE WHEN cnt > 1 THEN 1 ELSE 0 END) AS BIGINT)
             AS n_dup_chunks,
           {avg_sql} AS avg_chunk_len,
           CAST(SUM((cnt - 1) * clen) AS BIGINT) AS saved_chars
    FROM g JOIN nd USING (source)
    GROUP BY g.source ORDER BY g.source
    """


@register(
    "text_cdc_chunks",
    oracle=None,  # bound below
    tags=("TEXT", "CDC", "DEDUP", "FP"),
)
def text_cdc_chunks(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Content-defined chunking report — the storage-dedup primitive
    (FastCDC family) applied to corpus curation: boundaries are cut
    where a rolling w-gram hash masks to zero, so chunk identity
    survives insertions/deletions that would shift every fixed-size
    block (the property chunk-level dedup needs; see
    functions.text.cdc_chunks for the parallel-form rationale). The
    per-source rollup is what a curator reads: chunk counts, distinct
    vs duplicated chunk hashes, and saved_chars — the exact character
    mass chunk-level dedup would reclaim.

    Scale shape (round-12): ONE Arrow mapInPandas chunking pass
    (functions.text.cdc_chunk_stream — numpy rolling hash + hashlib
    chunk hashes, source carried along so the doc_id join disappears),
    then two hash-sized rollups — no shuffle before the first groupBy,
    no pair joins anywhere; dedup accounting is recovered from
    per-(hash, len) multiplicities, the multiplicity-weight discipline
    of the mm_* family. The previous expression form (cdc_chunks: a
    localCheckpoint barrier, per-char interpreted transform(ascii), a
    position explode, a groupBy(doc) cut collection and a join back)
    measured 2.14s at sf0.1 vs 1.07s for this shape; the producers are
    bit-equality-gated (test_operators_golden.py::
    test_cdc_chunk_stream_matches_expression_spec), so only the plan
    changed, never a value. avg_chunk_len goes through ratio_dbl
    (exact half-up integer division), never ROUND(double)."""
    d = load_table(spark, sf_dir, "documents")
    g = (
        cdc_chunk_stream(d, "text", "doc_id", ["source"], w=8, div=64)
        .groupBy("source", "h", "chunk_len")
        .agg(F.count("*").alias("cnt"))
    )
    nd = d.groupBy("source").agg(F.count("*").alias("n_docs"))
    return (
        g.groupBy("source")
        .agg(
            F.sum("cnt").cast("long").alias("n_chunks"),
            F.count("*").cast("long").alias("n_distinct_chunks"),
            F.sum((F.col("cnt") > 1).cast("int")).cast("long").alias("n_dup_chunks"),
            ratio_dbl(
                F.sum(F.col("cnt") * F.col("chunk_len")),
                F.sum("cnt"),
                6,
                4,
            ).alias("avg_chunk_len"),
            F.sum((F.col("cnt") - 1) * F.col("chunk_len"))
            .cast("long")
            .alias("saved_chars"),
        )
        .join(nd, "source")
        .select(
            "source", "n_docs", "n_chunks", "n_distinct_chunks",
            "n_dup_chunks", "avg_chunk_len", "saved_chars",
        )
        .orderBy("source")
    )


from ..registry import REGISTRY as _REG  # noqa: E402

_REG["text_cdc_chunks"].oracle = materialize_ctes(_cdc_oracle())


def _cdc_cross_oracle(w: int = 8, div: int = 64) -> str:
    """Cross-source chunk-containment oracle: distinct (source, h)
    presence, self-joined on h with source_a < source_b."""
    share_sql = sql_ratio_dbl("COUNT(*)",
                              "ANY_VALUE(LEAST(na.n, nb.n))", 6, 2)
    return f"""
    WITH {_cdc_chain_sql(w, div)}, sh AS (
      SELECT DISTINCT source, h, clen FROM ch
    ), ns AS (
      SELECT source, COUNT(*) AS n FROM sh GROUP BY source
    ), pairs AS (
      SELECT a.source AS source_a, b.source AS source_b,
             a.h, a.clen
      FROM sh a JOIN sh b ON a.h = b.h AND a.source < b.source
    )
    SELECT p.source_a, p.source_b,
           CAST(COUNT(*) AS BIGINT) AS n_shared_chunks,
           CAST(SUM(p.clen) AS BIGINT) AS shared_chars,
           {share_sql} AS containment
    FROM pairs p
    JOIN ns na ON na.source = p.source_a
    JOIN ns nb ON nb.source = p.source_b
    GROUP BY p.source_a, p.source_b
    ORDER BY p.source_a, p.source_b
    """


@register(
    "text_cdc_cross_source",
    oracle=None,  # bound below
    tags=("TEXT", "CDC", "DEDUP", "LINEAGE"),
)
def text_cdc_cross_source(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Cross-source content-lineage matrix over CDC chunks: which
    corpus sources share verbatim content, measured at chunk
    granularity (the view a curator reads to catch mirror sites,
    syndication, and benchmark bleed BETWEEN collections — the
    within-source view is text_cdc_chunks). containment = shared
    distinct chunks over the SMALLER side's distinct-chunk count
    (exact half-up ratio_dec), so a small source fully embedded in a
    large one reads as ~1 rather than being diluted.

    Scale shape: everything after the one corpus chunking pass is
    distinct-(source, hash)-sized — the self-join is an equi-join on
    chunk hash over that table (bounded by content diversity, never
    corpus size), the mm_*/banded discipline. No doc-pair enumeration
    anywhere. Round-12: the chunking pass is the Arrow
    cdc_chunk_stream (see text_cdc_chunks — bit-equality-gated; 1.82s
    -> 1.15s at sf0.1), with source carried through the pass so the
    doc_id join is gone."""
    d = load_table(spark, sf_dir, "documents")
    chunks = cdc_chunk_stream(d, "text", "doc_id", ["source"], w=8, div=64)
    # distinct-(source, hash) presence is hash-sized — checkpoint it so
    # the self-join's two sides don't each re-run the corpus chunking
    # pass (unchecked, the plan showed six document scans)
    sh = (
        chunks.select("source", "h", "chunk_len")
        .distinct()
        .localCheckpoint()
    )
    ns = sh.groupBy("source").agg(F.count("*").alias("n"))
    a = sh.select(
        F.col("source").alias("source_a"), "h", F.col("chunk_len").alias("clen")
    )
    b = sh.select(F.col("source").alias("source_b"), "h")
    pairs = a.join(b, "h").filter(F.col("source_a") < F.col("source_b"))
    return (
        pairs.groupBy("source_a", "source_b")
        .agg(
            F.count("*").cast("long").alias("n_shared_chunks"),
            F.sum("clen").cast("long").alias("shared_chars"),
        )
        .join(ns.select(F.col("source").alias("source_a"), F.col("n").alias("na")), "source_a")
        .join(ns.select(F.col("source").alias("source_b"), F.col("n").alias("nb")), "source_b")
        .select(
            "source_a",
            "source_b",
            "n_shared_chunks",
            "shared_chars",
            ratio_dbl(
                F.col("n_shared_chunks"), F.least("na", "nb"), 6, 2
            ).alias("containment"),
        )
        .orderBy("source_a", "source_b")
    )


_REG["text_cdc_cross_source"].oracle = materialize_ctes(_cdc_cross_oracle())


# The OLS ratios must be the IDENTICAL double expression in both
# engines: every operand casts decimal->double FIRST (correctly
# rounded, identical bits), THEN multiplies/subtracts in doubles.
# Spark decimal products here would precision-overflow and round at
# scale 6 while DuckDB keeps scale 12 — the exact cross-engine class
# the round-9 pins eliminate (caught by this round's code review).
_ZIPF_SLOPE = (
    "(CAST(v AS DOUBLE) * CAST(sxy AS DOUBLE)"
    " - CAST(sx AS DOUBLE) * CAST(sy AS DOUBLE))"
    " / (CAST(v AS DOUBLE) * CAST(sxx AS DOUBLE)"
    " - CAST(sx AS DOUBLE) * CAST(sx AS DOUBLE))"
)


def _zipf_oracle(v_cap: int = 100) -> str:
    from ..functions.scalars import sql_pin_dbl as _spdb
    from ..functions.scalars import sql_pin_dec as _spd

    x = _spd("LN(r)")
    y = _spd("LN(n)")
    return f"""
    WITH tok AS (
      SELECT source,
             unnest(list_filter(regexp_split_to_array(lower(trim(text)), '\\s+'),
                                t -> t <> '')) AS token
      FROM documents
    ), vocab AS (
      SELECT source, token, COUNT(*) AS n FROM tok GROUP BY source, token
    ), ranked AS (
      SELECT source, n,
             ROW_NUMBER() OVER (PARTITION BY source
                                ORDER BY n DESC, token) AS r
      FROM vocab
    ), pts AS (
      SELECT source, {x} AS x, {y} AS y
      FROM ranked WHERE r <= {v_cap}
    ), s AS (
      SELECT source, CAST(COUNT(*) AS BIGINT) AS v,
             SUM(x) AS sx, SUM(y) AS sy,
             SUM(x * y) AS sxy, SUM(x * x) AS sxx
      FROM pts GROUP BY source
    )
    SELECT source, v AS n_ranks,
           {_spdb(_ZIPF_SLOPE)} AS zipf_slope,
           {_spdb(f"(CAST(sy AS DOUBLE) - ({_ZIPF_SLOPE})"
                  " * CAST(sx AS DOUBLE)) / CAST(v AS DOUBLE)")}
             AS log_intercept
    FROM s ORDER BY source
    """


@register(
    "text_zipf_fit",
    oracle=None,  # bound below
    tags=("TEXT", "X3", "QUALITY"),
)
def text_zipf_fit(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Zipf-law fit per source — the vocabulary-health diagnostic a
    corpus curator reads before mixing (natural text follows
    freq ∝ rank^-s with s ≈ 1; boilerplate-heavy or templated sources
    flatten or steepen the curve): closed-form OLS of ln(freq) on
    ln(rank) over the top-100 vocabulary ranks of each source.

    Determinism is the full portable-pin discipline: ranks are integer
    with a token tiebreak, both LNs pin through pin_dec (bit-identical
    floor(x·1e6+0.5) both engines), the five OLS sums are exact
    decimal, and the two closed-form ratios are computed with the
    IDENTICAL double expression in both engines before a final pin —
    no unpinned float ever crosses an aggregation. Scale shape: one
    token explode + one (source, token) count (map-side combinable),
    a per-source top-100 rank window over the VOCAB table (vocab-
    sized, not corpus-sized), then 100-row-per-source arithmetic."""
    from ..functions.scalars import pin_dbl, pin_dec
    from pyspark.sql.window import Window

    d = load_table(spark, sf_dir, "documents")
    tok = d.select("source", F.explode(tokens(F.lower(F.trim(F.col("text"))))).alias("token"))
    vocab = tok.groupBy("source", "token").agg(F.count("*").alias("n"))
    w = Window.partitionBy("source").orderBy(F.desc("n"), F.asc("token"))
    pts = (
        vocab.withColumn("r", F.row_number().over(w))
        .filter(F.col("r") <= 100)
        .select(
            "source",
            pin_dec(F.log(F.col("r"))).alias("x"),
            pin_dec(F.log(F.col("n"))).alias("y"),
        )
    )
    s = pts.groupBy("source").agg(
        F.count("*").cast("long").alias("v"),
        F.sum("x").alias("sx"),
        F.sum("y").alias("sy"),
        F.sum(F.col("x") * F.col("y")).alias("sxy"),
        F.sum(F.col("x") * F.col("x")).alias("sxx"),
    )
    # cast decimal->double FIRST so both engines run the identical
    # IEEE expression (see _ZIPF_SLOPE comment)
    v_d = F.col("v").cast("double")
    sx_d = F.col("sx").cast("double")
    sy_d = F.col("sy").cast("double")
    sxy_d = F.col("sxy").cast("double")
    sxx_d = F.col("sxx").cast("double")
    slope = (v_d * sxy_d - sx_d * sy_d) / (v_d * sxx_d - sx_d * sx_d)
    intercept = (sy_d - slope * sx_d) / v_d
    return s.select(
        "source",
        F.col("v").alias("n_ranks"),
        pin_dbl(slope).alias("zipf_slope"),
        pin_dbl(intercept).alias("log_intercept"),
    ).orderBy("source")


_REG["text_zipf_fit"].oracle = _zipf_oracle()
