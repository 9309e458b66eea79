"""Deduplication queries over the documents corpus (training-data ops).

Exact + n-gram Jaccard carry full DuckDB oracles. The xxhash64
MinHash-LSH / SimHash fast paths are registered rows-only (xxhash64 has
no DuckDB twin) with golden unit tests; their *_portable twins run the
identical pipeline structure on the md5-derived 48-bit hash family
(operators.dedup.portable_hash48), which DuckDB reproduces exactly —
so signature, banding, candidate generation, and verification are
fully differentially checked.
"""

from __future__ import annotations

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F

from ..catalog import load_table
from ..operators.dedup import (
    hamming64,
    jaccard,
    minhash_band_pairs,
    normalized_text,
)
from ..registry import register


@register(
    "dedup_exact_summary",
    oracle="""
    WITH norm AS (
      SELECT source, regexp_replace(lower(trim(text)), '\\s+', ' ', 'g') AS norm_text
      FROM documents
    )
    SELECT source,
           COUNT(*) AS n_docs,
           COUNT(DISTINCT norm_text) AS n_distinct,
           COUNT(*) - COUNT(DISTINCT norm_text) AS n_redundant
    FROM norm
    GROUP BY source
    ORDER BY source
    """,
    tags=("DEDUP", "A3"),
)
def dedup_exact_summary(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Exact-duplicate audit per source: distinct normalized texts vs
    total. Spark side distincts on xxhash64(norm) — one 8-byte shuffle
    key instead of full text movement; identical counts barring a
    2^-64 collision."""
    d = load_table(spark, sf_dir, "documents")
    h = F.xxhash64(normalized_text("text"))
    return (
        d.select("source", h.alias("th"))
        .groupBy("source")
        .agg(
            F.count("*").alias("n_docs"),
            F.countDistinct("th").alias("n_distinct"),
            (F.count("*") - F.countDistinct("th")).alias("n_redundant"),
        )
        .orderBy("source")
    )


@register(
    "dedup_substring_coverage",
    oracle=r"""
    WITH t AS (
      SELECT doc_id, source,
             list_filter(regexp_split_to_array(lower(trim(text)), '\s+'),
                         x -> x <> '') AS toks
      FROM documents
    ), g AS (
      SELECT doc_id, source,
             UNNEST(list_transform(range(len(toks) - 4),
                                   i -> array_to_string(toks[i + 1:i + 5], ' ')))
               AS gram
      FROM t WHERE len(toks) >= 5
    ), docgram AS (
      SELECT doc_id, source, gram, COUNT(*) AS occ
      FROM g GROUP BY doc_id, source, gram
    ), flagged AS (
      SELECT doc_id, source, occ,
             COUNT(*) OVER (PARTITION BY gram) AS ndocs
      FROM docgram
    ), cov AS (
      SELECT doc_id, source,
             SUM(occ) AS n_grams,
             SUM(CASE WHEN ndocs >= 2 THEN occ ELSE 0 END) AS n_dup
      FROM flagged GROUP BY doc_id, source
    )
    SELECT source,
           COUNT(*) AS n_docs,
           CAST(SUM(n_grams) AS BIGINT) AS total_grams,
           CAST(SUM(n_dup) AS BIGINT) AS dup_gram_occurrences,
           CAST(SUM(CASE WHEN 2 * n_dup >= n_grams THEN 1 ELSE 0 END) AS BIGINT)
             AS n_docs_half_dup
    FROM cov GROUP BY source ORDER BY source
    """,
    tags=("DEDUP", "TEXT"),
)
def dedup_substring_coverage(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Exact-substring duplication coverage (Lee et al. 2022,
    "Deduplicating Training Data Makes Language Models Better": a
    span is duplicated if it recurs anywhere else in the corpus).
    Word-5-gram form: a gram occurrence is duplicated when the same
    gram appears in >= 2 distinct documents; per document, the share
    of gram positions covered by corpus-duplicated grams; per source,
    the integer-exact mass (dup_gram_occurrences / total_grams is the
    mean coverage, kept unreduced) and the count of documents at
    least half-covered (2*n_dup >= n_grams — an integer compare, no
    emitted float anywhere).

    Physical shape at 100 TB: explode -> (doc, gram) partial-agg ->
    ONE hash-partition on gram where a window count marks corpus
    duplication without materializing a gram dimension table or a
    join (the suffix-array of the paper is replaced by gram-bucket
    counting — each task sees one gram bucket, the streaming-window
    count is O(bucket)) -> per-doc rollup -> tiny per-source rollup.
    Three shuffles total, all hash-partitioned equi-keys, no join.
    Skew note: a degenerate corpus-stopword gram concentrates its
    bucket; cap with a HAVING occ-floor pre-filter or salt the gram
    key — the synthetic vocab (~40 tokens) is the worst case for this
    and still executes in one task-second."""
    from pyspark.sql.window import Window

    from ..functions.text import ngram_stream

    d = load_table(spark, sf_dir, "documents")
    stream = ngram_stream(d, "text", 5, ["doc_id", "source"]).select(
        "doc_id", "source", F.col("g").alias("gram")
    )
    # One hash-partition on gram serves BOTH the (doc, gram) groupBy
    # (gram ⊆ grouping keys, so the clustered distribution is already
    # satisfied) and the corpus-duplication window below — the explicit
    # repartition replaces two exchanges with one.
    docgram = (
        stream.repartition("gram")
        .groupBy("doc_id", "source", "gram")
        .agg(F.count("*").alias("occ"))
    )
    flagged = docgram.withColumn(
        "ndocs", F.count("*").over(Window.partitionBy("gram"))
    )
    cov = flagged.groupBy("doc_id", "source").agg(
        F.sum("occ").alias("n_grams"),
        F.sum(F.when(F.col("ndocs") >= 2, F.col("occ")).otherwise(0)).alias("n_dup"),
    )
    return (
        cov.groupBy("source")
        .agg(
            F.count("*").alias("n_docs"),
            F.sum("n_grams").alias("total_grams"),
            F.sum("n_dup").alias("dup_gram_occurrences"),
            F.sum(
                F.when(2 * F.col("n_dup") >= F.col("n_grams"), 1).otherwise(0)
            ).alias("n_docs_half_dup"),
        )
        .orderBy("source")
    )


@register(
    "dedup_ngram_jaccard_adjacent",
    oracle="""
    WITH toks AS (
      SELECT doc_id,
             list_distinct(regexp_split_to_array(lower(trim(text)), '\\s+')) AS ws
      FROM documents
    ), pairs AS (
      SELECT a.doc_id AS id_a, b.doc_id AS id_b,
             CAST(len(list_intersect(a.ws, b.ws)) AS DOUBLE)
               / len(list_distinct(list_concat(a.ws, b.ws))) AS jac
      FROM toks a JOIN toks b ON b.doc_id = a.doc_id + 1
    )
    SELECT CAST(FLOOR(jac * 10) AS INT) AS jaccard_decile, COUNT(*) AS n_pairs
    FROM pairs
    GROUP BY 1
    ORDER BY jaccard_decile
    """,
    tags=("DEDUP", "U3"),
)
def dedup_ngram_jaccard_adjacent(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Word-set Jaccard over adjacent doc pairs, bucketed by decile —
    the verification metric of the near-dup pipeline with a full
    oracle. Division is double/int on identical ints — deterministic."""
    d = load_table(spark, sf_dir, "documents")
    toks = d.select(
        "doc_id",
        F.array_distinct(
            F.split(F.lower(F.trim(F.col("text"))), r"\s+")
        ).alias("ws"),
    )
    a, b = toks.alias("a"), toks.alias("b")
    pairs = a.join(b, F.col("b.doc_id") == F.col("a.doc_id") + 1).select(
        jaccard(F.col("a.ws"), F.col("b.ws")).alias("jac")
    )
    return (
        pairs.groupBy(F.floor(F.col("jac") * 10).cast("int").alias("jaccard_decile"))
        .agg(F.count("*").alias("n_pairs"))
        .orderBy("jaccard_decile")
    )


@register(
    "dedup_minhash_lsh",
    oracle=None,  # xxhash64 family has no DuckDB twin; golden-tested in pytest
    tags=("DEDUP", "LSH"),
    bench=True,
)
def dedup_minhash_lsh(spark: SparkSession, sf_dir: str) -> DataFrame:
    """MinHash-LSH near-dup candidates: shingle -> 32-hash signature ->
    8 bands -> bucket equi-join -> distinct pairs, then exact-Jaccard
    verification. Candidate generation is an equi-join on
    (band, band_hash): cost tracks bucket occupancy, never |docs|².

    The signature agg runs WITHOUT collect_set (map-side partials are
    32 longs per doc, not near-full shingle sets); exact verification
    re-shingles only the candidate docs (semi-join on the candidate id
    set — a vanishing fraction of the corpus when the S-curve is doing
    its job). At 100 TB the features frame is the signature table you'd
    materialize once per corpus snapshot.

    Round 13: feats is PERSISTED (the simhash discipline — the band
    self-join broadcasts one side, and a broadcast exchange never
    unifies with a shuffle exchange under AQE reuse, so the unpersisted
    form ran the whole signature aggregation twice), and the candidate
    shingle SETS are persisted (the verify join needs them for both
    pair endpoints, and each alias otherwise re-ran the semi-join +
    re-shingle — a second full corpus scan at 100 TB). Measured
    interleaved at sf0.1: 1.45 -> 1.35 s min, 1.64 -> 1.44 s mean;
    corpus scans 3 -> 2."""
    from ..functions.text import shingles
    from ..operators.dedup import minhash_features, ngram_jaccard_pairs

    d = load_table(spark, sf_dir, "documents")
    feats = minhash_features(
        d, "text", "doc_id", num_hashes=32, bands=8, with_shingles=False
    ).persist()
    cand = minhash_band_pairs(d, "text", "doc_id", features=feats).persist()
    # left_semi is existence-based — no distinct needed on the id list
    cand_ids = cand.select(F.explode(F.array("id_a", "id_b")).alias("doc_id"))
    sets = (
        d.join(cand_ids, "doc_id", "left_semi")
        .select(
            "doc_id", F.array_distinct(shingles("text", 3)).alias("shingle_set")
        )
        .persist()
    )
    verified = ngram_jaccard_pairs(d, "text", "doc_id", cand, threshold=0.0, features=sets)
    return (
        verified.groupBy(
            F.floor(F.col("jaccard") * 10).cast("int").alias("jaccard_decile")
        )
        .agg(F.count("*").alias("n_pairs"))
        .orderBy("jaccard_decile")
    )


@register(
    "dedup_simhash_hamming",
    oracle=None,  # xxhash64-based; golden-tested in pytest
    tags=("DEDUP", "SIMHASH"),
)
def dedup_simhash_hamming(spark: SparkSession, sf_dir: str) -> DataFrame:
    """SimHash near-dup scan: 64-bit fingerprints, candidates blocked
    on the top-16-bit prefix, scored by Hamming distance. Blocking
    keeps the self-join linear-ish; at 100 TB use 4 rotated prefix
    blocks to guarantee recall at distance <= 3. Fingerprints come from
    the codegen bit-vote aggregation (simhash_fingerprints), not the
    interpreted HOF column form."""
    from ..operators.dedup import simhash_fingerprints

    d = load_table(spark, sf_dir, "documents")
    # persist before the self-join: the broadcast side would otherwise
    # recompute the whole bit-vote aggregation (broadcast vs shuffle
    # exchanges never unify under AQE reuse) — measured ~25% of query
    # time at sf0.01. Same discipline as the minhash candidate pairs.
    fp = (
        simhash_fingerprints(d, "text", "doc_id")
        .withColumn("block", F.shiftrightunsigned("fp", 48))
        .persist()
    )
    a, b = fp.alias("a"), fp.alias("b")
    pairs = a.join(
        b,
        (F.col("a.block") == F.col("b.block"))
        & (F.col("a.doc_id") < F.col("b.doc_id")),
    ).select(
        F.col("a.doc_id").alias("id_a"),
        F.col("b.doc_id").alias("id_b"),
        hamming64(F.col("a.fp"), F.col("b.fp")).alias("hamming"),
    )
    return (
        pairs.groupBy("hamming")
        .agg(F.count("*").alias("n_pairs"))
        .orderBy("hamming")
    )


@register(
    "dedup_embedding_cosine",
    oracle="""
    WITH q AS (
      SELECT vec_id, label, CAST(embedding AS DOUBLE[]) AS v
      FROM embeddings WHERE vec_id < 200
    ), c AS (
      SELECT vec_id, CAST(embedding AS DOUBLE[]) AS v FROM embeddings
    ), pairs AS (
      SELECT q.label, q.vec_id AS id_a, c.vec_id AS id_b
      FROM q JOIN c ON c.vec_id > q.vec_id
      WHERE list_cosine_similarity(q.v, c.v) >= 0.4
    )
    SELECT label, COUNT(*) AS n_near_dups
    FROM pairs GROUP BY label ORDER BY label
    """,
    tags=("DEDUP", "VEC"),
)
def dedup_embedding_cosine(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Embedding-cosine near-dup audit: for a probe slice, count
    corpus vectors above 0.4 cosine (same-cluster near-dups). Probe
    slice broadcast; scoring JVM-side. The full-corpus path swaps the
    probe slice for the LSH/IVF candidate generators — same scorer.
    0.4 sits >=9e-6 from every pair's value on the shipped
    fixtures (measured: 5.6e-4 / 1.3e-4 / 9.9e-6 at sf0.001/0.01/0.1)
    — orders of magnitude above cross-engine float-sum drift, and
    equally far above the ~1e-12 relative shift from pre-normalizing:
    each side is scaled to a unit vector ONCE per row (one norm fold
    per row instead of two per PAIR), so pair scoring is a single dot
    fold — measured 3x fewer HOF ops per candidate at the 100x
    probe."""
    from ..functions.vectors import norm, pair_scores_arrow

    emb = load_table(spark, sf_dir, "embeddings")

    def unit(df, out):
        # two selects so the norm is a materialized COLUMN before the
        # dividing transform — a norm expression captured inside the
        # lambda would re-evaluate the whole fold per element (the
        # shingles() HOF pitfall).
        vd = F.transform(F.col("embedding"), lambda x: x.cast("double"))
        staged = df.withColumn("_v", vd).withColumn("_n", norm(F.col("_v")))
        return staged.withColumn(
            out, F.transform(F.col("_v"), lambda x: x / F.col("_n"))
        ).drop("_v", "_n", "embedding")

    probes = unit(
        emb.filter(F.col("vec_id") < 200).select(
            F.col("vec_id").alias("id_a"), F.col("label"), "embedding"
        ),
        "ua",
    )
    # persist the normalized corpus: without a materialization
    # boundary CollapseProject folds the 3-pass unit projection into
    # the join-side filter and re-evaluates it PER PAIR (measured
    # 5.1 -> 14.0s at sf0.1) — the simhash persist discipline. At
    # 100 TB this is the unit-vector table you materialize once per
    # corpus snapshot anyway.
    corpus = unit(
        emb.select(F.col("vec_id").alias("id_b"), "embedding"), "ub"
    ).persist()
    # The |probes|x|corpus| dot folds score on the Arrow hot path
    # (pair_scores_arrow metric "dot" — bit-equal to the HOF fold, so
    # the >=0.4 cut keeps exactly the same pairs); round 12, the
    # brute_force_topk discipline. Only `label` rides back across the
    # boundary — the groupBy needs nothing else.
    scored = pair_scores_arrow(
        corpus.join(F.broadcast(probes), F.col("id_b") > F.col("id_a")),
        "ua",
        "ub",
        keep=["label"],
        out="_dot",
        metric="dot",
    )
    return (
        scored.filter(F.col("_dot") >= 0.4)
        .groupBy("label")
        .agg(F.count("*").alias("n_near_dups"))
        .orderBy("label")
    )


def _sql_h48(expr: str, salt: str) -> str:
    from ..operators.dedup import sql_portable_hash48

    return sql_portable_hash48(expr, salt)


_MINHASH_PORTABLE_ORACLE = f"""
    WITH docs AS (
      SELECT doc_id,
             list_filter(regexp_split_to_array(trim(text), '\\s+'),
                         x -> x <> '') AS toks
      FROM documents
    ), sh AS (
      SELECT doc_id,
             CASE WHEN len(toks) >= 3
                  THEN list_distinct(list_transform(range(len(toks)-2),
                         i -> toks[i+1] || ' ' || toks[i+2] || ' ' || toks[i+3]))
                  ELSE [''] END AS shset
      FROM docs
    ), ex AS (
      SELECT doc_id, unnest(shset) AS s FROM sh
    ), seeded AS (
      -- NB: two unnests in one SELECT would zip positionally in
      -- DuckDB; the seed expansion must be a cross join.
      SELECT doc_id, s, seed
      FROM ex CROSS JOIN (SELECT unnest(range(16)) AS seed) seeds
    ), hv AS (
      SELECT doc_id, seed, MIN({_sql_h48('s', '')
        .replace("|| '#' || ''", "|| '#' || CAST(seed AS VARCHAR)")}) AS h
      FROM seeded GROUP BY doc_id, seed
    ), sig AS (
      SELECT doc_id, list(CAST(h AS VARCHAR) ORDER BY seed) AS sig
      FROM hv GROUP BY doc_id
    ), banded AS (
      SELECT doc_id, unnest(range(4)) AS band, sig FROM sig
    ), bh AS (
      SELECT doc_id, band,
             {_sql_h48(
                "sig[band*4+1] || ',' || sig[band*4+2] || ',' || "
                "sig[band*4+3] || ',' || sig[band*4+4]", 'b')} AS band_hash
      FROM banded
    ), cand AS (
      SELECT DISTINCT a.doc_id AS id_a, b.doc_id AS id_b
      FROM bh a JOIN bh b
        ON a.band = b.band AND a.band_hash = b.band_hash
       AND a.doc_id < b.doc_id
    ), verified AS (
      SELECT id_a, id_b,
             CASE WHEN len(list_distinct(sa.shset || sb.shset)) = 0 THEN 1.0
                  ELSE CAST(len(list_intersect(sa.shset, sb.shset)) AS DOUBLE)
                       / len(list_distinct(sa.shset || sb.shset)) END AS j
      FROM cand
      JOIN sh sa ON cand.id_a = sa.doc_id
      JOIN sh sb ON cand.id_b = sb.doc_id
    )
    SELECT CAST(FLOOR(j * 10) AS INT) AS jaccard_decile,
           COUNT(*) AS n_pairs
    FROM verified GROUP BY 1 ORDER BY 1
"""


@register(
    "dedup_minhash_portable",
    oracle=_MINHASH_PORTABLE_ORACLE,
    tags=("DEDUP", "LSH"),
)
def dedup_minhash_portable(spark: SparkSession, sf_dir: str) -> DataFrame:
    """The ENTIRE minhash-LSH structure under a full cross-engine
    oracle: same shingle -> signature -> banded candidates -> exact
    Jaccard pipeline as dedup_minhash_lsh, but on the 48-bit
    md5-derived hash family (operators.dedup.portable_hash48) that
    DuckDB reproduces bit-for-bit — signature mins, band bucket
    membership, candidate pair set, and verified-Jaccard histogram all
    differentially checked. 16 hashes x 4 bands; the xxhash64 variant
    stays the production fast path (golden + recall tests). Round 13:
    same persist discipline as the twin (feats + candidate shingle
    sets) — see dedup_minhash_lsh.
    """
    from ..functions.text import shingles
    from ..operators.dedup import (
        minhash_features,
        ngram_jaccard_pairs,
        portable_hash48,
    )

    d = load_table(spark, sf_dir, "documents")
    feats = minhash_features(
        d,
        "text",
        "doc_id",
        num_hashes=16,
        bands=4,
        with_shingles=False,
        hash_fn=portable_hash48,
        band_hash_fn=lambda c: portable_hash48(c, "b"),
    ).persist()
    cand = minhash_band_pairs(d, "text", "doc_id", features=feats).persist()
    cand_ids = cand.select(F.explode(F.array("id_a", "id_b")).alias("doc_id"))
    sets = (
        d.join(cand_ids, "doc_id", "left_semi")
        .select(
            "doc_id", F.array_distinct(shingles("text", 3)).alias("shingle_set")
        )
        .persist()
    )
    verified = ngram_jaccard_pairs(d, "text", "doc_id", cand, threshold=0.0, features=sets)
    return (
        verified.groupBy(
            F.floor(F.col("jaccard") * 10).cast("int").alias("jaccard_decile")
        )
        .agg(F.count("*").alias("n_pairs"))
        .orderBy("jaccard_decile")
    )


_SIMHASH_VOTES = ",\n             ".join(
    f"SUM(CASE WHEN (h & {1 << b}) <> 0 THEN 1 ELSE -1 END) AS v{b}"
    for b in range(32)
)
_SIMHASH_FP = " + ".join(
    f"CASE WHEN v{b} > 0 THEN {1 << b} ELSE 0 END" for b in range(32)
)

_SIMHASH_PORTABLE_ORACLE = f"""
    WITH docs AS (
      SELECT doc_id,
             list_filter(regexp_split_to_array(trim(text), '\\s+'),
                         x -> x <> '') AS toks
      FROM documents
    ), tok AS (
      SELECT doc_id, unnest(toks) AS t FROM docs
    ), hashed AS (
      SELECT doc_id, {_sql_h48('t', 's')} AS h FROM tok
    ), votes AS (
      SELECT doc_id,
             {_SIMHASH_VOTES}
      FROM hashed GROUP BY doc_id
    ), fps AS (
      SELECT doc_id, CAST({_SIMHASH_FP} AS BIGINT) AS fp FROM votes
    ), allfp AS (
      SELECT d.doc_id, COALESCE(f.fp, 0) AS fp
      FROM docs d LEFT JOIN fps f USING (doc_id)
    ), pairs AS (
      SELECT CAST(bit_count(xor(a.fp, b.fp)) AS INT) AS hamming
      FROM allfp a JOIN allfp b
        ON a.fp // 16777216 = b.fp // 16777216 AND a.doc_id < b.doc_id
    )
    SELECT hamming, COUNT(*) AS n_pairs
    FROM pairs GROUP BY hamming ORDER BY hamming
"""


@register(
    "dedup_simhash_portable",
    oracle=_SIMHASH_PORTABLE_ORACLE,
    tags=("DEDUP", "SIMHASH"),
)
def dedup_simhash_portable(spark: SparkSession, sf_dir: str) -> DataFrame:
    """SimHash structure under a full cross-engine oracle: 32-bit
    fingerprints on the portable 48-bit hash family, blocked on the
    top-8-bit prefix, Hamming histogram over in-block pairs — bit
    votes, fingerprint assembly, blocking, and popcount all
    differentially checked against DuckDB (token-less docs pinned to
    fp = 0 on both sides). The 64-bit xxhash variant stays the
    production fast path."""
    from ..operators.dedup import portable_hash48, simhash_fingerprints

    d = load_table(spark, sf_dir, "documents")
    fp = simhash_fingerprints(
        d, "text", "doc_id", n_bits=32, hash_fn=lambda c: portable_hash48(c, "s")
    ).withColumn("block", F.shiftrightunsigned("fp", 24))
    a, b = fp.alias("a"), fp.alias("b")
    pairs = a.join(
        b,
        (F.col("a.block") == F.col("b.block"))
        & (F.col("a.doc_id") < F.col("b.doc_id")),
    ).select(hamming64(F.col("a.fp"), F.col("b.fp")).alias("hamming"))
    return (
        pairs.groupBy("hamming")
        .agg(F.count("*").alias("n_pairs"))
        .orderBy("hamming")
    )


@register(
    "dedup_canonical_corpus",
    oracle="""
    WITH RECURSIVE base AS (
      SELECT doc_id, source,
             regexp_replace(lower(trim(text)), '\\s+', ' ', 'g') AS nt,
             list_distinct(regexp_split_to_array(lower(trim(text)), '\\s+')) AS ws,
             regexp_split_to_array(lower(trim(text)), '\\s+')[1]
               || '|' || CAST(n_chars // 40 AS VARCHAR) AS blk
      FROM documents
    ), exact_e AS (
      SELECT * FROM (
        SELECT MIN(doc_id) OVER (PARTITION BY nt) AS src, doc_id AS dst
        FROM base
      ) WHERE src <> dst
    ), near_e AS (
      SELECT a.doc_id AS src, b.doc_id AS dst
      FROM base a JOIN base b ON a.blk = b.blk AND a.doc_id < b.doc_id
      WHERE CAST(len(list_intersect(a.ws, b.ws)) AS DOUBLE)
              / len(list_distinct(list_concat(a.ws, b.ws))) >= 0.5
    ), edges AS (
      SELECT src, dst FROM exact_e UNION SELECT src, dst FROM near_e
    ), und AS (
      SELECT src, dst FROM edges UNION SELECT dst, src FROM edges
    ), nodes AS (
      SELECT DISTINCT src AS node FROM und
    ), reach AS (
      SELECT node, node AS r FROM nodes
      UNION
      SELECT re.node, u.dst AS r FROM reach re JOIN und u ON u.src = re.r
    ), comp AS (
      SELECT node, MIN(r) AS component FROM reach GROUP BY node
    )
    SELECT source, COUNT(*) AS n_docs,
           CAST(SUM(CASE WHEN c.component IS NOT NULL
                          AND c.component <> d.doc_id
                         THEN 1 ELSE 0 END) AS BIGINT) AS n_dropped,
           CAST(COUNT(*) - SUM(CASE WHEN c.component IS NOT NULL
                          AND c.component <> d.doc_id
                         THEN 1 ELSE 0 END) AS BIGINT) AS n_kept
    FROM documents d LEFT JOIN comp c ON d.doc_id = c.node
    GROUP BY source ORDER BY source
    """,
    tags=("DEDUP", "J19", "COMPOSITE"),
)
def dedup_canonical_corpus(spark: SparkSession, sf_dir: str) -> DataFrame:
    """END-TO-END dedup pipeline — the flagship training-data shape:
    exact groups (hash of normalized text) + blocked near-dup pairs
    (first-token x length-bucket blocking, word-set Jaccard >= 0.5)
    -> undirected duplicate graph -> connected components (label
    propagation, operators.closure) -> canonical doc = component min
    -> per-source keep/drop accounting.

    Scale shape: exact edges are one window over a 64-bit hash key;
    blocked candidate pairs are quadratic in block size (measured on
    the 100x probe: 33k pairs at sf0.1 -> 108M at sf10), so the
    near-dup stage computes exact Jaccard by inverted-index
    intersection counting — word-level equi-join + one map-side-
    combinable pair aggregation, never a per-pair array compare (see
    the inline round-8 note); components iterate join+min with
    localCheckpoint lineage cuts, O(duplicate-graph diameter) rounds
    on a graph of only linked docs (vanishing fraction of corpus).
    The production variant swaps blocking for minhash bands
    (dedup_minhash_lsh) — same downstream graph machinery."""
    from pyspark.sql.window import Window

    from ..operators.closure import connected_components

    d = load_table(spark, sf_dir, "documents")
    toks = F.split(F.lower(F.trim(F.col("text"))), r"\s+")
    base = d.select(
        "doc_id",
        "source",
        F.xxhash64(normalized_text("text")).alias("th"),
        F.array_distinct(toks).alias("ws"),
        F.concat(
            F.element_at(toks, 1),
            F.lit("|"),
            F.floor(F.col("n_chars") / 40).cast("string"),
        ).alias("blk"),
    )
    exact_e = (
        base.withColumn("src", F.min("doc_id").over(Window.partitionBy("th")))
        .filter(F.col("doc_id") != F.col("src"))
        .select("src", F.col("doc_id").alias("dst"))
    )
    # Near edges by PREFIX-FILTERED exact similarity join (round 11 —
    # the ppjoin/AllPairs recipe, Chaudhuri et al. 2006 / Xiao et al.
    # 2008). History: the r2-r7 per-pair array join shipped two full
    # word arrays per candidate (>25min at 100x); the r8 inverted-
    # index form (explode + (blk, word) equi-join + pair agg) cut that
    # ~15x but still emits sum-over-(blk,word) C(occ,2) rows — 1.43G
    # at sf10 and ~100x that at sf100 (block occupancy grows with
    # corpus, so the pair stream is quadratic in replicas): the r11
    # sf100 probe filled the box's 58 GB scratch in that exchange.
    #
    # This form makes the candidate stream SUB-quadratic while keeping
    # the final edge set provably identical:
    # * size filter — J >= 0.5 forces max(na, nb) <= 2·min(na, nb)
    #   (J <= min/max), a residual join predicate;
    # * prefix filter — under ANY global word order, two sets with
    #   overlap >= alpha share a word within the first n - alpha + 1
    #   words of EACH set; J >= 0.5 with the size bound gives
    #   alpha = ceil(nw/2), i.e. prefix length floor(nw/2) + 1.
    #   Ordering words by ASCENDING GLOBAL FREQUENCY (ties by word)
    #   puts each doc's RAREST words in its prefix, so high-occupancy
    #   (blk, word) keys — the C(occ,2) explosion — never pair docs
    #   unless a doc is mostly common words. Candidates collapse to
    #   near-duplicate pairs plus noise.
    # Surviving (src, dst) candidates are verified EXACTLY: fetch both
    # distinct-word arrays (equi-joins on doc id — candidates-sized,
    # never corpus-sized) and test size(intersect)/size(union) >= 0.5,
    # the identical set algebra as before — oracle unchanged, and
    # candidates ⊇ qualifying pairs is property-gated
    # (tests/test_pipeline.py::test_canonical_prefix_filter_is_lossless).
    wsx = base.select(
        "doc_id", "blk", F.size("ws").alias("nw"), F.explode("ws").alias("w")
    )
    freq = wsx.groupBy("w").agg(F.count("*").alias("wf"))
    prefix = (
        wsx.join(freq, "w")
        .withColumn(
            "r",
            F.row_number().over(
                Window.partitionBy("doc_id").orderBy("wf", "w")
            ),
        )
        .filter(F.col("r") <= F.floor(F.col("nw") / 2) + 1)
        .select("doc_id", "blk", "nw", "w", "r")
    )
    # ppjoin positional filter as a join residual: for the pair's
    # FIRST shared word (rarity order), every other shared word sits
    # after rank r in BOTH docs, so overlap <= 1 + min(na-ra, nb-rb);
    # J >= 0.5 needs overlap >= ceil((na+nb)/3). A pair is dropped
    # only if ALL its shared-prefix-word rows fail, and the first-
    # shared-word row carries the true bound — sound. Prunes the
    # candidate stream BEFORE the distinct's exchange.
    cand = (
        prefix.alias("a")
        .join(
            prefix.alias("b"),
            (F.col("a.blk") == F.col("b.blk"))
            & (F.col("a.w") == F.col("b.w"))
            & (F.col("a.doc_id") < F.col("b.doc_id"))
            & (F.col("a.nw") <= 2 * F.col("b.nw"))
            & (F.col("b.nw") <= 2 * F.col("a.nw"))
            & (
                F.lit(1)
                + F.least(
                    F.col("a.nw") - F.col("a.r"),
                    F.col("b.nw") - F.col("b.r"),
                )
                >= F.floor(
                    (F.col("a.nw") + F.col("b.nw") + F.lit(2)) / F.lit(3.0)
                )
            ),
        )
        .select(
            F.col("a.blk").alias("blk"),
            F.col("a.doc_id").alias("src"),
            F.col("b.doc_id").alias("dst"),
        )
        .distinct()
    )
    # Verification WITHOUT shipping arrays per pair (round-11 second
    # fix): a plain candidates⋈ws equi-join attaches BOTH word arrays
    # to every candidate row — ~700 B x 100s of millions of pairs at
    # 1000x (~350 GB through two exchanges; the second sf100 DNF).
    # Both docs of a candidate share its block, so a COGROUP on the
    # block key co-locates each block's candidate pairs with each
    # block's word sets: arrays ship ONCE PER DOC, pairs ship as two
    # int64s, and the exact Jaccard (same set algebra: |A∩B| /
    # |A∪B| >= 0.5, integer sizes, IEEE double divide) runs as python
    # set intersection per pair. A salt on hash(src, dst) bounds the
    # biggest merged block's pair group; candidates land in exactly
    # one salt group so no pair is verified twice.
    #
    # Round-12 docs side (verdict #4): DATA-ADAPTIVE. The r11 shape
    # replicated EVERY corpus doc K_SALT x into the cogroup exchange
    # even when most (blk, salt) groups hold zero candidates. Whether
    # that waste matters depends on candidate DENSITY, not input size:
    # on a sparse corpus (pairs << docs — the normal production case)
    # an endpoint semi-join shrinks the docs side to just the docs
    # some candidate references; on a dense corpus (pairs >= docs —
    # every synthetic probe SF) nearly every doc is referenced, so the
    # semi-join's distinct + join exchanges are pure overhead (+10%
    # measured at 1000x) and the narrow explode wins. The candidate
    # stream is checkpointed anyway (DISK_ONLY — MEMORY_AND_DISK
    # blocks starve the endpoint distinct's aggregation pool at
    # 1000x, the Bradley-Terry lesson), which makes its count a free
    # runtime statistic to branch on — the same adapt-on-materialized-
    # stats move AQE makes, decided here because the choice spans two
    # jobs. Both branches feed the identical verifier; the lossless
    # gate and oracle are branch-independent.
    from pyspark.storagelevel import StorageLevel

    cand_ck = cand.localCheckpoint(
        eager=True, storageLevel=StorageLevel.DISK_ONLY
    )
    n_cand = cand_ck.count()
    if n_cand < 1_000_000:
        # Small candidate set (round 12): verify in PURE JVM — attach
        # both distinct-word arrays by doc-id equi-join and test
        # size(intersect)/size(union) >= 0.5 in whole-stage codegen.
        # This is exactly the per-pair array shape the cogroup replaced
        # at 1000x (where pairs x arrays is hundreds of GB through two
        # exchanges), but below a million pairs the shipped arrays are
        # at most ~1 GB and the cogroup's costs dominate instead: a
        # corpus-sized word-array exchange into (blk, salt) groups, two
        # Python serialization hops, and per-group set building
        # (measured 1.6s of the 4.8s sf0.1 query for 32k pairs whose
        # actual set algebra is milliseconds). Same set semantics as
        # the Python verifier — ws is array_distinct'd, so
        # |A∪B| = na + nb - |A∩B| and the J >= 0.5 predicate is
        # identical; the n_cand stat is already materialized (DISK
        # checkpoint above), so the branch costs no extra job.
        wsd = base.select("doc_id", "ws")
        near_e = (
            cand_ck.join(
                wsd.select(
                    F.col("doc_id").alias("src"), F.col("ws").alias("was")
                ),
                "src",
            )
            .join(
                wsd.select(
                    F.col("doc_id").alias("dst"), F.col("ws").alias("wbs")
                ),
                "dst",
            )
            .withColumn("ni", F.size(F.array_intersect("was", "wbs")))
            .filter(
                (F.col("ni") > 0)
                & (
                    F.col("ni").cast("double")
                    / F.size(F.array_union("was", "wbs"))
                    >= 0.5
                )
            )
            .select("src", "dst")
        )
        comp = connected_components(exact_e.unionByName(near_e).distinct())
        return _canonical_rollup(d, comp)
    K_SALT = 8
    cand_s = cand_ck.withColumn(
        "salt", F.pmod(F.xxhash64("src", "dst"), F.lit(K_SALT)).cast("int")
    )
    # fresh aliases (dblk/dsalt): the endpoint branch's docs side
    # derives from cand_s, and reusing its attribute ids trips the
    # ambiguous-self-join analyzer check; cogroup matches grouping
    # keys by position, so the names need not agree across sides
    if n_cand < d.count() // 2:
        # sparse: ship ws only for the exact (blk, salt, endpoint)
        # set the verifier will look up
        need = (
            cand_s.select(
                F.col("blk").alias("dblk"),
                F.col("salt").alias("dsalt"),
                F.col("src").alias("doc_id"),
            )
            .unionByName(
                cand_s.select(
                    F.col("blk").alias("dblk"),
                    F.col("salt").alias("dsalt"),
                    F.col("dst").alias("doc_id"),
                )
            )
            .distinct()
        )
        docs_rep = need.join(base.select("doc_id", "ws"), "doc_id")
    else:
        # dense: narrow K_SALT explode — no extra exchange; the
        # verifier's referenced-only dict (below) still bounds
        # per-group memory under block skew
        docs_rep = (
            base.select(
                F.col("blk").alias("dblk"), "doc_id", "ws"
            )
            .withColumn(
                "dsalt", F.explode(F.sequence(F.lit(0), F.lit(K_SALT - 1)))
            )
            .withColumn("dsalt", F.col("dsalt").cast("int"))
        )

    def _verify(left, right):
        import pandas as pd

        if len(left) == 0:
            return pd.DataFrame({"src": [], "dst": []}).astype("int64")
        # build word sets ONLY for docs this group's pairs reference —
        # under block skew (a common first token) the dense branch
        # replicates the whole block's docs into every salt group, and
        # an unconditional dict held them all (the r11 watch item);
        # the referenced set is K_SALT x smaller by construction
        need_ids = set(left["src"])
        need_ids.update(left["dst"])
        sets = {
            i: set(w)
            for i, w in zip(right["doc_id"], right["ws"])
            if i in need_ids
        }
        out_s, out_d = [], []
        for s, t in zip(left["src"], left["dst"]):
            a = sets[s]
            b = sets[t]
            ninter = len(a & b)
            if ninter and ninter / (len(a) + len(b) - ninter) >= 0.5:
                out_s.append(s)
                out_d.append(t)
        return pd.DataFrame({"src": out_s, "dst": out_d}, dtype="int64")

    near_e = (
        cand_s.groupBy("blk", "salt")
        .cogroup(docs_rep.groupBy("dblk", "dsalt"))
        .applyInPandas(_verify, schema="src long, dst long")
    )
    comp = connected_components(exact_e.unionByName(near_e).distinct())
    return _canonical_rollup(d, comp)


def _canonical_rollup(d: DataFrame, comp: DataFrame) -> DataFrame:
    """Per-source keep/drop accounting over the component labels —
    shared tail of both verify branches of dedup_canonical_corpus."""
    dropped = (
        d.select("doc_id", "source")
        .join(comp, F.col("doc_id") == F.col("node"), "left")
        .select(
            "source",
            (
                F.col("component").isNotNull()
                & (F.col("component") != F.col("doc_id"))
            )
            .cast("int")
            .alias("is_dropped"),
        )
    )
    return (
        dropped.groupBy("source")
        .agg(
            F.count("*").alias("n_docs"),
            F.sum("is_dropped").alias("n_dropped"),
            (F.count("*") - F.sum("is_dropped")).alias("n_kept"),
        )
        .orderBy("source")
    )


_PARA = 20  # paragraph granularity: fixed 20-token windows
_PARA_SEEDS = 8  # minhash signature width for the near-dup stage

_PARA_SIG_SQL = " || ',' || ".join(
    "CAST(list_min(list_transform(pt, x -> "
    + _sql_h48("x", f"m{j}")
    + ")) AS VARCHAR)"
    for j in range(_PARA_SEEDS)
)

_PARA_ORACLE = f"""
    WITH toks AS (
      SELECT doc_id, source,
             list_filter(regexp_split_to_array(trim(text), '\\s+'),
                         x -> x <> '') AS t
      FROM documents
    ), paras AS (
      SELECT doc_id, source,
             UNNEST(range(CAST(ceil(len(t) / {_PARA}.0) AS BIGINT))) AS pidx,
             UNNEST(list_transform(
               range(CAST(ceil(len(t) / {_PARA}.0) AS BIGINT)),
               i -> t[i * {_PARA} + 1 : i * {_PARA} + {_PARA}])) AS pt
      FROM toks WHERE len(t) > 0
    ), exact AS (
      SELECT doc_id, source, pidx, pt,
             ROW_NUMBER() OVER (PARTITION BY array_to_string(pt, ' ')
                                ORDER BY doc_id, pidx) AS rn
      FROM paras
    ), near AS (
      SELECT doc_id, pidx,
             ROW_NUMBER() OVER (PARTITION BY {_PARA_SIG_SQL}
                                ORDER BY doc_id, pidx) AS nrn
      FROM exact WHERE rn = 1
    ), perdoc AS (
      SELECT e.doc_id, e.source,
             COUNT(*) AS n_paras,
             SUM(CASE WHEN e.rn > 1 THEN 1 ELSE 0 END) AS n_exact_dup,
             SUM(CASE WHEN e.rn = 1 AND COALESCE(n.nrn, 0) <> 1
                      THEN 1 ELSE 0 END) AS n_near_dup,
             SUM(len(e.pt)) AS total_tokens,
             SUM(CASE WHEN COALESCE(n.nrn, 0) = 1
                      THEN len(e.pt) ELSE 0 END) AS retained_tokens
      FROM exact e LEFT JOIN near n
        ON e.doc_id = n.doc_id AND e.pidx = n.pidx
      GROUP BY e.doc_id, e.source
    )
    SELECT d.source,
           COUNT(*) AS n_docs,
           CAST(SUM(COALESCE(p.n_paras, 0)) AS BIGINT) AS n_paras,
           CAST(SUM(COALESCE(p.n_exact_dup, 0)) AS BIGINT) AS n_exact_dup,
           CAST(SUM(COALESCE(p.n_near_dup, 0)) AS BIGINT) AS n_near_dup,
           CAST(SUM(COALESCE(p.total_tokens, 0)) AS BIGINT) AS total_tokens,
           CAST(SUM(COALESCE(p.retained_tokens, 0)) AS BIGINT)
             AS retained_tokens,
           CAST(SUM(CASE WHEN 2 * COALESCE(p.retained_tokens, 0)
                              >= COALESCE(p.total_tokens, 0)
                    THEN 1 ELSE 0 END) AS BIGINT) AS n_docs_half_kept
    FROM documents d LEFT JOIN perdoc p ON d.doc_id = p.doc_id
    GROUP BY d.source ORDER BY d.source
"""


def _para_feature_rows_spec(d: DataFrame) -> DataFrame:
    """Expression-level paragraph feature rows — the SPEC for the Arrow
    producer below (golden-gated in tests/test_operators_golden.py::
    test_para_feature_rows_match_expression_spec): one row per
    paragraph with (doc_id, source, pidx, pmd5, sig, np) where
    pmd5 = md5 of the space-joined paragraph, sig = concat_ws(',') of
    the 8 per-seed portable_hash48 token minima, np = token count."""
    from ..functions.text import tokens
    from ..operators.dedup import portable_hash48

    t = tokens("text")
    nch = F.ceil(F.size(t) / F.lit(_PARA)).cast("int")
    chunks = F.when(
        F.size(t) > 0,
        F.transform(
            F.sequence(F.lit(0), nch - 1),
            lambda i: F.slice(t, i * _PARA + 1, _PARA),
        ),
    ).otherwise(F.array().cast("array<array<string>>"))
    paras = d.select(
        "doc_id", "source", F.posexplode(chunks).alias("pidx", "pt")
    )
    sig = F.concat_ws(
        ",",
        *[
            F.array_min(
                F.transform(F.col("pt"), lambda x: portable_hash48(x, f"m{j}"))
            ).cast("string")
            for j in range(_PARA_SEEDS)
        ],
    )
    return paras.select(
        "doc_id",
        "source",
        "pidx",
        F.md5(F.array_join(F.col("pt"), " ")).alias("pmd5"),
        sig.alias("sig"),
        F.size("pt").alias("np"),
    )


def _para_feature_rows(d: DataFrame) -> DataFrame:
    """Arrow producer of the paragraph feature rows.

    The expression spec evaluates INTERPRETED per token: the sig
    column is 8 CodegenFallback ``transform`` lambdas, each invoking
    the md5/conv chain of portable_hash48 — measured 2.1s of the 2.8s
    sf0.1 query, and linear-in-tokens x 8 at any scale. This pass
    mirrors it in Python (hashlib.md5 is the same function) with a
    per-task vocabulary memo: each distinct token's 8 seed hashes are
    computed ONCE per task instead of once per occurrence, which no
    JVM expression can do. Bit-equality mirrors of the JVM semantics:
    tokens come from :func:`java_tokens`, md5 hex is lowercase in both
    engines, and the 48-bit int fits exactly in int64. The output rows
    are narrow (two hash strings + 3 ints) — the paragraph token
    arrays never leave the scan task, so the two window shuffles
    downstream carry hashes, not text (guide §2.3)."""
    import hashlib

    from ..functions.text import java_tokens

    seeds = [f"#m{j}".encode() for j in range(_PARA_SEEDS)]
    n_seeds = _PARA_SEEDS
    para = _PARA

    def gen(batches):
        import pandas as pd

        memo: dict[str, list[int]] = {}
        for pdf in batches:
            out_doc, out_src, out_pidx = [], [], []
            out_md5, out_sig, out_np = [], [], []
            for did, src, txt in zip(
                pdf["doc_id"], pdf["source"], pdf["text"]
            ):
                if txt is None:
                    continue
                toks = java_tokens(txt)
                if not toks:
                    continue
                for pidx in range((len(toks) + para - 1) // para):
                    pt = toks[pidx * para : (pidx + 1) * para]
                    mins = [None] * n_seeds
                    for tok in pt:
                        hs = memo.get(tok)
                        if hs is None:
                            tb = tok.encode("utf-8")
                            hs = [
                                int(
                                    hashlib.md5(tb + s).hexdigest()[:12], 16
                                )
                                for s in seeds
                            ]
                            memo[tok] = hs
                        for j in range(n_seeds):
                            v = hs[j]
                            if mins[j] is None or v < mins[j]:
                                mins[j] = v
                    out_doc.append(did)
                    out_src.append(src)
                    out_pidx.append(pidx)
                    out_md5.append(
                        hashlib.md5(" ".join(pt).encode("utf-8")).hexdigest()
                    )
                    out_sig.append(",".join(str(m) for m in mins))
                    out_np.append(len(pt))
            if out_doc:
                yield pd.DataFrame(
                    {
                        "doc_id": out_doc,
                        "source": out_src,
                        "pidx": out_pidx,
                        "pmd5": out_md5,
                        "sig": out_sig,
                        "np": out_np,
                    }
                )

    from ..catalog import sized_for_compute

    return sized_for_compute(d.select("doc_id", "source", "text")).mapInPandas(
        gen,
        schema="doc_id long, source string, pidx int, pmd5 string,"
        " sig string, np int",
    )


@register(
    "dedup_paragraph_retention",
    oracle=_PARA_ORACLE,
    tags=("DEDUP", "TEXT", "LSH"),
)
def dedup_paragraph_retention(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Paragraph-granularity dedup with a per-doc retained-mass report
    (the sub-document pass of modern curation pipelines — cf. the
    paragraph/line dedup stages in Gopher/RefinedWeb): split each doc
    into fixed 20-token paragraphs, drop exact duplicate paragraphs
    corpus-wide (first occurrence by (doc_id, pidx) survives), then
    drop near-duplicates among the survivors by token-set minhash
    signature equality (8 seeds of the md5-derived portable 48-bit
    family — DuckDB reproduces every min bit-for-bit), and report per
    source the paragraph counts dropped at each stage, the exact token
    mass retained, and how many docs kept at least half their tokens.

    Entirely integer arithmetic — no float ever leaves an expression.

    Physical shape at 100 TB: one Arrow scan pass emits a NARROW row
    per paragraph — (pidx, md5, 8-min signature, token count); the
    token arrays never leave the scan task (round 12 — previously the
    arrays rode through both window exchanges and the sig was 8
    interpreted transform lambdas, 2.1s of the 2.8s sf0.1 query) ->
    window rank on the md5 [one hash shuffle; 32 hex chars per row
    regardless of paragraph length] -> window rank on the signature
    [second hash shuffle] -> per-doc rollup [third, map-side
    combinable] -> broadcast-sized per-source report. Near stage is
    signature-EQUALITY dedup: candidates never pair-join, so there is
    no quadratic term anywhere; a banded pair-verify variant is
    dedup_minhash_portable. The Arrow producer is bit-equality-gated
    against the expression spec (tests/test_operators_golden.py), so
    the swap can change only the plan, never a value."""
    from pyspark.sql.window import Window

    d = load_table(spark, sf_dir, "documents")
    paras = _para_feature_rows(d)
    # Exact stage: rank within identical paragraph text (by md5
    # digest). Ordering (doc_id, pidx) is a total order, so rn is
    # deterministic under any partitioning.
    w_exact = Window.partitionBy("pmd5").orderBy("doc_id", "pidx")
    ranked = paras.withColumn("rn", F.row_number().over(w_exact))
    # Near stage runs only over exact survivors, but without a
    # filter+join round trip: exact-dup rows get a per-row unique
    # "signature" so they sit alone in the second window (their nrn=1
    # is never read — final keep requires rn=1 too).
    sig_or_unique = F.when(F.col("rn") == 1, F.col("sig")).otherwise(
        F.concat_ws(":", F.lit("dup"), F.col("doc_id"), F.col("pidx"))
    )
    w_near = Window.partitionBy(sig_or_unique).orderBy("doc_id", "pidx")
    flagged = ranked.withColumn("nrn", F.row_number().over(w_near))
    perdoc = flagged.groupBy("doc_id", "source").agg(
        F.count("*").alias("n_paras"),
        F.sum(F.when(F.col("rn") > 1, 1).otherwise(0)).alias("n_exact_dup"),
        F.sum(
            F.when((F.col("rn") == 1) & (F.col("nrn") != 1), 1).otherwise(0)
        ).alias("n_near_dup"),
        F.sum("np").alias("total_tokens"),
        F.sum(
            F.when(
                (F.col("rn") == 1) & (F.col("nrn") == 1), F.col("np")
            ).otherwise(0)
        ).alias("retained_tokens"),
    )
    base = d.select("doc_id", "source")
    return (
        base.join(perdoc.drop("source"), "doc_id", "left")
        .groupBy("source")
        .agg(
            F.count("*").alias("n_docs"),
            F.sum(F.coalesce("n_paras", F.lit(0))).cast("long").alias("n_paras"),
            F.sum(F.coalesce("n_exact_dup", F.lit(0)))
            .cast("long")
            .alias("n_exact_dup"),
            F.sum(F.coalesce("n_near_dup", F.lit(0)))
            .cast("long")
            .alias("n_near_dup"),
            F.sum(F.coalesce("total_tokens", F.lit(0)))
            .cast("long")
            .alias("total_tokens"),
            F.sum(F.coalesce("retained_tokens", F.lit(0)))
            .cast("long")
            .alias("retained_tokens"),
            F.sum(
                F.when(
                    2 * F.coalesce("retained_tokens", F.lit(0))
                    >= F.coalesce("total_tokens", F.lit(0)),
                    1,
                ).otherwise(0)
            )
            .cast("long")
            .alias("n_docs_half_kept"),
        )
        .orderBy("source")
    )


@register(
    "dedup_fuzzy_entity_names",
    oracle="""
    WITH ent AS (
      SELECT p_name AS n, split_part(p_name, ' ', 1) AS b, COUNT(*) AS cnt
      FROM part GROUP BY 1, 2
    ), pr AS (
      SELECT a.b, levenshtein(a.n, b.n) AS d, a.cnt * b.cnt AS w
      FROM ent a JOIN ent b ON a.b = b.b AND a.n < b.n
    ), es AS (
      SELECT b, COUNT(*) AS n_entities, CAST(SUM(cnt) AS BIGINT) AS n_records
      FROM ent GROUP BY b
    ), ps AS (
      SELECT b, COUNT(*) AS n_pairs,
             CAST(SUM(CASE WHEN d <= 3 THEN 1 ELSE 0 END) AS BIGINT)
               AS n_match,
             CAST(COALESCE(SUM(CASE WHEN d <= 3 THEN w END), 0) AS BIGINT)
               AS rec_pairs_matched
      FROM pr GROUP BY b
    )
    SELECT es.b AS block, es.n_entities, es.n_records,
           COALESCE(ps.n_pairs, 0) AS n_pairs,
           COALESCE(ps.n_match, 0) AS n_match,
           COALESCE(ps.rec_pairs_matched, 0) AS rec_pairs_matched
    FROM es LEFT JOIN ps USING (b) ORDER BY block
    """,
    tags=("DEDUP", "J1"),
)
def dedup_fuzzy_entity_names(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Blocked fuzzy entity matching — the entity-resolution /
    record-linkage primitive (Fellegi-Sunter blocking + edit-distance
    compare, the Splink/dedupe.io shape): collapse part records to
    DISTINCT name entities with multiplicities, block on the name's
    first token, compare only within-block entity pairs (a.n < b.n,
    each unordered pair once) by Levenshtein distance, and report per
    block the entity/record counts, candidate pairs, matches at
    distance <= 3, and the record-level pair mass those matches imply
    (sum of cnt_a * cnt_b) — all integers, hash-exact.

    Scale shape (the canonical ER pattern at 100 TB): the
    record->entity collapse is one hash aggregation that shrinks the
    compare space from records to distinct strings; the candidate join
    is an EQUI-join on the blocking key (never all-pairs — candidates
    are quadratic only within a block, the knob every ER system
    exposes); levenshtein runs JVM-side inside codegen. Multiplicity
    weights recover record-level statistics without ever joining
    records to records.
    """
    p = load_table(spark, sf_dir, "part")
    ent = (
        p.groupBy(F.col("p_name").alias("n"))
        .agg(F.count("*").alias("cnt"))
        .withColumn("b", F.substring_index("n", " ", 1))
    )
    # No broadcast hint: the distinct-entity table is NOT broadcastable
    # at 100 TB, and the join has an equi key (the block) — AQE picks
    # broadcast at small SFs and a shuffle hash join at scale, which is
    # exactly the blocking-scalability story the docstring claims.
    a, bb = ent.alias("a"), ent.alias("b")
    pr = a.join(
        bb,
        (F.col("a.b") == F.col("b.b")) & (F.col("a.n") < F.col("b.n")),
    ).select(
        F.col("a.b").alias("block"),
        F.levenshtein(F.col("a.n"), F.col("b.n")).alias("d"),
        (F.col("a.cnt") * F.col("b.cnt")).alias("w"),
    )
    es = ent.groupBy(F.col("b").alias("block")).agg(
        F.count("*").alias("n_entities"),
        F.sum("cnt").cast("long").alias("n_records"),
    )
    ps = pr.groupBy("block").agg(
        F.count("*").alias("n_pairs"),
        F.sum((F.col("d") <= 3).cast("int")).cast("long").alias("n_match"),
        F.coalesce(F.sum(F.when(F.col("d") <= 3, F.col("w"))), F.lit(0))
        .cast("long")
        .alias("rec_pairs_matched"),
    )
    return (
        es.join(ps, "block", "left")
        .select(
            "block",
            "n_entities",
            "n_records",
            F.coalesce("n_pairs", F.lit(0)).alias("n_pairs"),
            F.coalesce("n_match", F.lit(0)).alias("n_match"),
            F.coalesce("rec_pairs_matched", F.lit(0)).alias(
                "rec_pairs_matched"
            ),
        )
        .orderBy("block")
    )


@register(
    "dedup_incremental_delta",
    oracle=r"""
    WITH n AS (
      SELECT doc_id, source,
             array_to_string(list_sort(list_distinct(
               list_filter(regexp_split_to_array(lower(trim(text)), '\s+'),
                           x -> x <> ''))), ' ') AS nt,
             doc_id % 5 = 0 AS is_delta
      FROM documents
    ), corpus AS (
      SELECT DISTINCT nt FROM n WHERE NOT is_delta
    ), delta AS (
      SELECT d.doc_id, d.source,
             (c.nt IS NOT NULL) AS dup_c,
             MIN(d.doc_id) OVER (PARTITION BY d.nt) AS first_id
      FROM n d LEFT JOIN corpus c USING (nt)
      WHERE d.is_delta
    )
    SELECT source,
           COUNT(*) AS n_delta,
           CAST(SUM(CASE WHEN dup_c THEN 1 ELSE 0 END) AS BIGINT)
             AS n_dup_vs_corpus,
           CAST(SUM(CASE WHEN NOT dup_c AND doc_id <> first_id
                    THEN 1 ELSE 0 END) AS BIGINT) AS n_dup_within,
           CAST(SUM(CASE WHEN NOT dup_c AND doc_id = first_id
                    THEN 1 ELSE 0 END) AS BIGINT) AS n_new_unique
    FROM delta GROUP BY source ORDER BY source
    """,
    tags=("DEDUP", "STREAM", "A4"),
)
def dedup_incremental_delta(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Incremental corpus-delta dedup — the day-2 ingest path: a new
    batch (doc_id % 5 == 0 stands in for today's crawl) is deduped
    against the FROZEN corpus (the other 80%) without touching the
    corpus text: the corpus ships as a signature artifact
    (the bag-of-words doc_signature fingerprint's distinct set + its
    Bloom bitset, operators.delta_dedup — order/repetition-invariant,
    the cheap first tier of fuzzy dedup), each delta doc probes the broadcast bitset
    with pure JVM expressions, and Bloom positives are confirmed by an
    exact join — flags bit-identical to the plain exact join (no false
    negatives by construction, false positives killed by the confirm;
    gated in tests/test_pipeline.py). Within-batch duplicates are
    first-occurrence ranked (min doc_id per signature). Per-source
    report: batch size, corpus dups, within-batch dups, genuinely new
    docs. The flag projection is stateless, so the identical function
    scores a streaming ingest — parity gated in
    tests/test_streaming.py (the PII-scrub discipline).

    Scale shape at 100 TB: the corpus is read ONCE to build the
    signature set (in production this artifact is persisted and
    appended, not rebuilt); the delta pass is narrow except one
    signature-keyed shuffle for the within-batch window; the confirm
    join degrades gracefully from broadcast to shuffle-hash as the
    signature set grows, with the Bloom prefilter thinning the probe
    side either way."""
    from pyspark.sql.window import Window

    from ..operators.delta_dedup import delta_dedup_flags, doc_signature

    d = load_table(spark, sf_dir, "documents").select(
        "doc_id", "source", doc_signature("text").alias("th")
    )
    corpus = (
        d.filter(F.col("doc_id") % 5 != 0)
        .select("th")
        .distinct()
        .localCheckpoint()  # feeds the Bloom build AND the confirm join
    )
    delta = d.filter(F.col("doc_id") % 5 == 0)
    flagged = delta_dedup_flags(delta, corpus)
    w = Window.partitionBy("th")
    ranked = flagged.withColumn("first_id", F.min("doc_id").over(w))
    fresh = ~F.col("is_dup_vs_corpus")
    return (
        ranked.groupBy("source")
        .agg(
            F.count("*").alias("n_delta"),
            F.sum(F.col("is_dup_vs_corpus").cast("int"))
            .cast("long")
            .alias("n_dup_vs_corpus"),
            F.sum((fresh & (F.col("doc_id") != F.col("first_id"))).cast("int"))
            .cast("long")
            .alias("n_dup_within"),
            F.sum((fresh & (F.col("doc_id") == F.col("first_id"))).cast("int"))
            .cast("long")
            .alias("n_new_unique"),
        )
        .orderBy("source")
    )
