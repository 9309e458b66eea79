"""Deduplication operators for large text corpora.

Training-data pipeline first-class ops (BASELINE.json north star):

- exact: hash-groupBy on normalized text — one shuffle on a 64-bit key.
- minhash LSH: shingle -> minhash signature -> band buckets ->
  bucket-join candidates -> verified Jaccard. All JVM-side (xxhash64 +
  higher-order array functions); the band join is an equi-join on
  (band_id, band_hash) so candidate generation never goes quadratic.
- simhash: 64-bit rotation-invariant fingerprint from token hashes;
  near-dups = small Hamming distance within blocking buckets.
- n-gram Jaccard: exact verification metric on candidate pairs.

Scale: at 100 TB the only quadratic danger is candidate explosion from
hot buckets; mitigate with band-hash salting on bucket size or a
max-bucket cap (documented where applied).
"""

from __future__ import annotations

from pyspark.sql import Column, DataFrame
from pyspark.sql import functions as F

from ..functions.text import shingles, tokens

# -- exact ------------------------------------------------------------------


def normalized_text(col: str | Column) -> Column:
    c = F.col(col) if isinstance(col, str) else col
    return F.regexp_replace(F.lower(F.trim(c)), r"\s+", " ")


def exact_dedup_groups(df: DataFrame, text_col: str, id_col: str) -> DataFrame:
    """Groups of exact duplicates (post-normalization): one row per
    duplicated hash with member ids and the keeper (min id)."""
    h = F.xxhash64(normalized_text(text_col)).alias("text_hash")
    return (
        df.select(h, F.col(id_col).alias("doc_id"))
        .groupBy("text_hash")
        .agg(
            F.count("*").alias("n_docs"),
            F.min("doc_id").alias("keeper"),
            F.array_sort(F.collect_list("doc_id")).alias("members"),
        )
        .filter(F.col("n_docs") > 1)
    )


# -- minhash ----------------------------------------------------------------


def portable_hash48(col: str | Column, salt) -> Column:
    """48-bit hash with an EXACT DuckDB twin: BIGINT value of the first
    12 hex chars of md5(s || '#' || salt).

    xxhash64 (the fast path) has no DuckDB implementation, so the
    xxhash-based sketches can only be golden/rows-only checked. This
    family trades a little speed for a full cross-engine oracle: 12
    hex digits = 48 bits, small enough that the SQL twin can rebuild
    the integer with exact double arithmetic (< 2^53). Collisions are
    ~2x likelier than a 64-bit family but IDENTICAL in both engines,
    so differential results still match bit-for-bit.
    """
    c = F.col(col) if isinstance(col, str) else col
    salt_c = salt.cast("string") if isinstance(salt, Column) else F.lit(str(salt))
    return F.conv(
        F.substring(
            F.md5(F.encode(F.concat(c, F.lit("#"), salt_c), "utf-8")), 1, 12
        ),
        16,
        10,
    ).cast("long")


def sql_portable_hash48(expr: str, salt: str) -> str:
    """DuckDB fragment computing :func:`portable_hash48` exactly."""
    return (
        "CAST(list_sum(list_transform(range(12), i -> "
        f"(strpos('0123456789abcdef', substr(md5({expr} || '#' || '{salt}'), "
        "i+1, 1)) - 1) * (16.0 ** (11 - i)))) AS BIGINT)"
    )


def minhash_features(
    df: DataFrame,
    text_col: str,
    id_col: str,
    num_hashes: int = 32,
    bands: int = 8,
    k_shingle: int = 3,
    with_shingles: bool = True,
    hash_fn=None,
    band_hash_fn=None,
) -> DataFrame:
    """Per-doc LSH features: (doc_id, bands[, shingle_set]).

    ``hash_fn(col, i)`` / ``band_hash_fn(col)`` swap the hash family
    (default xxhash64; pass :func:`portable_hash48` wrappers for the
    DuckDB-oracle-able variant).

    Pass ``with_shingles=False`` when verification fetches shingle sets
    separately (candidate docs only): dropping ``collect_set`` from the
    signature agg shrinks the map-side partials from near-full shingle
    sets to ``num_hashes`` longs per doc — at 100 TB that is the
    difference between shuffling the corpus and shuffling a signature
    table.

    Codegen-friendly formulation: explode shingles, then ONE grouped
    aggregation with ``num_hashes`` ``min(xxhash64(shingle, i))``
    columns plus ``collect_set`` for the exact-verification set. Every
    expression stays inside whole-stage codegen and the mins combine
    map-side — unlike a higher-order-function fold, which Spark
    evaluates interpreted and which re-runs per plan branch. Hash
    values are identical to hashing per-seed (min over shingles of
    xxhash64(s, i)), so results are stable across both formulations.

    At 100 TB this is the signature table you'd materialize once per
    corpus snapshot; the groupBy key is doc_id, so the shuffle is
    O(|docs| × num_hashes × 8B) — tiny next to the text itself.
    """
    from ..catalog import sized_for_compute

    if band_hash_fn is None:
        band_hash_fn = F.xxhash64
    rows_per_band = num_hashes // bands
    sh = shingles(text_col, k_shingle)
    sh = F.when(F.size(sh) > 0, sh).otherwise(F.array(F.lit("")))
    ex = sized_for_compute(df).select(
        F.col(id_col).alias("doc_id"), F.explode(sh).alias("_s")
    )
    if hash_fn is None:
        # Default family: hash each shingle STRING once, then derive the
        # num_hashes members by rehashing the 64-bit base — per row that
        # is 1 variable-length string hash + N fixed 8-byte hashes
        # instead of N string hashes (measured 1.22s -> 0.70s warm for
        # the sf0.1 signature agg at N=32). Equally a valid minhash
        # family: members are independent functions of the shingle.
        ex = ex.withColumn("_s64", F.xxhash64("_s"))
        hashed = F.col("_s64")
        hash_fn = lambda c, i: F.xxhash64(c, F.lit(i))  # noqa: E731
    else:
        hashed = F.col("_s")
    mins = [
        F.min(hash_fn(hashed, i)).alias(f"h{i}") for i in range(num_hashes)
    ]
    if with_shingles:
        sig = ex.groupBy("doc_id").agg(*mins, F.collect_set("_s").alias("shingle_set"))
    else:
        sig = ex.groupBy("doc_id").agg(*mins)
    band_structs = [
        F.struct(
            F.lit(b).alias("band"),
            band_hash_fn(
                F.concat_ws(
                    ",",
                    *[
                        F.col(f"h{b * rows_per_band + r}").cast("string")
                        for r in range(rows_per_band)
                    ],
                )
            ).alias("band_hash"),
        )
        for b in range(bands)
    ]
    out = ["doc_id", F.array(*band_structs).alias("bands")]
    if with_shingles:
        out.append("shingle_set")
    return sig.select(*out)


def minhash_band_pairs(
    df: DataFrame,
    text_col: str,
    id_col: str,
    num_hashes: int = 32,
    bands: int = 8,
    k_shingle: int = 3,
    features: DataFrame | None = None,
) -> DataFrame:
    """LSH candidate pairs (id_a < id_b) via banded minhash buckets.

    rows_per_band = num_hashes // bands. Two docs are candidates iff
    at least one band's sub-signature matches exactly — the classic
    S-curve knob. Pass a persisted ``minhash_features`` frame to avoid
    re-evaluating the signature fold per join branch.
    """
    if features is None:
        features = minhash_features(df, text_col, id_col, num_hashes, bands, k_shingle)
    banded = features.select(
        "doc_id", F.explode("bands").alias("bh")
    ).select("doc_id", F.col("bh.band").alias("band"), F.col("bh.band_hash").alias("band_hash"))
    a = banded.alias("a")
    b = banded.alias("b")
    return (
        a.join(
            b,
            (F.col("a.band") == F.col("b.band"))
            & (F.col("a.band_hash") == F.col("b.band_hash"))
            & (F.col("a.doc_id") < F.col("b.doc_id")),
        )
        .select(F.col("a.doc_id").alias("id_a"), F.col("b.doc_id").alias("id_b"))
        .distinct()
    )


def jaccard(col_a: Column, col_b: Column) -> Column:
    """Jaccard similarity of two string arrays (as sets)."""
    inter = F.size(F.array_intersect(col_a, col_b))
    union = F.size(F.array_union(col_a, col_b))
    return F.when(union == 0, F.lit(1.0)).otherwise(inter.cast("double") / union)


def ngram_jaccard_pairs(
    df: DataFrame,
    text_col: str,
    id_col: str,
    candidate_pairs: DataFrame,
    k_shingle: int = 3,
    threshold: float = 0.5,
    features: DataFrame | None = None,
) -> DataFrame:
    """Verify candidate pairs with exact shingle-set Jaccard.

    With a persisted ``minhash_features`` frame the shingle sets come
    from the cache instead of a fresh tokenize+shingle pass per side.
    """
    if features is not None:
        sets_df = features.select("doc_id", F.col("shingle_set").alias("sh"))
    else:
        sets_df = df.select(
            F.col(id_col).alias("doc_id"),
            F.array_distinct(shingles(text_col, k_shingle)).alias("sh"),
        )
    a = sets_df.alias("sa")
    b = sets_df.alias("sb")
    return (
        candidate_pairs.join(a, candidate_pairs.id_a == F.col("sa.doc_id"))
        .join(b, candidate_pairs.id_b == F.col("sb.doc_id"))
        .select(
            "id_a",
            "id_b",
            jaccard(F.col("sa.sh"), F.col("sb.sh")).alias("jaccard"),
        )
        .filter(F.col("jaccard") >= threshold)
    )


# -- simhash ----------------------------------------------------------------


def _bit_mask(b: Column) -> Column:
    """Long with only bit ``b`` set, valid for b in [0, 63].

    pow(2, b) is exact in double up to b=62; bit 63 is Long.MIN_VALUE
    (2^63 would overflow-clamp to Long.MAX and set every lower bit).
    """
    return F.when(b == 63, F.lit(-9223372036854775808).cast("long")).otherwise(
        F.pow(F.lit(2.0), b).cast("long")
    )


def simhash64(col: str | Column) -> Column:
    """64-bit SimHash over whitespace tokens (column form).

    Bit b of the fingerprint is 1 iff Σ_tokens sign(bit b of
    xxhash64(token)) > 0. Higher-order-function implementation — Spark
    evaluates HOF lambdas interpreted, so for whole-table scans prefer
    :func:`simhash_fingerprints` (identical fingerprints, whole-stage
    codegen); this column form remains for ad-hoc/expression use.
    """
    t = tokens(col)
    hashes = F.transform(t, lambda x: F.xxhash64(x))
    bit_votes = F.transform(
        F.sequence(F.lit(0), F.lit(63)),
        lambda b: F.aggregate(
            hashes,
            F.lit(0),
            lambda acc, h: acc
            + F.when(h.bitwiseAND(_bit_mask(b)) != 0, 1).otherwise(-1),
        ),
    )
    return F.aggregate(
        F.zip_with(
            bit_votes,
            F.sequence(F.lit(0), F.lit(63)),
            lambda v, b: F.when(v > 0, _bit_mask(b)).otherwise(F.lit(0).cast("long")),
        ),
        F.lit(0).cast("long"),
        lambda acc, x: acc.bitwiseOR(x),
    )


def simhash_fingerprints(
    df: DataFrame,
    text_col: str,
    id_col: str,
    n_bits: int = 64,
    hash_fn=None,
) -> DataFrame:
    """(doc_id, fp) simhash table in the codegen formulation.

    Same loop interchange that took minhash from interpreted HOF folds
    to a grouped aggregation (measured ~18x there): explode tokens,
    compute 64 conditional-sum bit votes in ONE hash aggregate
    (map-side combinable), then assemble the fingerprint with a single
    bitwise-OR projection. Fingerprints are bit-identical to
    :func:`simhash64`: vote_b = Σ sign(bit b of xxhash64(token)), bit
    set iff vote > 0; a token-less doc gets fp = 0 (all votes 0) via
    ``explode_outer``'s NULL row contributing 0 to every vote.
    """
    if hash_fn is None:
        hash_fn = F.xxhash64
    t = tokens(text_col)
    ex = df.select(
        F.col(id_col).alias("doc_id"), F.explode_outer(t).alias("_t")
    )
    h = hash_fn(F.col("_t"))
    votes = [
        F.sum(
            F.when(F.col("_t").isNull(), 0)
            .when(h.bitwiseAND(_bit_mask(F.lit(b))) != 0, 1)
            .otherwise(-1)
        ).alias(f"v{b}")
        for b in range(n_bits)
    ]
    agg = ex.groupBy("doc_id").agg(*votes)
    fp = F.lit(0).cast("long")
    for b in range(n_bits):
        fp = fp.bitwiseOR(
            F.when(F.col(f"v{b}") > 0, _bit_mask(F.lit(b))).otherwise(
                F.lit(0).cast("long")
            )
        )
    return agg.select("doc_id", fp.alias("fp"))


def hamming64(a: Column, b: Column) -> Column:
    return F.bit_count(a.bitwiseXOR(b))


def banded_hash_pair_report(
    g: DataFrame, ham_max: int, n_bands: int = 4, band_bits: int = 8
) -> DataFrame:
    """Multiplicity-weighted near-dup pair report over a per-
    (hash, source) count table ``g`` (columns h, source, n — distinct
    on (h, source), normally localCheckpoint'd by the caller): band
    each DISTINCT hash into ``n_bands`` bands of ``band_bits`` bits,
    equi-join band buckets for candidate hash pairs, confirm with full
    Hamming distance <= ``ham_max``, then recover exact doc-pair
    counts from the multiplicities into unordered (least, greatest)
    source buckets — same-hash pairs as n_a*n_b / C(n,2), cross-hash
    pairs as n_a*n_b per confirmed hash pair. Shared by
    mm_phash_near_dedup and mm_audio_fingerprint_dedup (one pipeline,
    two hash functions); doc-level pair enumeration is quadratic in
    replica-group size (measured 13.2x on 10x data — BASELINE.md), so
    everything after the corpus rollup is distinct-hash-sized.

    Output: (source_a, source_b, n_pairs, n_hash_identical,
    max_hamming)."""
    mask = (1 << band_bits) - 1
    hs = g.select("h").distinct()
    bands = hs.select(
        "h",
        F.posexplode(
            F.array(*[
                F.shiftright("h", band_bits * k).bitwiseAND(F.lit(mask))
                for k in range(n_bands)
            ])
        ).alias("k", "bv"),
    )
    a, b = bands.alias("a"), bands.alias("b")
    hp = (
        a.join(
            b,
            (F.col("a.k") == F.col("b.k"))
            & (F.col("a.bv") == F.col("b.bv"))
            & (F.col("a.h") < F.col("b.h")),
        )
        .select(F.col("a.h").alias("ha"), F.col("b.h").alias("hb"))
        .dropDuplicates(["ha", "hb"])
    )
    ham = F.bit_count(F.col("ha").bitwiseXOR(F.col("hb")))
    hpair = hp.select("ha", "hb", ham.alias("ham")).filter(
        F.col("ham") <= ham_max
    )
    ga = g.select(
        F.col("h").alias("ha"), F.col("source").alias("sa"),
        F.col("n").alias("na"),
    )
    gb = g.select(
        F.col("h").alias("hb"), F.col("source").alias("sb"),
        F.col("n").alias("nb"),
    )
    cross = (
        hpair.join(ga, "ha")
        .join(gb, "hb")
        .select(
            F.least("sa", "sb").alias("source_a"),
            F.greatest("sa", "sb").alias("source_b"),
            (F.col("na") * F.col("nb")).alias("w"),
            "ham",
        )
    )
    gs = g.alias("x").join(
        g.alias("y"),
        (F.col("x.h") == F.col("y.h"))
        & (F.col("x.source") <= F.col("y.source")),
    )
    same = gs.select(
        F.least("x.source", "y.source").alias("source_a"),
        F.greatest("x.source", "y.source").alias("source_b"),
        # integer halving (n*(n-1) is even): a double divide-then-cast
        # loses exactness past 2^53 doc-pairs per (hash, source) group
        F.when(
            F.col("x.source") == F.col("y.source"),
            F.shiftright(F.col("x.n") * (F.col("x.n") - 1), 1),
        )
        .otherwise(F.col("x.n") * F.col("y.n"))
        .cast("long")
        .alias("w"),
        F.lit(0).alias("ham"),
    )
    contrib = cross.unionByName(same).filter(F.col("w") > 0)
    return (
        contrib.groupBy("source_a", "source_b")
        .agg(
            F.sum("w").cast("long").alias("n_pairs"),
            F.sum(F.when(F.col("ham") == 0, F.col("w")).otherwise(0))
            .cast("long")
            .alias("n_hash_identical"),
            F.max("ham").alias("max_hamming"),
        )
        .orderBy("source_a", "source_b")
    )
