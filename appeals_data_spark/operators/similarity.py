"""Similarity search over embedding columns (array<float>).

- ``brute_force_topk``: exact cosine top-k of query vectors against the
  corpus — broadcast the (small) query set, score the pair stream on
  the Arrow hot path (functions.vectors.pair_scores_arrow — bit-equal
  to the JVM zip_with/aggregate fold, ~2x faster), window top-k. The
  exactness baseline.
- ``lsh_topk``: random-hyperplane (signed projection) bucketing; only
  candidates sharing a bucket are scored. The 100 TB path: candidate
  generation is an equi-join on bucket id, so cost tracks bucket
  occupancy instead of |corpus| × |queries|.

Hyperplanes are derived deterministically from a seed via xxhash64 so
runs are reproducible without driver-side RNG state.
"""

from __future__ import annotations

from pyspark.sql import Column, DataFrame
from pyspark.sql import functions as F
from pyspark.sql.window import Window

from ..functions.vectors import cosine, pair_scores_arrow


def brute_force_topk(
    corpus: DataFrame,
    queries: DataFrame,
    id_col: str = "vec_id",
    vec_col: str = "embedding",
    k: int = 5,
) -> DataFrame:
    """Exact cosine top-k per query. Queries must be small (broadcast).

    Scoring runs on the Arrow hot path (pair_scores_arrow) — bit-equal
    to the HOF ``cosine`` fold, ~2x faster on the |corpus|x|queries|
    pair stream (functions/vectors.py module note)."""
    q = queries.select(
        F.col(id_col).alias("query_id"), F.col(vec_col).alias("q_vec")
    )
    c = corpus.select(F.col(id_col).alias("corpus_id"), F.col(vec_col).alias("c_vec"))
    scored = pair_scores_arrow(
        c.crossJoin(F.broadcast(q)).filter(
            F.col("corpus_id") != F.col("query_id")
        ),
        "q_vec",
        "c_vec",
        keep=["query_id", "corpus_id"],
        out="cos",
        metric="cosine",
    )
    w = Window.partitionBy("query_id").orderBy(F.desc("cos"), F.asc("corpus_id"))
    return (
        scored.withColumn("rank", F.row_number().over(w))
        .filter(F.col("rank") <= k)
        .orderBy("query_id", "rank")
    )


def mips_topk(
    corpus: DataFrame,
    queries: DataFrame,
    id_col: str = "vec_id",
    vec_col: str = "embedding",
    k: int = 5,
) -> DataFrame:
    """Exact maximum-inner-product top-k per query — the retrieval
    scoring most rankers actually use (unnormalized dot product, so a
    vector's magnitude carries signal, unlike cosine). Queries must be
    small (broadcast); scoring is the same JVM-side zip_with/aggregate
    fold as ``brute_force_topk``.

    Scale path at 100 TB: MIPS reduces to cosine ANN by norm
    augmentation (Bachrach et al., RecSys'14) — append
    sqrt(M² − ‖x‖²) to every corpus vector (M = max corpus norm) and 0
    to queries; the augmented cosine order equals the inner-product
    order, so the IVF/PQ index family (vec_ivf_topk and friends)
    serves MIPS unchanged. The brute-force form here is the exactness
    baseline those indexes are recall-gated against."""
    q = queries.select(
        F.col(id_col).alias("query_id"), F.col(vec_col).alias("q_vec")
    )
    c = corpus.select(
        F.col(id_col).alias("corpus_id"), F.col(vec_col).alias("c_vec")
    )
    scored = pair_scores_arrow(
        c.crossJoin(F.broadcast(q)).filter(
            F.col("corpus_id") != F.col("query_id")
        ),
        "q_vec",
        "c_vec",
        keep=["query_id", "corpus_id"],
        out="ip",
        metric="dot",
    )
    w = Window.partitionBy("query_id").orderBy(F.desc("ip"), F.asc("corpus_id"))
    return (
        scored.withColumn("rank", F.row_number().over(w))
        .filter(F.col("rank") <= k)
        .orderBy("query_id", "rank")
    )


def lsh_bucket(vec: Column, dim: int, n_planes: int = 8, seed: int = 42) -> Column:
    """Random-hyperplane LSH bucket id (n_planes sign bits packed)."""
    bits = F.transform(
        F.sequence(F.lit(0), F.lit(n_planes - 1)),
        lambda p: F.when(
            F.aggregate(
                F.zip_with(
                    vec,
                    F.transform(
                        F.sequence(F.lit(0), F.lit(dim - 1)),
                        lambda j: (
                            F.xxhash64(F.lit(seed), p, j) % 1000003 - 500001
                        ).cast("double"),
                    ),
                    lambda x, h: x.cast("double") * h,
                ),
                F.lit(0.0),
                lambda acc, x: acc + x,
            )
            > 0,
            1,
        ).otherwise(0),
    )
    return F.aggregate(
        F.zip_with(
            bits,
            F.sequence(F.lit(0), F.lit(n_planes - 1)),
            lambda b, p: b * F.pow(F.lit(2.0), p).cast("int"),
        ),
        F.lit(0),
        lambda acc, x: acc + x,
    )


def lsh_topk(
    corpus: DataFrame,
    queries: DataFrame,
    dim: int,
    id_col: str = "vec_id",
    vec_col: str = "embedding",
    k: int = 5,
    n_planes: int = 6,
    seed: int = 42,
    n_tables: int = 1,
) -> DataFrame:
    """Approximate top-k: score only same-bucket candidates.

    ``n_tables`` independent hash tables (seed offset per table) union
    their candidate sets — the classic recall knob: a true neighbor is
    missed only if it hashes apart in EVERY table, so recall ~
    1-(1-p)^L for per-table collision probability p. Candidate volume
    (and cost) grows ~linearly in L; the per-table bucket join stays an
    equi-join, never quadratic.
    """
    tables = F.explode(F.sequence(F.lit(0), F.lit(n_tables - 1))).alias("t")

    def _bucketed(df: DataFrame, id_alias: str, vec_alias: str) -> DataFrame:
        b = df.select(
            F.col(id_col).alias(id_alias), F.col(vec_col).alias(vec_alias), tables
        )
        return b.select(
            id_alias,
            vec_alias,
            "t",
            lsh_bucket(F.col(vec_alias), dim, n_planes, F.col("t") * 1000 + seed)
            .alias("bucket"),
        )

    cb = _bucketed(corpus, "corpus_id", "c_vec")
    qb = _bucketed(queries, "query_id", "q_vec")
    scored = (
        cb.join(F.broadcast(qb), ["t", "bucket"])
        .filter(F.col("corpus_id") != F.col("query_id"))
        .select("query_id", "corpus_id", "q_vec", "c_vec")
        .dropDuplicates(["query_id", "corpus_id"])
        .select(
            "query_id",
            "corpus_id",
            cosine(F.col("q_vec"), F.col("c_vec")).alias("cos"),
        )
    )
    w = Window.partitionBy("query_id").orderBy(F.desc("cos"), F.asc("corpus_id"))
    return (
        scored.withColumn("rank", F.row_number().over(w))
        .filter(F.col("rank") <= k)
        .orderBy("query_id", "rank")
    )


def label_centroids(
    corpus: DataFrame, id_col: str = "vec_id", vec_col: str = "embedding",
    label_col: str = "label",
) -> DataFrame:
    """Coarse-quantizer centroids: per-label, per-dimension mean.
    Output (c_label, cvec array<double>) — small (|labels| rows),
    always broadcast at the probe site. The mean is an EXACT fold —
    each summand is rint(x * 1e12) (an integral double, identical
    bits in both engines because the product and the half-to-even
    round are single IEEE ops; DuckDB's twin is round_even(x*1e12,0)
    — the svm/survival scaled-long discipline), summed as
    DECIMAL(38,0) so the accumulation is exact at any partition count
    and any corpus size, then ONE mirrored double op sequence
    (/1e12 /count *1e6, rint, /1e6) for the 6dp-rounded component
    (mirrored term for term in vector_q._SQL_CENTROIDS): a plain
    AVG's partial-aggregate merge order is partitioning-dependent,
    and the previous Spark round(x,12) (exact BigDecimal HALF_UP)
    could disagree with DuckDB ROUND(x,12) (FP-scaled) by 1 ulp on a
    1e-12 grid boundary — the rint twin removes both hazards."""
    unpacked = corpus.select(
        F.col(label_col).alias("c_label"), F.posexplode(vec_col).alias("pos", "x")
    )
    return (
        unpacked.groupBy("c_label", "pos")
        .agg(
            (
                F.rint(
                    F.sum(
                        F.rint(
                            F.col("x").cast("double") * F.lit(1e12)
                        ).cast("decimal(38,0)")
                    ).cast("double")
                    / F.lit(1e12)
                    / F.count("*")
                    * F.lit(1e6)
                )
                / F.lit(1e6)
            ).alias("cx")
        )
        .groupBy("c_label")
        .agg(
            F.transform(
                F.array_sort(F.collect_list(F.struct("pos", "cx"))), lambda s: s["cx"]
            ).alias("cvec")
        )
    )


def centroid_struct_array(centroids: DataFrame) -> DataFrame:
    """Collapse a (c_label, cvec) centroid table into ONE row holding a
    label-sorted array<struct<c_label,cvec>> — the broadcastable model
    artifact the expression-level assigners and the streaming scorer
    fold over. Label types are preserved, so downstream schemas are
    unchanged for long-labeled centroid sets (e.g. vec_kmeans_lloyd's
    vec_id-seeded cells); a caller that wants int labels casts first."""
    return centroids.agg(
        F.array_sort(F.collect_list(F.struct("c_label", "cvec"))).alias(
            "_cents"
        )
    )


def nearest_centroid_best(cents: Column, vec: Column, label_type: str) -> Column:
    """Per-row argmax over a centroid struct array: fold keeping the
    (c_label, c_cos) with the highest cosine; strict > keeps the FIRST
    (lowest label, array is label-sorted) on exact ties — identical to
    the (cos DESC, c_label ASC) window rank of the oracles, term for
    term, so every downstream oracle hash is unchanged. Shared by the
    batch assigners and streaming.vec_stream.scored_stream. The label
    type is the caller's (init is a typed NULL: any real cosine beats
    -inf, so it never survives a non-empty centroid set)."""
    init = F.struct(
        F.lit(None).cast(label_type).alias("c_label"),
        F.lit(float("-inf")).alias("c_cos"),
    )

    def step(acc: Column, c: Column) -> Column:
        cc = cosine(vec, c["cvec"])
        return F.when(
            cc > acc["c_cos"],
            F.struct(c["c_label"].alias("c_label"), cc.alias("c_cos")),
        ).otherwise(acc)

    return F.aggregate(cents, init, step)


def _topk_centroid_structs(cents: Column, vec: Column, rank_max: int) -> Column:
    """Per-row top-``rank_max`` centroids by (cos DESC, c_label ASC):
    score every centroid in one transform pass (each cosine evaluated
    exactly once — the lambda only touches its own element, so the
    CollapseProject re-evaluation trap documented on pref_bradley_terry
    does not apply), comparator-sort, slice. All expression-level: no
    shuffle, no per-vector window."""
    scored = F.transform(
        cents,
        lambda c: F.struct(
            c["c_label"].alias("c_label"),
            cosine(vec, c["cvec"]).alias("c_cos"),
        ),
    )

    def cmp(a: Column, b: Column) -> Column:
        return (
            F.when(a["c_cos"] > b["c_cos"], F.lit(-1))
            .when(a["c_cos"] < b["c_cos"], F.lit(1))
            .when(a["c_label"] < b["c_label"], F.lit(-1))
            .when(a["c_label"] > b["c_label"], F.lit(1))
            .otherwise(F.lit(0))
        )

    return F.slice(F.array_sort(scored, cmp), 1, rank_max)


def assign_to_centroids(
    corpus: DataFrame, centroids: DataFrame, rank_max: int = 1,
    id_col: str = "vec_id", vec_col: str = "embedding",
    with_score: bool = False,
) -> DataFrame:
    """Nearest-centroid assignment (rank_max=1) or probe lists
    (rank_max=nprobe): (id, c_label, c_rank) — the IVF build/probe
    primitive.

    Zero-shuffle shape: the corpus pass is narrow end-to-end — a
    crossJoin + Window.partitionBy(id) form shuffles the FULL corpus
    (|corpus| x |cells| rows through one exchange) just to rank within
    each vector's own candidate list; at 100 TB that exchange would be
    the dominant cost of every IVF build.

    The per-row argmax/top-k runs in an Arrow ``mapInPandas`` scorer,
    not in the expression-level HOF fold (``nearest_centroid_best`` /
    ``_topk_centroid_structs``, kept as the reference implementations
    and for the streaming scorer), with the IDENTICAL arithmetic
    order: the centroid table (broadcast-small by contract) is collected
    label-sorted to the driver, each Arrow batch computes every
    (row, centroid) cosine by dimension-major float64 accumulation
    (the HOF fold's exact order — see functions.vectors), rank 1 is a
    strict-> first-wins scan in label order and rank_max>1 a stable
    argsort on (cos DESC, label ASC) — term for term the fold/
    comparator semantics, so assignments are bit-for-bit unchanged
    (differential-gated in tests/test_ann_recall.py). Spark does not
    codegen HOF lambdas, and this fold was the measured dominant term
    of vec_ivf_topk at sf10 (~20s of 21s after the pair scorer moved).
    Null vectors keep the fold semantics: rank 1 -> NULL label;
    rank_max>1 -> the first rank_max labels in label order (what the
    comparator's all-NULL-cos no-op sort sliced).

    Degenerate-NaN caveat (the pair_scores_arrow class): a zero-norm
    centroid or NaN-bearing vector produces NaN cosines — the HOF
    reference yields NaN for the zero-norm 0/0 (double division
    follows IEEE even under ANSI; divide-by-zero errors apply to
    integral/decimal operands only) and ranks NaN largest (Spark's
    NaN-ordering), while this path never selects a NaN score (IEEE
    strict > is false). No engine corpus carries zero or NaN
    embeddings; never-select is the saner behavior if one ever
    appears."""
    import numpy as np
    import pandas as pd

    label_type = dict(centroids.dtypes)["c_label"]
    cents_rows = sorted(
        centroids.select("c_label", "cvec").collect(),
        key=lambda r: r["c_label"],
    )
    labels = [r["c_label"] for r in cents_rows]
    n_cents = len(labels)
    id_type = dict(corpus.dtypes)[id_col]
    vec_type = dict(corpus.dtypes)[vec_col]
    # with_score (rank_max == 1 only): additionally emit the winning
    # cosine as c_cos — the HOF fold's `_b.c_cos`, including its -inf
    # init for rows the fold never updates (NULL vector / empty
    # centroid set). Scores come from the same dimension-major matrix
    # the label pick reads, so they are bit-identical to the fold's.
    if with_score and rank_max != 1:
        raise ValueError("with_score requires rank_max == 1")
    out_schema = (
        f"{id_col} {id_type}, {vec_col} {vec_type}, "
        f"c_label {label_type}, c_rank int"
        + (", c_cos double" if with_score else "")
    )
    src = corpus.select(id_col, vec_col)
    if n_cents:
        cmat = np.stack(
            [np.asarray(r["cvec"], dtype=np.float64) for r in cents_rows]
        )
        dim = cmat.shape[1]
        cnorm = np.zeros(n_cents)
        for k in range(dim):  # sequential fold order, as norm()
            cnorm += cmat[:, k] * cmat[:, k]
        cnorm = np.sqrt(cnorm)

    def gen(batches):
        for pdf in batches:
            if len(pdf) == 0 or n_cents == 0:
                # empty centroid set: rank 1 -> NULL label per row (the
                # fold's init survives); rank_max>1 -> no rows (the
                # slice of an empty array posexplodes to nothing)
                if rank_max == 1 and len(pdf) and n_cents == 0:
                    res = pdf[[id_col, vec_col]].copy()
                    res["c_label"] = None
                    res["c_rank"] = np.ones(len(pdf), dtype=np.int32)
                    if with_score:
                        res["c_cos"] = np.full(len(pdf), -np.inf)
                    yield res
                else:
                    res = pdf[[id_col, vec_col]].iloc[:0].copy()
                    res["c_label"] = pd.Series([], dtype=object)
                    res["c_rank"] = pd.Series([], dtype=np.int32)
                    if with_score:
                        res["c_cos"] = pd.Series([], dtype=np.float64)
                    yield res
                continue
            vv = pdf[vec_col].values
            mask = np.array([v is not None for v in vv])
            scores = None
            if mask.any():
                X = np.stack(vv[mask]).astype(np.float64)
                n = X.shape[0]
                xn = np.zeros(n)
                for k in range(dim):
                    xk = X[:, k]
                    xn += xk * xk
                xn = np.sqrt(xn)
                scores = np.empty((n, n_cents))
                for j in range(n_cents):
                    dt = np.zeros(n)
                    cj = cmat[j]
                    for k in range(dim):
                        dt += X[:, k] * cj[k]
                    scores[:, j] = dt / (xn * cnorm[j])
            if rank_max == 1:
                lab = np.empty(len(pdf), dtype=object)
                lab[:] = None
                full_best = np.full(len(pdf), -np.inf)
                if scores is not None:
                    best = np.full(scores.shape[0], -np.inf)
                    bi = np.full(scores.shape[0], -1)
                    for j in range(n_cents):  # label asc = fold order
                        upd = scores[:, j] > best  # strict >, NaN never
                        bi[upd] = j
                        best[upd] = scores[upd, j]
                    lab[mask] = [
                        labels[i] if i >= 0 else None for i in bi
                    ]
                    full_best[mask] = best
                res = pdf[[id_col, vec_col]].copy()
                res["c_label"] = lab
                res["c_rank"] = np.ones(len(pdf), dtype=np.int32)
                if with_score:
                    res["c_cos"] = full_best
                yield res
                continue
            # rank_max > 1: (cos DESC, label ASC) — stable argsort on
            # -cos with columns already in label order
            top = min(rank_max, n_cents)
            out_ids, out_vecs, out_lab, out_rank = [], [], [], []
            valid_iter = (
                iter(np.argsort(-scores, axis=1, kind="stable")[:, :top])
                if scores is not None
                else iter(())
            )
            for row_i in range(len(pdf)):
                rid = pdf[id_col].iloc[row_i]
                rvec = vv[row_i]
                if mask[row_i]:
                    order = next(valid_iter)
                    picks = [labels[j] for j in order]
                else:
                    # all-NULL-cos comparator is a no-op sort: the
                    # slice keeps the first labels in label order
                    picks = labels[:top]
                for rnk, lb in enumerate(picks, start=1):
                    out_ids.append(rid)
                    out_vecs.append(rvec)
                    out_lab.append(lb)
                    out_rank.append(rnk)
            yield pd.DataFrame(
                {
                    id_col: out_ids,
                    vec_col: out_vecs,
                    "c_label": out_lab,
                    "c_rank": np.asarray(out_rank, dtype=np.int32),
                }
            )

    return src.mapInPandas(gen, schema=out_schema)


def ivf_topk(
    corpus: DataFrame,
    queries: DataFrame,
    id_col: str = "vec_id",
    vec_col: str = "embedding",
    label_col: str = "label",
    k: int = 5,
    nprobe: int = 2,
) -> DataFrame:
    """IVF two-stage ANN (FAISS-IVF shape): coarse-quantize the corpus
    into centroid cells, probe the query's nearest ``nprobe`` cells,
    brute-force only those candidates.

    Scale: centroid build is one narrow aggregation; cell assignment is
    a broadcast product (|corpus| x |cells|); the candidate join is an
    equi-join on cell id, so scored pairs track cell occupancy
    (~nprobe/|cells| of the corpus per query) instead of |corpus|."""
    # Materialize the tiny centroid table once: it feeds BOTH the cell
    # assignment and the probe pass, and without a barrier each side
    # would re-aggregate the full corpus (2x the dominant scan at scale).
    cents = label_centroids(corpus, id_col, vec_col, label_col).localCheckpoint()
    cells = assign_to_centroids(corpus, cents, 1, id_col, vec_col).select(
        F.col(id_col).alias("corpus_id"), F.col(vec_col).alias("c_vec"), "c_label"
    )
    probes = assign_to_centroids(queries, cents, nprobe, id_col, vec_col).select(
        F.col(id_col).alias("query_id"), F.col(vec_col).alias("q_vec"), "c_label"
    )
    scored = pair_scores_arrow(
        cells.join(F.broadcast(probes), "c_label").filter(
            F.col("corpus_id") != F.col("query_id")
        ),
        "q_vec",
        "c_vec",
        keep=["query_id", "corpus_id"],
        out="cos",
        metric="cosine",
    )
    w = Window.partitionBy("query_id").orderBy(F.desc("cos"), F.asc("corpus_id"))
    return (
        scored.withColumn("rank", F.row_number().over(w))
        .filter(F.col("rank") <= k)
        .orderBy("query_id", "rank")
    )


def pq_codebooks(
    corpus: DataFrame,
    sub: int = 8,
    label_col: str = "label",
    vec_col: str = "embedding",
    round_dp: int = 6,
) -> DataFrame:
    """Product-quantization codebooks: split the embedding into
    ``dim/sub`` contiguous blocks and build one sub-centroid per
    (block, label) as the per-label mean of that block's slice —
    label-initialized codebooks (swap in lloyd_refine per block for
    trained ones; the pipeline shape is identical). Output
    (block, code, subvec) — ``(dim/sub) × |labels|`` rows, always
    broadcast. Sub-centroid components round to ``round_dp`` so the
    downstream nearest-code argmins are pinned across engines and
    partitionings (same contract as lloyd_refine)."""
    unpacked = corpus.select(
        F.col(label_col).alias("code"), F.posexplode(vec_col).alias("pos", "x")
    )
    return (
        unpacked.withColumn("block", (F.col("pos") / F.lit(sub)).cast("int"))
        .groupBy("block", "code", "pos")
        .agg(F.round(F.avg(F.col("x").cast("double")), round_dp).alias("cx"))
        .groupBy("block", "code")
        .agg(
            F.transform(
                F.array_sort(F.collect_list(F.struct("pos", "cx"))), lambda s: s["cx"]
            ).alias("subvec")
        )
    )


def _block_slices(
    df: DataFrame, id_alias: str, m: int, sub: int, id_col: str, vec_col: str
) -> DataFrame:
    return df.select(
        F.col(id_col).alias(id_alias),
        F.explode(F.sequence(F.lit(0), F.lit(m - 1))).alias("block"),
        F.col(vec_col),
    ).select(
        id_alias,
        "block",
        F.slice(F.col(vec_col), F.col("block") * sub + 1, sub).alias("bv"),
    )


def pq_encode_hof(
    corpus: DataFrame,
    codebooks: DataFrame,
    m: int = 8,
    sub: int = 8,
    id_col: str = "vec_id",
    vec_col: str = "embedding",
    round_dp: int = 6,
) -> DataFrame:
    """Reference (expression-level) PQ encoder — the spec for
    ``pq_encode`` and its differential gate; see pq_encode for the
    semantics and the hot path. Kept JVM-side: explode blocks,
    broadcast-join the codebooks, ROUND(l2sq, dp), (d, code)
    struct-min argmin. Spark does not codegen HOF lambdas, so the
    |corpus|·m·|codes| interpreted l2sq folds made this the vec
    family's dominant remaining constant at 100× (adc 23.8s vs ivf
    4.65s)."""
    from ..functions.vectors import l2sq

    blocks = _block_slices(corpus, id_col, m, sub, id_col, vec_col)
    scored = blocks.join(F.broadcast(codebooks), "block").select(
        id_col,
        "block",
        "code",
        F.round(l2sq(F.col("bv"), F.col("subvec")), round_dp).alias("d"),
    )
    # argmin via struct-min: (d, code) lexicographic MIN is exactly the
    # old (d ASC, code ASC) row_number()=1 winner, but as a map-side-
    # combinable aggregate — the |corpus|·m·|codes| candidate stream
    # collapses to |corpus|·m rows BEFORE the exchange instead of
    # sort-shuffling in full for a window (values identical, oracle
    # hashes unchanged).
    return (
        scored.groupBy(id_col, "block")
        .agg(F.min(F.struct("d", "code")).alias("_s"))
        .select(id_col, "block", F.col("_s.code").alias("code"))
    )


def pq_encode(
    corpus: DataFrame,
    codebooks: DataFrame,
    m: int = 8,
    sub: int = 8,
    id_col: str = "vec_id",
    vec_col: str = "embedding",
    round_dp: int = 6,
) -> DataFrame:
    """Encode every vector as ``m`` one-byte-ish codes: per block, the
    sub-centroid with the least ROUND(l2sq, round_dp) (ties to the
    lowest code). Output (id, block, code) — the compressed index. At
    100 TB this is THE storage win of PQ: m small ints per vector
    instead of 4·dim bytes, built in ONE narrow pass over the corpus
    (no join, no shuffle) against the broadcast-small codebook.

    The hot path is an Arrow ``mapInPandas`` encoder, not the
    interpreted HOF fold (``pq_encode_hof``, kept as the reference
    implementation) — the assign_to_centroids recipe:

    * the codebook (m·|codes| rows — model-sized by construction) is
      collected code-sorted to the driver;
    * each Arrow batch computes every (row, block, code) squared
      distance by dimension-major float64 accumulation — term for
      term the HOF left fold's operation order, so raw distances are
      bit-identical;
    * the argmin replays the (ROUND(d, dp) ASC, code ASC) struct-min
      EXACTLY: np.argmin picks the lowest-code raw minimum, and any
      candidate within 10^-dp (+slack) of the raw minimum — the only
      ones a half-ulp decimal rounding could promote — is re-judged
      with the exact Spark rounding (BigDecimal-of-shortest-repr,
      HALF_UP == Decimal(repr(x)).quantize(HALF_UP); both runtimes
      derive the shortest round-trip decimal). Everything farther
      than one decimal ulp can never flip, so the slow exact path
      runs on near-ties only (typically zero rows).

    Bit-equality vs pq_encode_hof is differential-gated in
    tests/test_ann_recall.py; all three PQ consumers' oracle hashes
    are unchanged. A NULL vector takes the
    fold's all-NULL-d path: every candidate compares equal, so the
    lowest code per block is emitted."""
    import numpy as np
    import pandas as pd
    from decimal import ROUND_HALF_UP, Decimal

    cb_rows = codebooks.select("block", "code", "subvec").collect()
    code_type = dict(codebooks.dtypes)["code"]
    id_type = dict(corpus.dtypes)[id_col]
    per_block: dict[int, tuple[list, "np.ndarray"]] = {}
    for b in sorted({r["block"] for r in cb_rows}):
        rows_b = sorted(
            (r for r in cb_rows if r["block"] == b), key=lambda r: r["code"]
        )
        per_block[b] = (
            [r["code"] for r in rows_b],
            np.stack([np.asarray(r["subvec"], dtype=np.float64) for r in rows_b]),
        )
    quantum = Decimal(1).scaleb(-round_dp)
    # one decimal ulp + double-representation slack: a candidate
    # farther above the raw minimum cannot round below the minimum's
    # rounded value (each rounding moves a value by <= half an ulp)
    slack = float(quantum) * (1.0 + 1e-9)

    def _spark_round(x: float) -> Decimal:
        # Spark ROUND(double, dp): BigDecimal(shortest-repr).setScale(
        # dp, HALF_UP). Python repr is the same shortest round-trip
        # decimal, so this is the identical decimal quantization.
        return Decimal(repr(x)).quantize(quantum, rounding=ROUND_HALF_UP)

    def gen(batches):
        for pdf in batches:
            n_in = len(pdf)
            if n_in == 0:
                res = pd.DataFrame(
                    {
                        id_col: pdf[id_col],
                        "block": pd.Series([], dtype=np.int32),
                        "code": pd.Series([], dtype=object),
                    }
                )
                yield res
                continue
            vv = pdf[vec_col].values
            ids = pdf[id_col].values
            mask = np.array([v is not None for v in vv])
            X = (
                np.stack(vv[mask]).astype(np.float64)
                if mask.any()
                else np.empty((0, m * sub))
            )
            out_ids, out_blocks, out_codes = [], [], []
            for b, (codes_b, C) in per_block.items():
                Xb = X[:, b * sub : (b + 1) * sub]
                nc = C.shape[0]
                D = np.zeros((X.shape[0], nc))
                for k in range(sub):  # dimension-major = HOF fold order
                    diff = Xb[:, k][:, None] - C[:, k][None, :]
                    D += diff * diff
                jmin = np.argmin(D, axis=1) if nc else np.array([], dtype=int)
                if nc:
                    dmin = D[np.arange(D.shape[0]), jmin]
                    near = D <= (dmin[:, None] + slack)
                    for i in np.nonzero(near.sum(axis=1) > 1)[0]:
                        cand = np.nonzero(near[i])[0]
                        jmin[i] = min(
                            cand,
                            key=lambda j: (_spark_round(D[i, j]), codes_b[j]),
                        )
                winners = iter(jmin)
                for row_i in range(n_in):
                    out_ids.append(ids[row_i])
                    out_blocks.append(b)
                    out_codes.append(
                        codes_b[next(winners)] if mask[row_i] else codes_b[0]
                    )
            yield pd.DataFrame(
                {
                    id_col: out_ids,
                    "block": np.asarray(out_blocks, dtype=np.int32),
                    "code": out_codes,
                }
            )

    return corpus.select(id_col, vec_col).mapInPandas(
        gen, schema=f"{id_col} {id_type}, block int, code {code_type}"
    )


def pq_lut(
    queries: DataFrame,
    codebooks: DataFrame,
    m: int = 8,
    sub: int = 8,
    id_col: str = "vec_id",
    vec_col: str = "embedding",
    round_dp: int = 6,
) -> DataFrame:
    """Per-query (block, code) -> partial squared-distance lookup
    table: m × |codebook| DECIMAL entries per query — the broadcast
    side of every ADC scoring pass.

    The l2sq folds here stay the HOF form DELIBERATELY: the LUT is
    model-sized (|queries|·m·|codebook| rows, independent of corpus
    size), and an Arrow pair_scores_arrow rewrite measured FLAT in an
    interleaved same-JVM A/B (vec_pq_adc_topk 1.96 vs 1.93s min,
    recall report 3.20 vs 3.16) — the Python-stage latency
    under the BroadcastExchange offsets the vectorization, and there
    is no scale-up payoff because the LUT does not grow with the
    corpus. Contrast sq_adc_topk, whose pair stream IS corpus-sized
    and did move to the Arrow path."""
    from ..functions.vectors import l2sq

    qb = _block_slices(queries, "query_id", m, sub, id_col, vec_col)
    return qb.join(F.broadcast(codebooks), "block").select(
        "query_id",
        "block",
        "code",
        F.round(l2sq(F.col("bv"), F.col("subvec")), round_dp)
        .cast("decimal(18,6)")
        .alias("w"),
    )


def pq_adc_topk(
    codes: DataFrame,
    codebooks: DataFrame,
    queries: DataFrame,
    m: int = 8,
    sub: int = 8,
    id_col: str = "vec_id",
    vec_col: str = "embedding",
    k: int = 5,
    round_dp: int = 6,
) -> DataFrame:
    """Asymmetric-distance (ADC) top-k over PQ codes (Jégou et al.
    2011 shape): per query, precompute a (block, code) -> partial
    squared-distance lookup table (m × |codebook| entries — tiny,
    broadcast), then score candidates entirely in the compressed
    domain: approx dist = Σ_blocks lut[block, code]. The raw corpus
    vectors are never touched at query time — scoring reads only the
    code table, which is what makes PQ the RAM-resident 100 TB path.

    Determinism contract: each LUT entry rounds to ``round_dp`` and
    casts to DECIMAL(18,6) before the per-pair sum, so the m-term
    accumulation is exact decimal arithmetic and the (dist asc, id
    asc) ranking is bit-stable across engines and partitionings."""
    lut = pq_lut(queries, codebooks, m, sub, id_col, vec_col, round_dp)
    scored = (
        codes.select(F.col(id_col).alias("corpus_id"), "block", "code")
        .join(F.broadcast(lut), ["block", "code"])
        .filter(F.col("corpus_id") != F.col("query_id"))
        .groupBy("query_id", "corpus_id")
        .agg(F.sum("w").alias("adist"))
    )
    w = Window.partitionBy("query_id").orderBy(F.asc("adist"), F.asc("corpus_id"))
    return (
        scored.withColumn("rank", F.row_number().over(w))
        .filter(F.col("rank") <= k)
        .orderBy("query_id", "rank")
    )


def lloyd_refine(
    corpus: DataFrame,
    centroids: DataFrame,
    n_iter: int = 1,
    id_col: str = "vec_id",
    vec_col: str = "embedding",
    round_dp: int = 6,
) -> DataFrame:
    """Lloyd's k-means refinement: assign every vector to its nearest
    centroid (cosine, ties to lowest label), recompute per-cell
    per-dimension means, repeat. The iterative-algorithm pattern next
    to operators.closure: per round one broadcast assignment pass +
    one narrow aggregation, with localCheckpoint cutting lineage so
    the plan stays flat across rounds.

    Centroid components are rounded to ``round_dp`` each round:
    cross-engine (and cross-partitioning) mean aggregation differs in
    the last ulp, and an unrounded boundary vector could flip cells —
    rounding pins assignments bit-for-bit for the differential twin,
    and k-means is insensitive to 1e-6 centroid perturbations.
    """
    for _ in range(n_iter):
        assigned = assign_to_centroids(corpus, centroids, 1, id_col, vec_col)
        unpacked = assigned.select(
            "c_label", F.posexplode(vec_col).alias("pos", "x")
        )
        centroids = (
            unpacked.groupBy("c_label", "pos")
            .agg(F.round(F.avg(F.col("x").cast("double")), round_dp).alias("cx"))
            .groupBy("c_label")
            .agg(
                F.transform(
                    F.array_sort(F.collect_list(F.struct("pos", "cx"))),
                    lambda s: s["cx"],
                ).alias("cvec")
            )
            .localCheckpoint()
        )
    return centroids


def sq_bounds(
    corpus: DataFrame, vec_col: str = "embedding"
) -> DataFrame:
    """Scalar-quantization training: per-dimension (min, max) over the
    corpus, returned as ONE row carrying two dim-length double arrays
    (``mins``, ``maxs``). This is the entire SQ8 'codebook' — 2·dim
    doubles regardless of corpus size — so it broadcasts trivially at
    any scale; building it is a single posexplode + groupBy(pos)
    min/max (one map-side-combinable exchange of ≤dim rows)."""
    unp = corpus.select(
        F.posexplode(F.col(vec_col).cast("array<double>")).alias("pos", "x")
    )
    per = unp.groupBy("pos").agg(F.min("x").alias("mn"), F.max("x").alias("mx"))
    return per.agg(
        F.array_sort(F.collect_list(F.struct("pos", "mn", "mx"))).alias("b")
    ).select(
        F.transform("b", lambda s: s["mn"]).alias("mins"),
        F.transform("b", lambda s: s["mx"]).alias("maxs"),
    )


def _sq_dequant(code: Column, mn: Column, mx: Column) -> Column:
    # mn + code/255*(mx-mn) — written in this exact operation order in
    # the DuckDB oracle twin so the doubles are bit-identical.
    return mn + code.cast("double") / F.lit(255.0) * (mx - mn)


def sq_encode(
    corpus: DataFrame,
    bounds: DataFrame,
    dim: int,
    id_col: str = "vec_id",
    vec_col: str = "embedding",
) -> DataFrame:
    """Encode every vector to dim uint8-range codes:
    rint((x-mn)/(mx-mn)*255) per dimension (constant dimensions code
    to 0). One broadcast-join pass over the corpus, no shuffle — the
    4× storage cut (float32 -> byte) that makes an SQ8 index
    RAM-resident at 100 TB. rint (half-to-even) twins DuckDB
    round_even so codes are bit-identical cross-engine."""
    v = F.col(vec_col).cast("array<double>")
    codes = F.transform(
        F.sequence(F.lit(1), F.lit(dim)),
        lambda i: F.when(
            F.element_at(F.col("maxs"), i) > F.element_at(F.col("mins"), i),
            F.rint(
                (F.element_at(v, i) - F.element_at(F.col("mins"), i))
                / (F.element_at(F.col("maxs"), i) - F.element_at(F.col("mins"), i))
                * F.lit(255.0)
            ),
        )
        .otherwise(F.lit(0.0))
        .cast("int"),
    )
    return corpus.crossJoin(F.broadcast(bounds)).select(
        F.col(id_col).alias("corpus_id"), codes.alias("codes")
    )


def sq_adc_topk(
    codes: DataFrame,
    bounds: DataFrame,
    queries: DataFrame,
    dim: int,
    id_col: str = "vec_id",
    vec_col: str = "embedding",
    k: int = 5,
) -> DataFrame:
    """Asymmetric scalar-quantizer scoring: full-precision query
    against dequantized corpus codes, squared-L2, top-k per query.
    Queries (with the bounds row baked in) broadcast; the corpus side
    reads ONLY the code column — the raw embeddings are never touched
    at query time, same contract as pq_adc_topk.

    Determinism: each per-dimension contribution (q_i - dq_i)² is
    computed in a pinned operation order, scaled by 1e9 and rounded to
    the nearest integer, then summed as exact BIGINTs — 9-dp-exact
    like a decimal fold but integer-add cheap — so the (dist asc, id
    asc) ranking is bit-stable across engines and partitionings.
    Dequantization runs ONCE per corpus row (a transform before the
    probe join), not once per (query, corpus) pair.

    The pair scoring runs on the Arrow hot path
    (functions.vectors.pair_scores_arrow, metric ``sq_l2_9dp``) — the
    HOF ``zip_with``+``aggregate`` fold evaluates interpreted per
    element across |queries|·|corpus|·dim terms, the dominant cost of
    vec_sq8_topk at every scale (same diagnosis as pq_encode's; an
    unrolled codegen sum measured 2x WORSE than the fold — a 64-term
    expression tree per pair defeats JIT). Scores are bit-identical: per-term Spark ROUND
    semantics via the exact-tie decimal re-judge, int64 sum exact."""
    q = queries.select(
        F.col(id_col).alias("query_id"),
        F.col(vec_col).cast("array<double>").alias("q_vec"),
    )
    dq = F.transform(
        F.sequence(F.lit(1), F.lit(dim)),
        lambda i: _sq_dequant(
            F.element_at(F.col("codes"), i),
            F.element_at(F.col("mins"), i),
            F.element_at(F.col("maxs"), i),
        ),
    )
    cdq = codes.crossJoin(F.broadcast(bounds)).select(
        "corpus_id", dq.alias("dq")
    )
    scored = pair_scores_arrow(
        cdq.crossJoin(F.broadcast(q)).filter(
            F.col("corpus_id") != F.col("query_id")
        ),
        "q_vec",
        "dq",
        keep=["query_id", "corpus_id"],
        out="adist",
        metric="sq_l2_9dp",
    )
    w = Window.partitionBy("query_id").orderBy(F.asc("adist"), F.asc("corpus_id"))
    return (
        scored.withColumn("rank", F.row_number().over(w))
        .filter(F.col("rank") <= k)
        .orderBy("query_id", "rank")
    )
