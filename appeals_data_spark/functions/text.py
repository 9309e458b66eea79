"""Text-analysis column expressions (training-data pipeline ops).

All JVM-side (split/regexp/aggregate builtins) — no Python UDFs — so
they vectorize inside whole-stage codegen and scale linearly over a
100 TB documents table.
"""

from __future__ import annotations

import re
import sys

from pyspark import cloudpickle
from pyspark.sql import Column
from pyspark.sql import functions as F
from pyspark.sql.window import Window

STOPWORDS = ("the", "a", "of", "and", "to", "in", "is", "it", "for", "on")


def tokens(col: str | Column) -> Column:
    """Whitespace tokenization; empty string -> empty array."""
    c = F.col(col) if isinstance(col, str) else col
    return F.array_remove(F.split(F.trim(c), r"\s+"), "")


def token_count(col: str | Column) -> Column:
    return F.size(tokens(col))


def stopword_ratio(col: str | Column) -> Column:
    t = tokens(col)
    sw = F.array([F.lit(w) for w in STOPWORDS])
    n_stop = F.size(F.filter(t, lambda x: F.array_contains(sw, F.lower(x))))
    return n_stop.cast("double") / F.greatest(F.size(t), F.lit(1)).cast("double")


def char_classes(col: str | Column) -> dict[str, Column]:
    """Counts of character classes, via regexp strip-and-measure."""
    c = F.col(col) if isinstance(col, str) else col
    total = F.length(c)
    alpha = total - F.length(F.regexp_replace(c, "[A-Za-z]", ""))
    digit = total - F.length(F.regexp_replace(c, "[0-9]", ""))
    space = total - F.length(F.regexp_replace(c, r"\s", ""))
    punct = total - alpha - digit - space
    return {"n_chars": total, "n_alpha": alpha, "n_digit": digit, "n_space": space, "n_punct": punct}


def _gram_structs(col: str | Column, k: int) -> Column:
    """Word k-grams of ``tokens(col)`` as an array of structs whose
    fields ``0..k-1`` are the gram's tokens.

    Built by zipping ``k`` shifted slices of the token array rather
    than indexing inside a lambda: HOF lambdas re-evaluate captured
    expression trees per element, so ``transform(idx, i -> slice(t,
    i, k))`` would re-split the text O(n) times per row. Arguments to
    ``arrays_zip`` are evaluated once.
    """
    t = tokens(col)
    cnt = F.greatest(F.size(t) - (k - 1), F.lit(0))
    return F.arrays_zip(*[F.slice(t, i + 1, cnt) for i in range(k)])


def shingles(col: str | Column, k: int = 3) -> Column:
    """Word k-shingles as an array of space-joined strings."""
    return F.transform(
        _gram_structs(col, k),
        lambda s: F.concat_ws(" ", *[s[str(i)] for i in range(k)]),
    )


# Java's regex ``\s`` — the ASCII whitespace class Spark's
# ``split(str, '\\s+')`` uses, NOT Python's unicode-aware ``\s``.
# Every Python mirror of the JVM tokenizer splits on this.
JAVA_WS = re.compile("[ \t\n\x0b\f\r]+")


def java_tokens(text: str) -> list[str]:
    """Python mirror of :func:`tokens` on one string: split on Java
    ``\\s`` and drop the empty strings. Spark's ``trim`` strips ASCII
    space only, and a leading or trailing separator only yields an
    empty string here, so the trim inside :func:`tokens` needs no
    mirror."""
    return [w for w in JAVA_WS.split(text) if w]


# Arrow generators run in Python workers that need not have this
# package on their path: ship the helpers above by value.
cloudpickle.register_pickle_by_value(sys.modules[__name__])

# ngram_stream's arm choice: at or below this many scan bytes of its
# input the zip-slice-explode expression runs, above it (or when the
# size is unknown) the Arrow pass. Interleaved same-JVM A/B on 4 cores
# (CHANGES.md): at sf0.01 (65 KB of documents) the four queries moved
# from the Arrow pass to the expression won 7-8 of 8 pairs; at sf0.1
# (594 KB) dedup_substring_coverage, moved from the expression to the
# Arrow pass, won 8 of 8 (1.38 vs 2.32 s).
NGRAM_ARROW_MIN_BYTES = 256 * 1024


def ngram_stream(
    df, text_col: str, k: int, carry_cols, names=None, distinct=False,
    count_col=None,
):
    """Exploded word k-gram stream over ``tokens(lower(text_col))``:
    one row per gram occurrence of each doc (per distinct gram, first
    occurrence order, when ``distinct``), carrying ``carry_cols``.
    The gram is emitted as the space-joined string ``g``, or, when
    ``names`` is given, as ``k`` string columns with those names. With
    ``count_col`` every row also carries its doc's total gram count
    (distinct or occurrence, as emitted) under that name. Docs with a
    NULL text or fewer than ``k`` tokens emit no row.

    Two arms with one row multiset, chosen by
    ``catalog.scan_input_bytes(df)`` against
    :data:`NGRAM_ARROW_MIN_BYTES`:

    * expression: ``explode`` of the zip-slice array
      (:func:`shingles` for ``g``). No Python worker round-trip, but
      the per-gram ``transform``/``arrays_zip`` kernels are
      CodegenFallback and evaluate interpreted, which dominates at
      corpus scale (24.3 s of text_trigram_backoff's 102.9 s and ~18 s
      per kgram consumer at the 100x probe).
    * Arrow: one narrow ``mapInPandas`` pass slicing the Python token
      list (no shuffle, no join, partition-parallel), its input
      partitioned by ``catalog.sized_for_expansion`` for the expanded
      output.

    BIT-EQUALITY CONTRACT: both arms emit the same row multiset —
    pinned by tests/test_operators_golden.py::
    test_ngram_stream_arrow_arm_matches_expression_arm. The Python
    tokenizer mirrors the JVM: ``str.lower`` for ``lower``,
    :func:`java_tokens` for ``tokens``, ``dict.fromkeys`` for
    ``array_distinct``'s first-occurrence order.
    """
    from ..catalog import scan_input_bytes

    carry_cols = list(carry_cols)
    if names is not None and len(names) != k:
        raise ValueError(f"ngram_stream: {len(names)} names for k={k}")
    n_bytes = scan_input_bytes(df)
    if n_bytes is not None and n_bytes <= NGRAM_ARROW_MIN_BYTES:
        return _ngram_expression(
            df, text_col, k, carry_cols, names, distinct, count_col
        )
    return _ngram_arrow(df, text_col, k, carry_cols, names, distinct, count_col)


def _ngram_expression(df, text_col, k, carry_cols, names, distinct, count_col):
    low = F.lower(F.col(text_col))
    grams = _gram_structs(low, k) if names else shingles(low, k)
    if distinct:
        grams = F.array_distinct(grams)
    # The gram array is evaluated once per doc, as the column _gs:
    # written next to the explode, size(grams) would land in a
    # projection above the Generate and re-evaluate the gram HOF once
    # per emitted row. explode_outer + the NOT NULL filter (grams are
    # never NULL) keep Spark from inferring a size(_gs) > 0 filter
    # that it pushes below the projection, evaluating the HOF twice.
    counted = [F.size("_gs").alias(count_col)] if count_col else []
    out = (
        df.select(*carry_cols, grams.alias("_gs"))
        .select(*carry_cols, *counted, F.explode_outer("_gs").alias("g"))
        .filter(F.col("g").isNotNull())
    )
    if not names:
        return out
    return out.select(
        *carry_cols,
        *([count_col] if count_col else []),
        *[F.col(f"g.{j}").alias(name) for j, name in enumerate(names)],
    )


def _ngram_arrow(df, text_col, k, carry_cols, names, distinct, count_col):
    import numpy as np

    from ..catalog import sized_for_expansion

    gram_cols = list(names) if names else ["g"]
    out_schema = ", ".join(
        [f"{c} {df.schema[c].dataType.simpleString()}" for c in carry_cols]
        + ([f"{count_col} int"] if count_col else [])
        + [f"{c} string" for c in gram_cols]
    )

    # Cap yielded frames: one input batch of ~10k docs fans out to
    # ~500k gram rows, and a single huge pandas->Arrow frame per
    # yield spikes netty direct buffers and JVM heap on a 32-worker
    # box (the sf100 probe's GC-thrash failure mode). ~128k rows per
    # frame keeps each transfer a few MB without measurable loop cost.
    FLUSH_ROWS = 131_072

    def gen(batches):
        for pdf in batches:
            carry = pdf[carry_cols]
            out_idx: list[int] = []
            out_n: list[int] = []
            out_g: list[list[str]] = [[] for _ in gram_cols]

            def flush():
                res = carry.iloc[out_idx].reset_index(drop=True)
                if count_col:
                    res[count_col] = np.asarray(out_n, dtype="int32")
                for name, vals in zip(gram_cols, out_g):
                    res[name] = vals
                return res

            for i, t in enumerate(pdf[text_col]):
                if t is None:
                    continue
                toks = java_tokens(t.lower())
                n = len(toks) - (k - 1)
                if n <= 0:
                    continue
                # seqs[j][p] = token j of the gram at position p
                seqs = [toks[j : j + n] for j in range(k)]
                if not names:
                    seqs = [[" ".join(g) for g in zip(*seqs)]]
                if distinct:
                    seqs = [list(c) for c in zip(*dict.fromkeys(zip(*seqs)))]
                m = len(seqs[0])
                out_idx.extend([i] * m)
                if count_col:
                    out_n.extend([m] * m)
                for acc, seq in zip(out_g, seqs):
                    acc.extend(seq)
                if len(out_idx) >= FLUSH_ROWS:
                    yield flush()
                    out_idx, out_n = [], []
                    out_g = [[] for _ in gram_cols]
            if out_idx:
                yield flush()

    # ~16x parquet bytes -> occurrence rows: rationale at
    # catalog.sized_for_expansion (a defaultParallelism-sized layout
    # OOMs the LM count aggs' map stage at the 1000x probe)
    src = sized_for_expansion(df.select(*carry_cols, text_col), 16.0)
    return src.mapInPandas(gen, schema=out_schema)


def winnow_fingerprints(
    df, text_col: str, id_col: str, k: int = 5, w: int = 4
):
    """Winnowing document fingerprints (Schleimer/Wilkerson/Aiken,
    SIGMOD'03): base-31 polynomial hash of every char k-gram of the
    normalized text, then the min hash of each sliding window of ``w``
    consecutive k-grams; the distinct window-mins are the fingerprint
    set. Guarantees any shared substring of length >= k + w - 1
    produces a shared fingerprint.

    The classic O(1) "rolling" update is an artifact of scalar loops;
    in a columnar engine the same hash family is evaluated directly
    per position (explode + codegen'd arithmetic) and the window min
    is a frame aggregate — no Python, no UDF, exact SQL twin in any
    engine with ``ord``/``substr``. Returns (doc_id, fp) distinct
    pairs.

    Per-position char access goes through a per-document char-code
    ARRAY materialized once (split + ascii), so each gram hash is k
    O(1) ``element_at`` lookups. The original ``substr(p+j, 1)`` form
    re-scanned the string from byte 0 per access (UTF8String offsets),
    an O(L²)-bytes hidden cost per document — measured 312s at the
    100x probe vs 8.5s at sf0.1 (a 36x factor that was pure
    byte-rescan CPU, not shuffle). An all-in-row HOF variant (hash
    array + zipped-slice sliding min, no explode) was also tried and
    was 10x SLOWER at sf0.1: higher-order lambdas are interpreted per
    element, while the exploded form keeps the hash arithmetic inside
    whole-stage codegen.
    """
    c = F.col(text_col) if isinstance(text_col, str) else text_col
    t = F.regexp_replace(F.lower(F.trim(c)), r"\s+", " ")
    base = df.select(
        F.col(id_col).alias("doc_id"),
        F.transform(F.split(t, ""), F.ascii).alias("_c"),
    ).filter(F.size("_c") >= k)
    pos = base.select(
        "doc_id",
        F.size("_c").alias("_n"),
        F.col("_c"),
        F.explode(F.sequence(F.lit(1), F.size("_c") - (k - 1))).alias("p"),
    )
    h = None
    for j in range(k):
        term = F.element_at(F.col("_c"), F.col("p") + j) * (31**j)
        h = term if h is None else h + term
    grams = pos.select("doc_id", "_n", "p", h.cast("long").alias("h"))
    win = Window.partitionBy("doc_id").orderBy("p").rowsBetween(0, w - 1)
    return (
        grams.select(
            "doc_id",
            "p",
            "_n",
            F.min("h").over(win).alias("fp"),
        )
        # winnowing only selects from FULL windows of w k-grams
        .filter(F.col("p") <= F.col("_n") - (k - 1) - (w - 1))
        .select("doc_id", "fp")
        .distinct()
    )


def winnow_stream(df, text_col: str, id_col: str, carry_cols, k: int = 5, w: int = 4):
    """Winnowing fingerprints as ONE Arrow ``mapInPandas`` pass — the
    hot-path twin of :func:`winnow_fingerprints` (same hash family,
    same window-min selection), returning the distinct (doc, fp) pairs
    with ``carry_cols`` carried through so the consumer's join back
    onto the documents table disappears.

    Exists because the exploded expression form pays, at corpus scale:
    an interpreted per-char ``transform(split(t,''), ascii)`` HOF, a
    position explode to |chars| rows, a per-doc window sort under one
    Exchange, and a distinct under another — ~68 s at the 100x probe,
    nearly all of it those two corpus-char-sized shuffles plus the
    interpreted char-code build. Here the whole pipeline (normalize,
    char codes, base-31 polynomial gram hashes, sliding window min,
    per-doc distinct) is NumPy inside one narrow pass: no explode, no
    shuffle at all.

    BIT-EQUALITY CONTRACT: output row multiset ==
    ``winnow_fingerprints(df, text_col, id_col, k, w)`` joined to the
    carry columns — pinned by tests/test_operators_golden.py::
    test_winnow_stream_matches_expression_spec. JVM semantics mirrored
    by hand: ``trim`` strips ASCII space 0x20 only, Java ``\\s`` is
    the ASCII class, ``split(t, '')`` yields per-codepoint strings and
    ``ascii`` the codepoint (Python ``ord``), hashes are exact int64
    (the JVM int sum never overflows on codepoints < 2327, which the
    ANSI session would reject anyway).
    """
    import numpy as np

    carry_cols = list(carry_cols)
    out_schema = ", ".join(
        [f"{id_col} {df.schema[id_col].dataType.simpleString()}"]
        + [f"{c} {df.schema[c].dataType.simpleString()}" for c in carry_cols]
        + ["fp bigint"]
    )
    weights = [31**j for j in range(k)]

    def gen(batches):
        for pdf in batches:
            texts = pdf[text_col]
            ids = pdf[id_col]
            carry = pdf[carry_cols]
            out_idx: list[int] = []
            out_fp: list[np.ndarray] = []
            for i, t in enumerate(texts):
                if t is None:
                    continue
                norm = JAVA_WS.sub(" ", t.strip(" ").lower())
                n = len(norm)
                if n < k or n - (k - 1) < w:
                    continue
                # vectorized codepoints: UTF-32-LE bytes ARE the
                # codepoint array (one uint32 per Python char)
                codes = np.frombuffer(
                    norm.encode("utf-32-le"), dtype=np.uint32
                ).astype(np.int64)
                h = codes[: n - (k - 1)] * weights[0]
                for j in range(1, k):
                    h = h + codes[j : n - (k - 1) + j] * weights[j]
                mins = np.lib.stride_tricks.sliding_window_view(h, w).min(
                    axis=1
                )
                fps = np.unique(mins)
                out_idx.extend([i] * len(fps))
                out_fp.append(fps)
            if out_idx:
                res = carry.iloc[out_idx].reset_index(drop=True)
                res.insert(0, id_col, ids.iloc[out_idx].reset_index(drop=True))
                res["fp"] = np.concatenate(out_fp)
                yield res
            else:
                res = carry.iloc[[]].reset_index(drop=True)
                res.insert(0, id_col, ids.iloc[[]].reset_index(drop=True))
                res["fp"] = np.array([], dtype=np.int64)
                yield res

    from ..catalog import sized_for_compute

    # sized_for_compute: the per-doc hash/window work is the heavy
    # part; a small export arriving as a handful of splits would run
    # it near-serially (measured 20s -> 6.5s at the 100x probe, whose
    # layout is 4 files on 32 cores)
    return sized_for_compute(df.select(id_col, *carry_cols, text_col)).mapInPandas(
        gen, schema=out_schema
    )


def cdc_chunks(df, text_col: str, id_col: str, w: int = 8, div: int = 64):
    """Content-defined chunking (the gear/Rabin family behind storage
    dedup and chunk-level corpus dedup, cf. FastCDC, Xia et al.
    ATC'16): a boundary is cut after character e whenever the base-31
    polynomial hash of the w-gram ending at e is ≡ 0 (mod div), so
    boundaries depend on CONTENT, not offsets — an insertion early in
    a document shifts every fixed-size block but leaves all later CDC
    chunks (and their hashes) intact. Expected chunk length ≈ div.

    Pure CDC (no min/max clamp) is used deliberately: clamped variants
    make each boundary depend on the previous one — a per-document
    sequential scan — while the pure form is embarrassingly
    position-parallel (the winnowing explode pattern, same hash
    family). Chunk re-extraction via substring is O(doc_len · chunks)
    worst-case on UTF8String offsets, bounded here by the ~1 KB doc
    length, NOT corpus size — at 100 TB cost stays linear in corpus.

    Returns (doc_id, chunk_len, h) — one row per chunk, h the
    portable-48 hash of the chunk text (exact SQL twin).
    """
    from ..operators.dedup import portable_hash48

    c = F.col(text_col) if isinstance(text_col, str) else text_col
    t = F.regexp_replace(F.lower(F.trim(c)), r"\s+", " ")
    # localCheckpoint: normalized text + char-code array feed BOTH the
    # position-explode branch and the spans join — unchecked, the scan
    # + regexp + split ran once per branch (the cross-source sibling
    # had the same shape one level up)
    base = df.select(
        F.col(id_col).alias("doc_id"),
        t.alias("_t"),
        F.transform(F.split(t, ""), F.ascii).alias("_c"),
    ).filter(F.length("_t") >= 1).localCheckpoint()
    pos = base.filter(F.size("_c") >= w).select(
        "doc_id",
        F.size("_c").alias("_n"),
        F.col("_c"),
        F.explode(F.sequence(F.lit(1), F.size("_c") - (w - 1))).alias("p"),
    )
    h = None
    for j in range(w):
        # long arithmetic: 31^7 · 127 overflows int32 at w = 8
        term = F.element_at(F.col("_c"), F.col("p") + j).cast("long") * F.lit(
            31**j
        ).cast("long")
        h = term if h is None else h + term
    cuts = (
        pos.select("doc_id", "_n", h.cast("long").alias("h"), "p")
        .filter((F.col("h") % div == 0) & (F.col("p") + (w - 1) < F.col("_n")))
        .groupBy("doc_id")
        .agg(F.sort_array(F.collect_list(F.col("p") + (w - 1))).alias("cs"))
    )
    spans = (
        base.join(cuts, "doc_id", "left")
        .select(
            "doc_id",
            "_t",
            F.length("_t").alias("n"),
            F.coalesce(F.col("cs"), F.array().cast("array<long>")).alias("cs"),
        )
        .select(
            "doc_id",
            "_t",
            F.explode(
                F.arrays_zip(
                    F.concat(F.array(F.lit(0).cast("long")), F.col("cs")),
                    F.concat(F.col("cs"), F.array(F.col("n").cast("long"))),
                )
            ).alias("z"),
        )
        .select(
            "doc_id",
            F.col("z.0").alias("s"),
            F.col("z.1").alias("e"),
            "_t",
        )
        .filter(F.col("e") > F.col("s"))
    )
    return spans.select(
        "doc_id",
        (F.col("e") - F.col("s")).alias("chunk_len"),
        portable_hash48(
            F.expr("substring(_t, s + 1, e - s)"), "cdc"
        ).alias("h"),
    )


def cdc_chunk_stream(df, text_col: str, id_col: str, carry_cols=(),
                     w: int = 8, div: int = 64):
    """CDC chunking as ONE Arrow ``mapInPandas`` pass: emits
    (id_col, *carry_cols, chunk_len, h) — one row per chunk, no
    shuffle, no join, partition-parallel.

    Exists because the expression form (:func:`cdc_chunks`) pays, per
    run, a localCheckpoint barrier, a per-character interpreted
    ``transform(split(t,''), ascii)`` (HOF = CodegenFallback, the
    ngram_stream diagnosis), a position-explode, a groupBy(doc)
    shuffle to collect cuts, and a join back to the text — all to
    compute a function that is row-local per document. Here the whole
    per-doc pipeline (normalize, rolling base-31 w-gram hash, cut,
    re-slice, portable-48 chunk hash) runs in numpy/hashlib over Arrow
    batches; carry columns ride along, so the caller's doc_id->source
    join disappears too.

    BIT-EQUALITY CONTRACT: output row multiset must equal
    ``cdc_chunks(df, text_col, id_col, w, div)`` joined to
    ``df.select(id_col, *carry_cols)`` exactly — pinned by
    tests/test_operators_golden.py::test_cdc_chunk_stream_matches_expression_spec.
    Semantics mirrored precisely: ``trim`` strips ASCII space 0x20
    only, ``lower`` between trim and the Java ``\\s+`` collapse
    ([ \\t\\n\\x0B\\f\\r], NOT Python's unicode class), char codes are
    code points (utf-32 units = Spark's split('')+ascii), and the
    chunk hash is the first 12 md5 hex digits of ``chunk || '#cdc'``
    (operators.dedup.portable_hash48).
    """
    import hashlib

    import numpy as np

    carry_cols = list(carry_cols)
    sel = [id_col] + carry_cols
    out_schema = ", ".join(
        f"{c} {df.schema[c].dataType.simpleString()}" for c in sel
    ) + ", chunk_len bigint, h bigint"
    pows = [31**j for j in range(w)]
    # portable_hash48 salt is the literal string "cdc" for this family
    salt = b"#cdc"
    FLUSH_ROWS = 131_072

    def gen(batches):
        p = np.array(pows, dtype=np.int64)
        md5 = hashlib.md5
        sw = np.lib.stride_tricks.sliding_window_view
        for pdf in batches:
            texts = pdf[text_col]
            carry = pdf[sel]
            out_idx: list[int] = []
            out_len: list[int] = []
            out_h: list[int] = []
            for i, t in enumerate(texts):
                if t is None:
                    continue
                s = JAVA_WS.sub(" ", t.strip(" ").lower())
                n = len(s)
                if n < 1:
                    continue
                if n >= w:
                    codes = np.frombuffer(
                        s.encode("utf-32-le"), dtype="<u4"
                    ).astype(np.int64)
                    hs = sw(codes, w) @ p
                    cut_idx = np.nonzero(hs % div == 0)[0] + w
                    cuts = cut_idx[cut_idx < n]
                    bounds = [0, *cuts.tolist(), n]
                else:
                    bounds = [0, n]
                for b0, b1 in zip(bounds, bounds[1:]):
                    chunk = s[b0:b1]
                    out_idx.append(i)
                    out_len.append(b1 - b0)
                    out_h.append(
                        int(
                            md5(chunk.encode("utf-8") + salt).hexdigest()[:12],
                            16,
                        )
                    )
                if len(out_idx) >= FLUSH_ROWS:
                    res = carry.iloc[out_idx].reset_index(drop=True)
                    res["chunk_len"] = np.asarray(out_len, dtype=np.int64)
                    res["h"] = np.asarray(out_h, dtype=np.int64)
                    yield res
                    out_idx, out_len, out_h = [], [], []
            if out_idx:
                res = carry.iloc[out_idx].reset_index(drop=True)
                res["chunk_len"] = np.asarray(out_len, dtype=np.int64)
                res["h"] = np.asarray(out_h, dtype=np.int64)
                yield res

    return df.select(*sel, text_col).mapInPandas(gen, schema=out_schema)


def lang_id_heuristic(col: str | Column) -> Column:
    """Tiny deterministic language-ID stand-in: scores by marker-word
    hits. Real model would be a pandas-UDF over a fastText-style model;
    the engine contract (schema, groupable output) is identical."""
    t = F.transform(tokens(col), lambda x: F.lower(x))

    def hits(words: tuple[str, ...]) -> Column:
        arr = F.array([F.lit(w) for w in words])
        return F.size(F.filter(t, lambda x: F.array_contains(arr, x)))

    en = hits(("the", "and", "is", "of"))
    es = hits(("el", "la", "de", "que"))
    de = hits(("der", "die", "und", "ist"))
    return (
        F.when((en >= es) & (en >= de) & (en > 0), F.lit("en"))
        .when((es >= de) & (es > 0), F.lit("es"))
        .when(de > 0, F.lit("de"))
        .otherwise(F.lit("unknown"))
    )


# PII / denylist scrub patterns (RE2/Java common subset — no
# lookaround, no backreferences), shared verbatim by the
# pipe_pii_blocklist_scrub oracle and the streaming ingest projection.
SCRUB_BLOCK = r"\b(customer|vector|stream)\b"
SCRUB_EMAIL = r"[a-z0-9._%+-]+@[a-z0-9.-]+\.[a-z]{2,}"
SCRUB_IPV4 = r"\b\d{1,3}\.\d{1,3}\.\d{1,3}\.\d{1,3}\b"


def scrub_counts(docs) -> "DataFrame":
    """Stateless per-document scrub projection — identical over a
    batch table or a file-source stream (no window, no state): hit
    counts per pattern plus the exact character mass a mask-to-empty
    removes, with the fixed masking order (block, email, ipv4)."""
    t = F.lower(F.trim(F.col("text")))
    occ = {
        name: F.size(F.regexp_extract_all(t, F.lit(pat), F.lit(0)))
        for name, pat in (
            ("block", SCRUB_BLOCK),
            ("email", SCRUB_EMAIL),
            ("ipv4", SCRUB_IPV4),
        )
    }
    masked = F.regexp_replace(
        F.regexp_replace(F.regexp_replace(t, SCRUB_BLOCK, ""), SCRUB_EMAIL, ""),
        SCRUB_IPV4,
        "",
    )
    return docs.select(
        "doc_id",
        "source",
        occ["block"].alias("occ_block"),
        occ["email"].alias("occ_email"),
        occ["ipv4"].alias("occ_ipv4"),
        (F.length(t) - F.length(masked)).alias("chars_masked"),
    )
