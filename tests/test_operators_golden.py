"""Golden unit tests for composite operators — hand-computed expected
values (the reference's methodology-block style, SURVEY §5)."""

from __future__ import annotations

import datetime as dt

import pytest
from pyspark.sql import functions as F

from appeals_data_spark.operators.closure import connected_components
from appeals_data_spark.operators.dedup import (
    exact_dedup_groups,
    hamming64,
    jaccard,
    minhash_band_pairs,
    simhash64,
)
from appeals_data_spark.operators.fuzzy_join import fuzzy_asof_join
from appeals_data_spark.operators.similarity import (
    pq_adc_topk,
    pq_codebooks,
    pq_encode,
)
from appeals_data_spark.operators.pit import date_grid, pit_backlog
from appeals_data_spark.operators.sessionize import sessionize
from appeals_data_spark.operators.survival import kaplan_meier


def ts(s: str) -> dt.datetime:
    return dt.datetime.fromisoformat(s)


def test_sessionize_gap_rule(spark):
    df = spark.createDataFrame(
        [
            (1, ts("2024-01-01T10:00:00"), 1),
            (1, ts("2024-01-01T10:10:00"), 2),  # same session (10 min)
            (1, ts("2024-01-01T11:00:00"), 3),  # new session (50 min > 30)
            (2, ts("2024-01-01T09:00:00"), 4),  # separate user
        ],
        "user bigint, t timestamp_ntz, eid bigint",
    )
    out = sessionize(df, "user", "t", 1800, "eid").collect()
    got = {(r.user, r.eid): r.session_seq for r in out}
    assert got == {(1, 1): 1, (1, 2): 1, (1, 3): 2, (2, 4): 1}


def test_fuzzy_asof_precise_beats_closer_fuzzy(spark):
    left = spark.createDataFrame(
        [(100, 7, ts("2024-03-10T12:00:00"))], "p_id bigint, uid bigint, p_ts timestamp_ntz"
    )
    right = spark.createDataFrame(
        [
            (1, 7, ts("2024-03-10T23:00:00")),  # same day -> precise (11h away)
            (2, 7, ts("2024-03-10T12:05:00")),  # same day, earlier ts wins? no: order by s_ts asc
            (3, 7, ts("2024-03-09T12:01:00")),  # 1 day off -> fuzzy
        ],
        "s_id bigint, uid bigint, s_ts timestamp_ntz",
    )
    out = fuzzy_asof_join(
        left, right, on="uid", left_key="p_id", left_ts="p_ts", right_ts="s_ts",
        tolerance_days=3, right_tiebreak="s_id", how="inner",
    ).collect()
    assert len(out) == 1
    row = out[0]
    assert row.match_type == "precise"
    assert row.s_id == 2  # precise matches ranked by earliest right ts


def test_fuzzy_asof_left_keeps_unmatched(spark):
    left = spark.createDataFrame(
        [(1, 5, ts("2024-01-01T00:00:00")), (2, 6, ts("2024-01-01T00:00:00"))],
        "p_id bigint, uid bigint, p_ts timestamp_ntz",
    )
    right = spark.createDataFrame(
        [(9, 5, ts("2024-01-02T00:00:00"))], "s_id bigint, uid bigint, s_ts timestamp_ntz"
    )
    out = fuzzy_asof_join(
        left, right, on="uid", left_key="p_id", left_ts="p_ts", right_ts="s_ts",
        tolerance_days=3, how="left",
    )
    rows = {r.p_id: r for r in out.collect()}
    assert rows[1].match_type == "fuzzy"
    assert rows[2].match_type is None


def test_pit_backlog_hand_computed(spark):
    intervals = spark.createDataFrame(
        [
            (dt.date(2024, 1, 1), dt.date(2024, 1, 15)),
            (dt.date(2024, 1, 8), dt.date(2024, 1, 9)),
        ],
        "enter date, exit date",
    )
    grid = date_grid(spark, "2024-01-01", "2024-01-29", 7)
    for strategy in ("explode", "grid"):
        out = {
            r.grid_date: r.backlog
            for r in pit_backlog(intervals, grid, "enter", "exit", 7, strategy).collect()
        }
        assert out == {
            dt.date(2024, 1, 1): 1,   # first interval open
            dt.date(2024, 1, 8): 2,   # both open (second exits on the 9th)
            dt.date(2024, 1, 15): 0,  # first exits ON the 15th (exit exclusive)
            dt.date(2024, 1, 22): 0,
            dt.date(2024, 1, 29): 0,
        }


def test_pit_backlog_null_exit_open_by_default(spark):
    # NULL exit = still open (capacity.R:84-86) even when the caller
    # does not pass grid_end — the sentinel is derived from the grid.
    intervals = spark.createDataFrame(
        [
            (dt.date(2024, 1, 1), None),               # never closes
            (dt.date(2024, 1, 1), dt.date(2024, 1, 9)),
        ],
        "enter date, exit date",
    )
    grid = date_grid(spark, "2024-01-01", "2024-01-15", 7)
    for strategy in ("explode", "grid"):
        out = {
            r.grid_date: r.backlog
            for r in pit_backlog(intervals, grid, "enter", "exit", 7, strategy).collect()
        }
        assert out == {
            dt.date(2024, 1, 1): 2,
            dt.date(2024, 1, 8): 2,
            dt.date(2024, 1, 15): 1,  # only the open interval remains
        }


def test_kaplan_meier_textbook(spark):
    # classic example: times 1,2,3 events; censor at 2
    rec = spark.createDataFrame(
        [(1, 1), (2, 1), (2, 0), (3, 1)], "t int, e int"
    )
    out = {r.t: r for r in kaplan_meier(rec, "t", "e").collect()}
    assert out[1].n_risk == 4 and out[1].n_event == 1
    assert abs(out[1].survival - 0.75) < 1e-12
    assert out[2].n_risk == 3 and out[2].n_event == 1 and out[2].n_censored == 1
    assert abs(out[2].survival - 0.5) < 1e-12
    assert out[3].n_risk == 1 and out[3].n_event == 1
    assert abs(out[3].survival - 0.0) < 1e-12


def test_connected_components_two_islands(spark):
    edges = spark.createDataFrame(
        [(1, 2), (2, 3), (10, 11), (11, 12), (12, 10)], "src bigint, dst bigint"
    )
    out = {r.node: r.component for r in connected_components(edges).collect()}
    assert out == {1: 1, 2: 1, 3: 1, 10: 10, 11: 10, 12: 10}


def test_exact_dedup_groups(spark):
    df = spark.createDataFrame(
        [
            (1, "Hello  World"),
            (2, "hello world"),   # same after normalization
            (3, "different doc"),
        ],
        "doc_id bigint, text string",
    )
    out = exact_dedup_groups(df, "text", "doc_id").collect()
    assert len(out) == 1
    assert out[0].n_docs == 2 and out[0].keeper == 1 and out[0].members == [1, 2]


def test_simhash_similar_texts_close(spark):
    df = spark.createDataFrame(
        [
            (1, "the quick brown fox jumps over the lazy dog again and again"),
            (2, "the quick brown fox jumps over the lazy cat again and again"),
            (3, "completely unrelated words about spark dataframes and shuffles"),
        ],
        "doc_id bigint, text string",
    )
    fp = df.select("doc_id", simhash64("text").alias("fp")).collect()
    fps = {r.doc_id: r.fp for r in fp}
    a, b = spark.createDataFrame([(fps[1], fps[2]), (fps[1], fps[3])], "x long, y long"), None
    d = a.select(hamming64(F.col("x"), F.col("y")).alias("h")).collect()
    near, far = d[0].h, d[1].h
    assert near < far, (near, far)
    assert near <= 16  # one-token difference stays close


def test_simhash_fingerprints_match_column_form(spark):
    """The codegen bit-vote aggregation must be bit-identical to the
    HOF column form (including the token-less doc -> fp 0 case)."""
    from appeals_data_spark.operators.dedup import simhash_fingerprints

    df = spark.createDataFrame(
        [
            (1, "the quick brown fox jumps over the lazy dog"),
            (2, "pack my box with five dozen liquor jugs"),
            (3, "sphinx of black quartz judge my vow"),
            (4, ""),  # token-less
        ],
        "doc_id bigint, text string",
    )
    hof = {r.doc_id: r.fp for r in df.select("doc_id", simhash64("text").alias("fp")).collect()}
    agg = {r.doc_id: r.fp for r in simhash_fingerprints(df, "text", "doc_id").collect()}
    assert hof == agg


def test_minhash_lsh_finds_near_duplicate(spark):
    base = "alpha beta gamma delta epsilon zeta eta theta iota kappa " * 3
    df = spark.createDataFrame(
        [
            (1, base),
            (2, base.replace("kappa", "lambda", 1)),  # near-dup
            (3, "totally different content with no overlap whatsoever at all ok"),
        ],
        "doc_id bigint, text string",
    )
    pairs = {
        (r.id_a, r.id_b) for r in minhash_band_pairs(df, "text", "doc_id").collect()
    }
    assert (1, 2) in pairs
    assert (1, 3) not in pairs and (2, 3) not in pairs


def test_winnow_guarantee_shared_substring(spark):
    # Winnowing guarantee: a shared substring of length >= k + w - 1
    # (= 8 here) always yields a shared fingerprint; disjoint alphabets
    # share nothing.
    from appeals_data_spark.functions.text import winnow_fingerprints

    df = spark.createDataFrame(
        [
            (1, "the quick brown fox jumps over it"),
            (2, "xx the quick brown dog sits"),
            (3, "zzzzzzzzzzzzzzzzzzzz"),
        ],
        "doc_id bigint, text string",
    )
    fps = winnow_fingerprints(df, "text", "doc_id", k=5, w=4)
    by_doc = {
        i: {r.fp for r in fps.filter(F.col("doc_id") == i).collect()} for i in (1, 2, 3)
    }
    assert by_doc[1] & by_doc[2]  # share "the quick brown " (16 chars)
    assert not (by_doc[1] & by_doc[3])
    # doc shorter than k + w - 1 full-window minimum yields no rows
    tiny = spark.createDataFrame([(9, "abcdefg")], "doc_id bigint, text string")
    assert winnow_fingerprints(tiny, "text", "doc_id", k=5, w=4).count() == 0


def test_winnow_stream_matches_expression_spec(spark):
    """functions.text.winnow_stream (the round-12 Arrow producer) must
    emit the EXACT row multiset of winnow_fingerprints joined to its
    carry columns — on real testdata AND on edge rows exercising the
    JVM semantics the Python port mirrors by hand: ASCII-space-only
    trim before lower, Java \\s whitespace collapse, per-codepoint
    char codes, docs below the k+w-1 full-window minimum, empty and
    NULL text, repeated window-mins (distinct per doc)."""
    import pyspark.sql.functions as F

    from appeals_data_spark.catalog import load_table
    from appeals_data_spark.functions.text import (
        winnow_fingerprints,
        winnow_stream,
    )

    from conftest import SF_CORRECT

    def multiset(df):
        out = {}
        for r in df.collect():
            key = tuple(r)
            out[key] = out.get(key, 0) + 1
        return out

    d = load_table(spark, SF_CORRECT, "documents")
    got = multiset(
        winnow_stream(d, "text", "doc_id", ["source"], k=5, w=4).select(
            "doc_id", "source", "fp"
        )
    )
    want = multiset(
        winnow_fingerprints(d, "text", "doc_id", k=5, w=4)
        .join(d.select("doc_id", "source"), "doc_id")
        .select("doc_id", "source", "fp")
    )
    assert got == want and len(got) > 0

    edge = spark.createDataFrame(
        [
            (1, "  The quick  Brown fox JUMPS over the dog  "),
            (2, "\t tab\nlead kept by space-only trim then more"),
            (3, "aaaaaaaaaaaaaaaaaaaa"),  # repeated grams -> one min
            (4, "abcdefg"),  # below k+w-1: no full window
            (5, ""),
            (6, None),
            (7, "héllo wörld ünïcode rolling hash characters"),
        ],
        "doc_id long, text string",
    )
    got = multiset(
        winnow_stream(edge, "text", "doc_id", [], k=5, w=4).select(
            "doc_id", "fp"
        )
    )
    want = multiset(winnow_fingerprints(edge, "text", "doc_id", k=5, w=4))
    assert got == want and len(got) > 0
    assert not any(k[0] in (4, 5, 6) for k in got)


def test_top2gram_stats_match_expression_spec(spark):
    """queries.textops_q._top2gram_stats (the round-12 Arrow producer)
    must emit the EXACT row multiset of the expression pipeline it
    replaces: size(tokens(low)) wc, explode(shingles(low,2)) counts,
    per-doc max — on real testdata and on edge rows (repeats, doc
    below wc=2, empty, NULL, unicode, tab/space trim semantics)."""
    import pyspark.sql.functions as F

    from appeals_data_spark.catalog import load_table
    from appeals_data_spark.functions.text import shingles, tokens
    from appeals_data_spark.queries.textops_q import _top2gram_stats

    from conftest import SF_CORRECT

    def spec(d):
        low = F.lower(F.trim(F.col("text")))
        base = d.select(
            "doc_id",
            "source",
            F.size(tokens(low)).alias("wc"),
            shingles(low, 2).alias("grams"),
        ).filter(F.col("wc") >= 2)
        cnt = (
            base.select(
                "doc_id", "source", "wc", F.explode("grams").alias("gram")
            )
            .groupBy("doc_id", "source", "wc", "gram")
            .agg(F.count("*").alias("c"))
        )
        return cnt.groupBy("doc_id", "source", "wc").agg(
            F.max("c").alias("topc")
        )

    def multiset(df):
        out = {}
        for r in df.collect():
            key = tuple(r)
            out[key] = out.get(key, 0) + 1
        return out

    d = load_table(spark, SF_CORRECT, "documents")
    got = multiset(_top2gram_stats(d))
    want = multiset(spec(d))
    assert got == want and len(got) > 0

    edge = spark.createDataFrame(
        [
            (1, "sA", "a b a b a b c"),
            (2, "sB", "  \t x\ny  x y  "),
            (3, "sC", "one"),
            (4, "sD", ""),
            (5, "sE", None),
            (6, "sF", "HÉllo wörld HÉllo wörld"),
        ],
        "doc_id long, source string, text string",
    )
    got = multiset(_top2gram_stats(edge))
    want = multiset(spec(edge))
    assert got == want and len(got) > 0
    assert not any(k[0] in (3, 4, 5) for k in got)


def test_jaccard_expr(spark):
    df = spark.createDataFrame([(["a", "b", "c"], ["b", "c", "d"])], "x array<string>, y array<string>")
    assert abs(df.select(jaccard(F.col("x"), F.col("y")).alias("j")).collect()[0].j - 0.5) < 1e-12


def test_decision_locs_composite_semantics(spark):
    """Pin .parseDecisionLocs run/storage semantics (events.R:207-236)
    via the registered composite's window logic on a hand-built log.
    dispatch locs = {click, view}; decision loc = signup; central
    dispatch = purchase."""
    from datetime import datetime

    from appeals_data_spark.queries.composite_q import comp_decision_locs

    def t(m):
        return datetime(2024, 1, 1, 0, m)

    rows = [
        # user 1: signup -> click -> view -> purchase  => decision (storage=purchase)
        (1, 1, "signup", t(0)),
        (2, 1, "click", t(1)),
        (3, 1, "view", t(2)),
        (4, 1, "purchase", t(3)),
        # user 1 later: signup -> click -> error       => run ends at error, no decision
        (5, 1, "signup", t(10)),
        (6, 1, "click", t(11)),
        (7, 1, "error", t(12)),
        # user 2: signup at end of case (run hits case boundary) => storage NULL, none
        (8, 2, "signup", t(0)),
        (9, 2, "click", t(1)),
        # user 3: two qualifying decisions => only the LATEST survives
        (10, 3, "signup", t(0)),
        (11, 3, "purchase", t(1)),
        (12, 3, "signup", t(2)),
        (13, 3, "view", t(3)),
        (14, 3, "purchase", t(4)),
    ]
    df = spark.createDataFrame(rows, "event_id long, user_id long, event_type string, ts timestamp")
    # route the builder through a temp-table shim: monkeypatch load_table
    import appeals_data_spark.queries.composite_q as cq

    orig = cq.load_table
    cq.load_table = lambda s, d, n: df if n == "events" else orig(s, d, n)
    try:
        out = {r.entity_id: r.decision_ts for r in comp_decision_locs(spark, "unused").collect()}
    finally:
        cq.load_table = orig
    assert out == {1: t(0), 3: t(2)}, out


def test_lloyd_refine_drops_empty_cluster(spark):
    # Two tight groups near +x and +y, three seeds: the outlier seed
    # (-x) captures nothing after round 1 and must vanish from the
    # centroid table rather than crash or emit NULL vectors.
    from appeals_data_spark.operators.similarity import (
        assign_to_centroids,
        lloyd_refine,
    )

    rows = [
        (0, [1.0, 0.1]), (1, [1.0, 0.2]), (2, [0.9, 0.0]),
        (3, [0.1, 1.0]), (4, [0.0, 0.9]),
    ]
    emb = spark.createDataFrame(rows, "vec_id bigint, embedding array<double>")
    # seeds: one per true group plus a decoy no vector is nearest to
    seeds = spark.createDataFrame(
        [(0, [1.0, 0.0]), (1, [0.0, 1.0]), (2, [-1.0, -1.0])],
        "c_label bigint, cvec array<double>",
    )
    cents = lloyd_refine(emb, seeds, n_iter=2)
    got = {r.c_label: r.cvec for r in cents.collect()}
    assert set(got) == {0, 1}  # decoy cluster dropped
    assert all(all(v is not None for v in vec) for vec in got.values())
    final = assign_to_centroids(emb, cents, 1)
    counts = {r.c_label: 1 for r in final.collect()}
    assert set(counts) == {0, 1}


def test_funnel_all_null_step_counts_zero(spark):
    """A step no user ever reaches must report 0, not NULL (the
    chained flag is NULL when the later timestamp is missing, and a
    bare SUM would skip every row); ordering is strict, so a tie
    timestamp does not advance."""
    from appeals_data_spark.queries.events_q import funnel_counts

    rows = [
        (1, "signup", ts("2024-01-01T10:00:00")),
        (1, "click", ts("2024-01-01T11:00:00")),  # skipped 'view'
        (2, "signup", ts("2024-01-02T09:00:00")),
        (2, "view", ts("2024-01-02T09:00:00")),  # tie: does not advance
    ]
    e = spark.createDataFrame(rows, "user_id bigint, event_type string, ts timestamp_ntz")
    got = {
        r.step_name: r.n_users
        for r in funnel_counts(e, ["signup", "view", "click", "purchase"]).collect()
    }
    assert got == {"signup": 2, "view": 0, "click": 0, "purchase": 0}


def test_bpe_merge_table_textbook(spark):
    """Sennrich et al.'s canonical word-dict example, hand-computed:
    round 1 ties es/st at 9 and the lexicographic tie-break picks es;
    round 2 fuses (es,t); round 3 ties lo/ow at 7 and picks lo."""
    from appeals_data_spark.operators.bpe import bpe_merge_table

    words = spark.createDataFrame(
        [("low", 5), ("lower", 2), ("newest", 6), ("widest", 3)],
        "word string, n long",
    )
    got = [
        (r.merge_round, r.pa, r.pb, r.pair_count)
        for r in bpe_merge_table(words, n_rounds=3).collect()
    ]
    assert got == [(1, "e", "s", 9), (2, "es", "t", 9), (3, "l", "o", 7)]


def test_pq_identical_vectors_share_codes_and_win_adc(spark):
    """Hand-built 4-dim corpus, two separated clusters: identical
    vectors must encode to identical codes, and ADC must rank the
    same-code candidates (the query's own cluster, tied at the query's
    quantization distance, id-ascending) ahead of the far cluster."""
    rows = [
        (0, [1.0, 0.0, 0.0, 0.0], 0),
        (1, [0.9, 0.1, 0.0, 0.0], 0),
        (2, [0.0, 0.0, 1.0, 0.1], 1),
        (3, [0.0, 0.0, 0.9, 0.0], 1),
        (5, [1.0, 0.0, 0.0, 0.0], 0),  # exact duplicate of vec 0
    ]
    emb = spark.createDataFrame(
        rows, "vec_id bigint, embedding array<float>, label int"
    )
    cb = pq_codebooks(emb, sub=2)
    assert cb.count() == 4  # 2 blocks x 2 label codes
    assert all(len(r.subvec) == 2 for r in cb.collect())
    codes = pq_encode(emb, cb, m=2, sub=2)
    assert codes.count() == 10  # every vector gets one code per block
    by_vec = {
        v: {(r.block, r.code) for r in g}
        for v, g in __import__("itertools").groupby(
            sorted(codes.collect(), key=lambda r: r.vec_id), key=lambda r: r.vec_id
        )
    }
    assert by_vec[0] == by_vec[5]  # identical input -> identical codes
    top = pq_adc_topk(codes, cb, emb.filter("vec_id = 0"), m=2, sub=2, k=3).collect()
    # cluster-0 members tie at the query's own quantization distance and
    # order by id; the far cluster fills the remaining slot
    assert [r.corpus_id for r in top] == [1, 5, 3] or [
        r.corpus_id for r in top
    ][:2] == [1, 5]


def test_fused_event_union_parity(spark):
    """events_all()'s fused plan (len(FUSED_EXTRACTORS) branches over
    one narrow scan per source table) must produce exactly the granular
    len(EXTRACTORS)-extractor union's multiset — same rows, same
    duplicates, incl. the NULL-labelled hearing rows the NA-propagating
    SQL_R_IFELSE label retains."""
    from functools import reduce

    from pyspark.sql import DataFrame

    from conftest import SF_SMOKE

    from appeals_data_spark.views.events import (
        EXCLUDED_ENTITIES,
        EXTRACTORS,
        events_all,
    )

    granular = reduce(
        DataFrame.unionByName, (ex(spark, SF_SMOKE) for ex in EXTRACTORS)
    ).filter(~F.col("entity_id").isin(*EXCLUDED_ENTITIES))
    fused = events_all(spark, SF_SMOKE)

    def key(df):
        # NULLs sort via an explicit is-null flag so a branch emitting
        # 0.0/"" where the other emits NULL cannot pass as equal
        return sorted(
            (
                r["entity_id"],
                (r["event_type"] is None, r["event_type"] or ""),
                r["ts"],
                (r["amount"] is None, r["amount"] or 0.0),
            )
            for r in df.collect()
        )

    assert key(fused) == key(granular)


def test_review_run_parser_boundaries(spark):
    """Pin the TO/FROM run-parser semantics (.parseVSOLocs shape,
    events.R:127-161): a multi-row run emits to_review at its first
    row and from_review at its last; a length-1 run emits both at the
    same ts (same-day checkout/checkin); runs touching the start or
    end of a user's history still close."""
    from datetime import datetime

    import appeals_data_spark.views.events as ev

    def t(m):
        return datetime(2024, 1, 1, 0, m)

    rows = [
        # user 1: leading 2-row view run, a click, then trailing 1-row run
        (1, 1, "view", t(0)),
        (2, 1, "view", t(1)),
        (3, 1, "click", t(2)),
        (4, 1, "view", t(3)),
        # user 2: no views at all
        (5, 2, "click", t(0)),
    ]
    df = spark.createDataFrame(
        rows, "event_id long, user_id long, event_type string, ts timestamp"
    ).withColumn("ts", F.col("ts").cast("timestamp_ntz"))

    orig = ev.load_table
    ev.load_table = lambda s, d, n: df if n == "events" else orig(s, d, n)
    try:
        out = sorted(
            (r["entity_id"], r["event_type"], r["ts"].minute)
            for r in ev.review_window_events(spark, "unused").collect()
        )
    finally:
        ev.load_table = orig
    assert out == [
        (1, "from_review", 1),  # 2-row run closes at its last row
        (1, "from_review", 3),  # trailing length-1 run closes on itself
        (1, "to_review", 0),
        (1, "to_review", 3),
    ]


def test_lineitem_fusion_survives_dangling_order_keys(spark):
    """The fused lineitem branch rides a LEFT join to orders so
    supplier-attributed events keep every line even when a line's
    order key has no orders row (FK violation the fixtures never
    produce): shipments/returns still emit, customer-attributed
    assignment events drop on both paths."""
    from datetime import datetime
    from functools import reduce

    from pyspark.sql import DataFrame

    import appeals_data_spark.views.events as ev

    li = spark.createDataFrame(
        [
            # orderkey 1 exists; orderkey 99 dangles
            (1, 10, 30.0, 100.0, "R", datetime(2024, 1, 5)),
            (99, 11, 10.0, 50.0, "N", datetime(2024, 2, 1)),
        ],
        "l_orderkey long, l_suppkey long, l_quantity double, "
        "l_extendedprice double, l_returnflag string, l_shipdate timestamp",
    ).selectExpr(
        "l_orderkey", "l_suppkey", "l_quantity", "l_extendedprice",
        "l_returnflag", "CAST(l_shipdate AS TIMESTAMP_NTZ) AS l_shipdate",
    )
    o = spark.createDataFrame(
        [(1, 7)], "o_orderkey long, o_custkey long"
    )

    orig = ev.load_table

    def fake(s, d, n):
        if n == "lineitem":
            return li
        if n == "orders":
            return o
        return orig(s, d, n)

    ev.load_table = fake
    try:
        granular = reduce(
            DataFrame.unionByName,
            (
                ex(spark, "unused")
                for ex in (
                    ev.shipment_events,
                    ev.return_events,
                    ev.assignment_events,
                )
            ),
        )
        fused = ev.fused_lineitem_events(spark, "unused")
        key = lambda df: sorted(  # noqa: E731
            (r["entity_id"], r["event_type"], r["ts"], r["amount"])
            for r in df.collect()
        )
        got = key(fused)
        assert got == key(granular)
        # the dangling line still ships (supplier branch), but emits no
        # customer-attributed events
        types_by_supp = {
            (r[0], r[1]) for r in got
        }
        assert (11, "line_shipped") in types_by_supp
        assert not any(
            t in ("ASSIGNMENT", "DRAFT_DECISION") and e == 11
            for e, t in types_by_supp
        )
    finally:
        ev.load_table = orig


def test_pagerank_two_cycle_uniform(spark):
    from appeals_data_spark.operators.graph import pagerank

    edges = spark.createDataFrame([(1, 2), (2, 1)], "src bigint, dst bigint")
    out = {r.node: r.rank for r in pagerank(edges, iterations=4).collect()}
    # A symmetric 2-cycle keeps the uniform distribution fixed exactly.
    assert out == {1: 0.5, 2: 0.5}


def test_pagerank_star_one_round_hand_computed(spark):
    from appeals_data_spark.operators.graph import pagerank

    # 1 -> 2 <- 3, node 2 dangling. After one round (d=0.85, N=3):
    # dangling mass = 1/3 redistributed uniformly.
    edges = spark.createDataFrame([(1, 2), (3, 2)], "src bigint, dst bigint")
    out = {r.node: r.rank for r in pagerank(edges, iterations=1).collect()}
    leaf = 0.15 / 3 + 0.85 * ((1 / 3) / 3)
    hub = 0.15 / 3 + 0.85 * (2 / 3 + (1 / 3) / 3)
    assert out[1] == pytest.approx(leaf)
    assert out[3] == pytest.approx(leaf)
    assert out[2] == pytest.approx(hub)
    # Total rank is conserved every round.
    assert sum(out.values()) == pytest.approx(1.0)


def test_pagerank_empty_graph(spark):
    from appeals_data_spark.operators.graph import pagerank

    edges = spark.createDataFrame([], "src bigint, dst bigint")
    assert pagerank(edges).count() == 0


def test_closure_local_matches_distributed(spark):
    """The two connected_components dispatch arms (round 12: one-pass
    numpy hook+compress vs per-round label propagation) must return the
    IDENTICAL (node, component = min reachable node) table — pure
    integer results, so exact equality, on the real sf0.01 handoff
    graph and on shapes the sweep argument must cover: a long chain
    (diameter >> 1), an isolated self-loop pair, and two merging
    stars."""
    from pyspark.sql import functions as F

    from appeals_data_spark.operators.closure import (
        _components_local,
        connected_components,
    )
    from appeals_data_spark.queries.survival_q import _handoff_edges

    from conftest import SF_CORRECT

    def local_of(edges):
        sym = (
            edges.select(F.col("src").alias("a"), F.col("dst").alias("b"))
            .unionByName(
                edges.select(F.col("dst").alias("a"), F.col("src").alias("b"))
            )
            .localCheckpoint()
        )
        t = sym.schema["a"].dataType.simpleString()
        return _components_local(sym, t)

    def dist_of(edges):
        from appeals_data_spark.operators import closure as mod

        saved = mod.CLOSURE_LOCAL_MAX_EDGES
        mod.CLOSURE_LOCAL_MAX_EDGES = -1  # force the distributed loop
        try:
            return connected_components(edges)
        finally:
            mod.CLOSURE_LOCAL_MAX_EDGES = saved

    cases = [
        _handoff_edges(spark, SF_CORRECT),
        spark.createDataFrame(
            # one 21-node chain — long diameter but within the
            # distributed loop's max_iter bound
            [(i, i + 1) for i in range(20)]
            + [(100, 101)]
            + [(200, 202), (200, 203), (201, 202)],  # merging stars
            "src bigint, dst bigint",
        ),
    ]
    for edges in cases:
        got = {(r.node, r.component) for r in local_of(edges).collect()}
        want = {(r.node, r.component) for r in dist_of(edges).collect()}
        assert got == want and len(got) > 0


def test_pagerank_local_matches_distributed(spark):
    """The two dispatch arms (round 12: one-pass Arrow vs per-round
    checkpointed loop) implement the identical recurrence and may
    differ only in float summation order — pinned here to <1e-9 on the
    real sf0.01 handoff graph, far tighter than the 6-dp rounding every
    consumer applies. Also checks the node sets match exactly."""
    from pyspark.sql import functions as F

    from appeals_data_spark.operators.graph import (
        _pagerank_local,
        pagerank_distributed,
    )
    from appeals_data_spark.queries.survival_q import _handoff_edges

    from conftest import SF_CORRECT

    e = (
        _handoff_edges(spark, SF_CORRECT)
        .select(F.col("src"), F.col("dst"))
        .localCheckpoint()
    )
    local = {r.node: r.rank for r in _pagerank_local(e, 0.85, 6).collect()}
    dist = {
        r.node: r.rank
        for r in pagerank_distributed(e, e.count(), 0.85, 6).collect()
    }
    assert set(local) == set(dist) and len(local) > 0
    assert max(abs(local[n] - dist[n]) for n in local) < 1e-9


def test_morton_interleave_matches_python(spark):
    """The z-order SQL interleave (queries/sources_q._interleave_sql)
    agrees with a bit-twiddling Python reference on edge values."""
    from appeals_data_spark.queries.sources_q import _interleave_sql

    def py_morton(a: int, b: int, bits: int = 16) -> int:
        z = 0
        for i in range(bits):
            z |= ((a >> i) & 1) << (2 * i)
            z |= ((b >> i) & 1) << (2 * i + 1)
        return z

    cases = [(0, 0), (1, 0), (0, 1), (65535, 65535), (43690, 21845), (257, 4096)]
    df = spark.createDataFrame(cases, "d1 bigint, d2 bigint").select(
        "d1",
        "d2",
        F.expr(
            _interleave_sql("d1", "d2", 16, "shiftright({x}, {i})")
        ).alias("z"),
    )
    for r in df.collect():
        assert r.z == py_morton(r.d1, r.d2), (r.d1, r.d2)


def test_materialize_ctes_rewrites_only_cte_definitions():
    from appeals_data_spark.registry import materialize_ctes

    sql = (
        "WITH a AS (SELECT 1 AS x), b AS (\n"
        "  SELECT CAST(x AS DOUBLE) AS y,\n"
        "         SUM(x) OVER w AS s,\n"
        "         COUNT(*) OVER w2 AS c\n"
        "  FROM a\n"
        "  WINDOW w AS (PARTITION BY x), w2 AS (ORDER BY x)\n"
        ")\n"
        "SELECT y AS z FROM b"
    )
    out = materialize_ctes(sql)
    # both CTEs marked
    assert "WITH a AS MATERIALIZED (" in out
    assert ", b AS MATERIALIZED (" in out
    # column aliases, CAST targets, and named WINDOW clauses untouched —
    # including the 2nd+ window of a multi-window list, whose leading
    # comma makes it look like a CTE definition to a naive anchor
    assert "CAST(x AS DOUBLE)" in out
    assert "WINDOW w AS (PARTITION BY x), w2 AS (ORDER BY x)" in out
    assert "y AS z" in out
    # idempotent: a second pass changes nothing
    assert materialize_ctes(out) == out


def test_nearest_centroid_fold_tiebreak(spark):
    # Two centroids exactly equidistant from the probe: the fold's
    # strict > must keep the FIRST (lowest label) — the same
    # (cos DESC, label ASC) order the window-ranked assigners use.
    import pyspark.sql.functions as F

    from appeals_data_spark.operators.similarity import (
        centroid_struct_array,
        nearest_centroid_best,
    )

    cents = spark.createDataFrame(
        [(2, [1.0, 0.0]), (1, [0.0, 1.0])], "c_label int, cvec array<double>"
    )
    probe = spark.createDataFrame(
        [([1.0, 1.0],)], "embedding array<float>"
    ).crossJoin(F.broadcast(centroid_struct_array(cents)))
    best = probe.select(
        nearest_centroid_best(F.col("_cents"), F.col("embedding"), "int").alias("b")
    ).first()["b"]
    assert best["c_label"] == 1


# (k, names, distinct, count_col, carry): every shape a caller uses —
# joined distinct grams with and without a per-doc count and carry
# columns (kgram, gopher, decontam), joined occurrences (substring
# coverage), token columns (LM occurrence streams, 1-gram vocab) —
# plus the combinations no caller uses yet.
_NGRAM_CASES = [
    (1, None, False, None, ["doc_id"]),
    (1, ["token"], False, None, []),
    (2, None, True, None, ["doc_id", "source"]),
    (2, ["prev", "w"], False, None, ["doc_id"]),
    (2, ["a", "b"], True, "n", ["doc_id"]),
    (3, None, True, "n_grams", ["doc_id"]),
    (3, None, True, None, []),
    (3, None, False, None, ["doc_id"]),
    (3, ["u", "v", "w"], False, None, ["doc_id", "source"]),
    (5, None, True, None, ["doc_id", "source"]),
    (5, None, False, None, ["doc_id", "source"]),
]


@pytest.mark.parametrize(
    "k,names,distinct,count_col,carry",
    _NGRAM_CASES,
    ids=[
        f"k{c[0]}-{'cols' if c[1] else 'g'}-{'dist' if c[2] else 'occ'}"
        f"{'-count' if c[3] else ''}-carry{len(c[4])}"
        for c in _NGRAM_CASES
    ],
)
def test_ngram_stream_arrow_arm_matches_expression_arm(
    spark, k, names, distinct, count_col, carry
):
    """functions.text.ngram_stream's Arrow arm must emit the EXACT row
    multiset of its expression arm — explode of the zip-slice array
    over tokens(lower(text)) — on real testdata AND on edge rows
    exercising the JVM semantics the Python tokenizer mirrors by
    hand: ASCII-space-only trim, tab/newline/\\x0b/\\f/\\r separators,
    repeated grams (distinct keeps first occurrence, occurrences keep
    repeats), docs shorter than k, empty, whitespace-only and NULL
    text, and non-ASCII case."""
    from appeals_data_spark.catalog import load_table
    from appeals_data_spark.functions.text import (
        _ngram_arrow,
        _ngram_expression,
    )

    from conftest import SF_CORRECT

    def multiset(df):
        out = {}
        for r in df.collect():
            key = tuple(r)
            out[key] = out.get(key, 0) + 1
        return out

    def both(d):
        args = (d, "text", k, carry, names, distinct, count_col)
        return multiset(_ngram_arrow(*args)), multiset(_ngram_expression(*args))

    docs = load_table(spark, SF_CORRECT, "documents")
    got, want = both(docs)
    assert got == want and len(got) > 0

    edge = spark.createDataFrame(
        [
            (1, "s1", "  A b\tc  B\n\nd a b  "),  # mixed seps, mixed case
            (2, "s1", "x y x y x y"),              # repeated grams
            (3, "s2", "one two"),                  # shorter than k=3
            (4, "s2", "solo"),                     # shorter than k=2
            (5, "s2", ""),                         # empty
            (6, "s3", None),                       # null
            (7, "s3", " \t\n\x0b\f\r "),            # whitespace only
            (8, "s3", "\tlead tab stays then more words here"),
            (9, "s4", "\x0bvert\ftab\rforms split too"),  # full ASCII \s
            (10, "s4", "Ärger ÉCOLE Straße ÇA ça über Ärger École"),
        ],
        "doc_id long, source string, text string",
    )
    got, want = both(edge)
    assert got == want and len(got) > 0
    if names == ["prev", "w"]:
        # occurrence semantics really pinned: doc 2 repeats its bigrams
        assert got[(2, "x", "y")] == 3 and got[(2, "y", "x")] == 2
    if k == 3 and names is None and carry == ["doc_id"]:
        # distinct keeps one row per gram, occurrences keep repeats
        assert got[(2, "x y x") if not count_col else (2, 2, "x y x")] == (
            1 if distinct else 2
        )


def test_ngram_stream_dispatch(spark, monkeypatch):
    """ngram_stream runs the expression arm at or below
    NGRAM_ARROW_MIN_BYTES of scan input and the Arrow pass above it or
    when the size is unknown (a frame with no file scan)."""
    from appeals_data_spark.catalog import load_table
    from appeals_data_spark.functions import text

    from conftest import SF_CORRECT

    def arm(df):
        plan = df._jdf.queryExecution().executedPlan().toString()
        return "arrow" if "MapInPandas" in plan else "expression"

    docs = load_table(spark, SF_CORRECT, "documents")
    assert arm(text.ngram_stream(docs, "text", 3, ["doc_id"])) == "expression"
    # the gram HOF is planned in ONE operator, below the explode: not
    # again above it per emitted row (the per-doc count), nor in an
    # inferred size(...) > 0 filter
    counted = text.ngram_stream(
        docs, "text", 3, ["doc_id"], distinct=True, count_col="n"
    )
    plan = counted._jdf.queryExecution().executedPlan().toString()
    hof_ops = [ln for ln in plan.splitlines() if "lambdafunction" in ln]
    assert len(hof_ops) == 1, plan
    # children print after their parent: the HOF sits below the explode
    assert plan.index(hof_ops[0]) > plan.index("Generate"), plan
    mem = spark.createDataFrame([(1, "a b c")], "doc_id long, text string")
    assert arm(text.ngram_stream(mem, "text", 3, ["doc_id"])) == "arrow"
    monkeypatch.setattr(text, "NGRAM_ARROW_MIN_BYTES", -1)
    assert arm(text.ngram_stream(docs, "text", 3, ["doc_id"])) == "arrow"


def test_para_feature_rows_match_expression_spec(spark):
    """dedup_q._para_feature_rows (the round-12 Arrow producer) must
    emit the EXACT row multiset of the expression-level spec it
    replaces — tokenize -> fixed 20-token slices -> (pidx, md5 of the
    space-joined paragraph, 8-seed portable_hash48 min signature,
    token count) — on real testdata AND on edge rows exercising the
    JVM semantics the Python port mirrors by hand: ASCII-space-only
    trim, tab/newline separators that trim does NOT strip, exact
    multiples of the 20-token window, repeated tokens (the vocab memo
    path), empty and NULL text."""
    from appeals_data_spark.catalog import load_table
    from appeals_data_spark.queries.dedup_q import (
        _PARA,
        _para_feature_rows,
        _para_feature_rows_spec,
    )

    from conftest import SF_CORRECT

    def multiset(df):
        out = {}
        for r in df.collect():
            key = tuple(r)
            out[key] = out.get(key, 0) + 1
        return out

    d = load_table(spark, SF_CORRECT, "documents")
    got = multiset(_para_feature_rows(d))
    want = multiset(_para_feature_rows_spec(d))
    assert got == want and len(got) > 0

    rep = " ".join(["tok"] * (3 * _PARA))           # exact window multiple
    edge = spark.createDataFrame(
        [
            (1, "a", "  Mixed\tsep\n\nwords  here  and more  "),
            (2, "a", rep),                          # repeated tokens, 3 full windows
            (3, "b", rep + " tail"),                # partial last window of 1
            (4, "b", "short doc"),                  # shorter than one window
            (5, "c", ""),                           # empty -> no rows
            (6, "c", None),                         # null -> no rows
            (7, "d", "\tlead tab stays then more words here"),
        ],
        "doc_id long, source string, text string",
    )
    got = multiset(_para_feature_rows(edge))
    want = multiset(_para_feature_rows_spec(edge))
    assert got == want and len(got) > 0


def test_dsir_bucket_rows_match_expression_spec(spark):
    """pipeline_q._dsir_portable_bucket_rows (the round-12 Arrow
    producer) must emit the EXACT per-doc bucket-count multiset of the
    expression spec it replaces — explode(shingles(lower(trim(text)),
    2)) -> portable_hash48(g, "dsir") % 256 -> groupBy(doc, source, b)
    counts — on real testdata AND on edge rows exercising the mirrored
    JVM semantics: ASCII-space-only trim, tab/newline separators,
    repeated bigrams (the memo + per-doc collapse paths), docs with
    fewer than two tokens, empty and NULL text, mixed case."""
    import pyspark.sql.functions as F

    from appeals_data_spark.catalog import load_table
    from appeals_data_spark.operators.dedup import portable_hash48
    from appeals_data_spark.queries.pipeline_q import (
        _DSIR_B,
        _dsir_occurrence_rows,
        _dsir_portable_bucket_rows,
    )

    from conftest import SF_CORRECT

    def multiset(df):
        out = {}
        for r in df.collect():
            key = tuple(r)
            out[key] = out.get(key, 0) + 1
        return out

    bucket = lambda g: F.pmod(portable_hash48(g, "dsir"), F.lit(_DSIR_B))

    def spec(d):
        return (
            _dsir_occurrence_rows(d, bucket)
            .groupBy("doc_id", "source", "b")
            .agg(F.sum("cnt").alias("cnt"))
        )

    d = load_table(spark, SF_CORRECT, "documents")
    got = multiset(_dsir_portable_bucket_rows(d))
    want = multiset(spec(d))
    assert got == want and len(got) > 0

    edge = spark.createDataFrame(
        [
            (1, "a", "  Mixed\tCase\n\nWords  here  and more  "),
            (2, "a", "x y x y x y"),          # repeated bigrams collapse
            (3, "b", "one"),                  # < 2 tokens -> no rows
            (4, "b", ""),                     # empty -> no rows
            (5, "c", None),                   # null -> no rows
            (6, "c", "\tlead TAB stays Then More words here"),
        ],
        "doc_id long, source string, text string",
    )
    got = multiset(_dsir_portable_bucket_rows(edge))
    want = multiset(spec(edge))
    assert got == want and len(got) > 0


def test_markov_local_matches_distributed(spark):
    """x4_markov_stationary's round-12 driver-side decimal fit must be
    bit-identical to the per-round checkpointed loop it dispatches away
    from: same pi0 integer half-up quotient, exact products/sums, 12-dp
    HALF_UP per round — verified on the real sf0.01 chain by running
    BOTH arms over the identical checkpointed transition table."""
    import pyspark.sql.functions as F
    from pyspark.sql.window import Window

    from appeals_data_spark.catalog import load_table
    from appeals_data_spark.functions.scalars import ratio_dec
    from appeals_data_spark.queries.events_q import (
        _markov_pi_local,
        _markov_rounds_distributed,
    )

    from conftest import SF_CORRECT

    e = load_table(spark, SF_CORRECT, "events")
    w = Window.partitionBy("user_id").orderBy("ts", "event_id")
    seq = e.select(
        "event_type", F.lead("event_type").over(w).alias("next_type")
    ).filter(F.col("next_type").isNotNull())
    trans = (
        seq.groupBy("event_type", "next_type")
        .agg(F.count("*").alias("n"))
        .select(
            "event_type",
            "next_type",
            ratio_dec(
                F.col("n"),
                F.sum("n").over(Window.partitionBy("event_type")),
            )
            .cast("decimal(14,12)")
            .alias("p"),
        )
        .localCheckpoint()
    )
    states = [r[0] for r in e.select("event_type").distinct().collect()]
    local = _markov_pi_local(
        states,
        [(r["event_type"], r["next_type"], r["p"]) for r in trans.collect()],
    )
    n_states = e.select("event_type").distinct().agg(F.count("*").alias("ns"))
    pi0 = (
        e.select(F.col("event_type").alias("state"))
        .distinct()
        .crossJoin(F.broadcast(n_states))
        .select(
            "state",
            ratio_dec(F.lit(1), F.col("ns")).cast("decimal(14,12)").alias("pi"),
        )
        .localCheckpoint()
    )
    dist = {
        r["state"]: r["pi"]
        for r in _markov_rounds_distributed(pi0, trans, 6).collect()
    }
    assert len(dist) > 1
    assert set(local) == set(dist)
    for s in dist:
        assert local[s] == dist[s], s


def test_cdc_chunk_stream_matches_expression_spec(spark):
    """functions.text.cdc_chunk_stream (the round-12 Arrow producer)
    must emit the EXACT row multiset of the expression spec it
    replaces — cdc_chunks(df, text, doc_id) joined to the carried
    columns — on real testdata AND on edge rows exercising the JVM
    semantics the Python port mirrors by hand: ASCII-space-only trim,
    Java \\s+ whitespace collapse, docs shorter than the gram width w
    (one whole-doc chunk), a cut that would land exactly at the end of
    the doc (excluded), empty and NULL text, and non-ASCII code points
    (utf-32 units must equal Spark's split('')+ascii codes)."""
    import pyspark.sql.functions as F

    from appeals_data_spark.catalog import load_table
    from appeals_data_spark.functions.text import cdc_chunk_stream, cdc_chunks

    from conftest import SF_CORRECT

    def multiset(df):
        out = {}
        for r in df.collect():
            key = tuple(r)
            out[key] = out.get(key, 0) + 1
        return out

    d = load_table(spark, SF_CORRECT, "documents")
    got = multiset(cdc_chunk_stream(d, "text", "doc_id", ["source"]))
    want = multiset(
        cdc_chunks(d, "text", "doc_id")
        .join(d.select("doc_id", "source"), "doc_id")
        .select("doc_id", "source", "chunk_len", "h")
    )
    assert got == want and len(got) > 0

    edge = spark.createDataFrame(
        [
            (1, "  A b\tc  B\n\nd a b  "),   # mixed seps, leading/trailing
            (2, "short"),                    # shorter than w=8 -> 1 chunk
            (3, ""),                         # empty -> filtered out
            (4, None),                       # null -> filtered out
            (5, "   "),                      # spaces only -> trims empty
            (6, "\tlead tab stays then more words here and here"),
            (7, "café naïve résumé " * 20),  # non-ASCII
            (8, "x" * 7),                    # exactly w-1 chars
            (9, "y" * 8),                    # exactly w chars (cut at end excluded)
            (11, "a"),                       # one char -> 1 chunk
            # "wxyzaaca" has base-31 gram hash % 64 == 0, so every
            # repetition fires a cut (verified by construction)
            (10, "the quick wxyzaaca brown fox jumps over " * 40),
        ],
        "doc_id long, text string",
    )
    got = multiset(cdc_chunk_stream(edge, "text", "doc_id"))
    want = multiset(cdc_chunks(edge, "text", "doc_id"))
    assert got == want and len(got) > 0
    # the w=8/div=64 family must actually cut on the long repetitive
    # doc, or the test proves nothing about cut positions
    assert sum(n for k, n in want.items() if k[0] == 10) > 1
    # short/exact-w docs survive as single whole-doc chunks
    assert sum(n for k, n in want.items() if k[0] in (2, 8)) == 2
    # empty/null/space-only docs are filtered in both producers
    assert not any(k[0] in (3, 4, 5) for k in want)
