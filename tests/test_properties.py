"""Property-based tests (hypothesis) for the custom operators.

These check invariants a differential oracle can't: the properties
must hold for EVERY input, not just the fixture tables. Spark runs are
expensive, so examples are small and deadlines disabled.
"""

from __future__ import annotations

from datetime import datetime, timedelta

import pytest
from hypothesis import HealthCheck, given, settings
from hypothesis import strategies as st

from appeals_data_spark.operators.fuzzy_join import fuzzy_asof_join
from appeals_data_spark.operators.sessionize import sessionize

BASE = datetime(2020, 1, 1)

_hyp = settings(
    max_examples=12,
    deadline=None,
    suppress_health_check=[HealthCheck.function_scoped_fixture, HealthCheck.too_slow],
)


@st.composite
def _fuzzy_case(draw):
    n_left = draw(st.integers(1, 6))
    n_right = draw(st.integers(0, 6))
    left = [
        (draw(st.integers(1, 3)), i, BASE + timedelta(days=draw(st.integers(0, 90))))
        for i in range(n_left)
    ]
    right = [
        (draw(st.integers(1, 3)), 100 + j, BASE + timedelta(days=draw(st.integers(0, 90))))
        for j in range(n_right)
    ]
    return left, right


@given(
    st.lists(
        st.tuples(
            st.text(alphabet="abc", min_size=0, max_size=6),
            st.integers(1, 9),
        ),
        min_size=1,
        max_size=5,
        unique_by=lambda t: t[0],
    )
)
@settings(
    max_examples=8,
    deadline=None,
    suppress_health_check=[HealthCheck.function_scoped_fixture, HealthCheck.too_slow],
)
def test_bpe_merge_invariants(spark, word_rows):
    """For ANY word dictionary: each trained merge rule (pa != pb by
    construction) removes exactly pair_count symbol occurrences from
    the segmented dictionary, and no (pa, pb) adjacency survives its
    own round — the two facts that make the simultaneous fuse equal
    greedy left-to-right merging."""
    from appeals_data_spark.operators.bpe import (
        bpe_merge_table,
        bpe_segmented_words,
    )

    words = spark.createDataFrame(word_rows, "word string, n long")
    for rounds in (1, 2):
        merges = bpe_merge_table(words, n_rounds=rounds).collect()
        seg = bpe_segmented_words(words, n_rounds=rounds).collect()
        assert {r.word for r in seg} == {w for w, _ in word_rows}
        total_syms = sum(r.n * len(r.syms) for r in seg)
        total_chars = sum(n * len(w) for w, n in word_rows)
        assert total_syms == total_chars - sum(m.pair_count for m in merges)
        if merges:
            last = merges[-1]
            for r in seg:
                for a, b in zip(r.syms, r.syms[1:]):
                    assert not (a == last.pa and b == last.pb)


@given(
    st.lists(
        st.tuples(
            st.integers(1, 4),  # user
            st.sampled_from(["signup", "view", "click", "purchase"]),
            st.integers(0, 48),  # hour offset
        ),
        min_size=0,
        max_size=14,
    )
)
@settings(
    max_examples=10,
    deadline=None,
    suppress_health_check=[HealthCheck.function_scoped_fixture, HealthCheck.too_slow],
)
def test_funnel_counts_monotone(spark, rows):
    """For ANY event set: funnel counts are non-increasing down the
    steps (each flag conjoins the previous), never NULL, and bounded
    by the distinct-user count."""
    from appeals_data_spark.queries.events_q import funnel_counts

    df = spark.createDataFrame(
        [(u, t, BASE + timedelta(hours=h)) for u, t, h in rows],
        "user_id bigint, event_type string, ts timestamp_ntz",
    )
    out = funnel_counts(df, ["signup", "view", "click", "purchase"]).collect()
    counts = [r.n_users for r in sorted(out, key=lambda r: r.step)]
    n_users = len({u for u, _, _ in rows})
    assert all(c is not None for c in counts)
    assert all(a >= b for a, b in zip(counts, counts[1:]))
    assert all(0 <= c <= n_users for c in counts)


@given(_fuzzy_case())
@_hyp
def test_fuzzy_asof_invariants(spark, case):
    left_rows, right_rows = case
    left = spark.createDataFrame(left_rows, "ent int, lid int, lts timestamp")
    right = spark.createDataFrame(right_rows, "ent int, rid int, rts timestamp")
    out = fuzzy_asof_join(
        left, right, on="ent", left_key="lid", left_ts="lts", right_ts="rts",
        tolerance_days=31, right_tiebreak="rid",
    ).collect()
    rows = {r["lid"]: r for r in out}
    # (1) exactly one output row per left row
    assert sorted(rows) == sorted(r[1] for r in left_rows)
    by_ent_date = {}
    for ent, rid, rts in right_rows:
        by_ent_date.setdefault(ent, []).append((rid, rts))
    for r in out:
        cands = by_ent_date.get(r["ent"], [])
        dists = [abs((r["lts"].date() - rts.date()).days) for _, rts in cands]
        in_tol = [d for d in dists if d <= 31]
        if r["match_type"] is None:
            # (2) unmatched only when no candidate within tolerance
            assert not in_tol
        else:
            # (3) matched distance is minimal among candidates
            got = abs((r["lts"].date() - r["rts"].date()).days)
            assert got == min(in_tol)
            assert r["match_type"] == ("precise" if got == 0 else "fuzzy")


@st.composite
def _session_case(draw):
    n = draw(st.integers(1, 12))
    gaps = [draw(st.integers(0, 600)) for _ in range(n)]
    ts, acc = [], BASE
    for g in gaps:
        acc = acc + timedelta(seconds=g)
        ts.append(acc)
    ent = [draw(st.integers(1, 2)) for _ in range(n)]
    return [(ent[i], i, ts[i]) for i in range(n)]


@given(_session_case())
@_hyp
def test_sessionize_invariants(spark, rows):
    df = spark.createDataFrame(rows, "ent int, eid int, ts timestamp")
    out = sorted(
        sessionize(df, "ent", "ts", gap_seconds=120, tiebreak_col="eid").collect(),
        key=lambda r: (r["ent"], r["ts"], r["eid"]),
    )
    per_ent = {}
    for r in out:
        per_ent.setdefault(r["ent"], []).append(r)
    for ent, seq in per_ent.items():
        # (1) sessions start at 1 and never skip
        assert seq[0]["session_seq"] == 1
        for a, b in zip(seq, seq[1:]):
            gap = (b["ts"] - a["ts"]).total_seconds()
            if gap > 120:
                # (2) gap beyond threshold forces a new session
                assert b["session_seq"] == a["session_seq"] + 1
            else:
                # (3) within-gap events stay in the same session
                assert b["session_seq"] == a["session_seq"]


# -- NA / collation semantics (SURVEY §7.3 risk list) ------------------------


@given(
    st.lists(
        st.one_of(st.none(), st.sampled_from(["H", "X", "h", ""])), min_size=1, max_size=8
    )
)
@_hyp
def test_r_ifelse_null_propagation(spark, disps):
    """SQL_R_IFELSE must mirror R's ifelse: NA condition -> NA result,
    NEVER the else-branch (the CASE ... ELSE trap)."""
    from appeals_data_spark.functions.scalars import SQL_R_IFELSE

    df = spark.createDataFrame([(i, d) for i, d in enumerate(disps)], "i int, disp string")
    label = SQL_R_IFELSE.format(
        cond="disp = 'H'", yes="'HEARING'", no="'HEARING_EXCEPTION'"
    )
    out = {
        r["i"]: r["label"]
        for r in df.selectExpr("i", f"{label} AS label").collect()
    }
    for i, d in enumerate(disps):
        expected = None if d is None else ("HEARING" if d == "H" else "HEARING_EXCEPTION")
        assert out[i] == expected, (d, out[i])


@given(
    st.lists(
        st.text(
            alphabet=st.characters(min_codepoint=32, max_codepoint=382), max_size=6
        ),
        min_size=1,
        max_size=10,
    ),
    st.text(alphabet=st.characters(min_codepoint=32, max_codepoint=382), max_size=4),
    st.text(alphabet=st.characters(min_codepoint=32, max_codepoint=382), max_size=4),
)
@_hyp
def test_string_between_binary_collation(spark, values, lo, hi):
    """P5 char-range filters must follow binary (code-point) ordering —
    the default in Spark, DuckDB, AND Python str comparison — never a
    locale collation (accented chars included in the alphabet)."""
    from pyspark.sql import functions as F

    if lo > hi:
        lo, hi = hi, lo
    df = spark.createDataFrame([(i, v) for i, v in enumerate(values)], "i int, s string")
    got = {
        r["i"] for r in df.filter(F.col("s").between(F.lit(lo), F.lit(hi))).collect()
    }
    expected = {i for i, v in enumerate(values) if lo <= v <= hi}
    assert got == expected


@given(
    st.lists(
        st.text(
            # printable ASCII minus '#' (the salt separator) and quotes
            # that would need SQL escaping; the hash operates on utf-8
            # bytes so code-point coverage beyond this is exercised by
            # the unicode example appended below.
            alphabet=st.characters(min_codepoint=32, max_codepoint=126,
                                   exclude_characters="#'\\"),
            min_size=0,
            max_size=20,
        ),
        min_size=1,
        max_size=8,
        unique=True,
    )
)
@_hyp
def test_portable_hash48_matches_duckdb(spark, values):
    """portable_hash48 is the linchpin of every *_portable differential
    twin (minhash/simhash/LSH/sampling/splits): Spark and DuckDB must
    produce the IDENTICAL 48-bit integer for every string. Property-
    checks the md5-hex-prefix -> integer construction across engines,
    including the empty string and multi-byte UTF-8."""
    import duckdb

    from appeals_data_spark.operators.dedup import (
        portable_hash48,
        sql_portable_hash48,
    )
    from pyspark.sql import functions as F

    values = values + ["naïve—привет☃"]  # force a multi-byte utf-8 case
    df = spark.createDataFrame(
        [(i, v) for i, v in enumerate(values)], "i int, s string"
    )
    got = {
        r["i"]: r["h"]
        for r in df.select(
            "i", portable_hash48(F.col("s"), "salt").alias("h")
        ).collect()
    }
    con = duckdb.connect()
    for i, v in enumerate(values):
        expected = con.execute(
            "SELECT " + sql_portable_hash48("?", "salt"), [v]
        ).fetchone()[0]
        assert got[i] == expected, (v, got[i], expected)


@given(
    st.lists(
        st.tuples(st.integers(0, 11), st.integers(0, 11)),
        min_size=1,
        max_size=15,
    )
)
@settings(
    max_examples=8,
    deadline=None,
    suppress_health_check=[HealthCheck.function_scoped_fixture, HealthCheck.too_slow],
)
def test_connected_components_vs_union_find(spark, edge_list):
    """J19 closure: Spark label propagation must match a driver-side
    union-find on arbitrary small graphs (self-loops, chains, cycles,
    duplicate edges — the shapes appeal-stream chaining produces)."""
    from appeals_data_spark.operators.closure import connected_components

    parent = list(range(12))

    def find(x):
        while parent[x] != x:
            parent[x] = parent[parent[x]]
            x = parent[x]
        return x

    def union(a, b):
        ra, rb = find(a), find(b)
        if ra != rb:
            parent[max(ra, rb)] = min(ra, rb)

    for a, b in edge_list:
        union(a, b)
    touched = {n for e in edge_list for n in e}
    # canonical expected label: min node of each union-find component
    roots: dict[int, int] = {}
    for n in sorted(touched):
        roots.setdefault(find(n), n)
    expected = {n: roots[find(n)] for n in touched}

    edges = spark.createDataFrame(edge_list, "src bigint, dst bigint")
    got = {
        r["node"]: r["component"] for r in connected_components(edges).collect()
    }
    assert got == expected


# -- fused vs granular clickstream extraction on adversarial data ------------
#
# The shipped fixtures have no null ts and few duplicate timestamps, so
# the sf0.001 parity test cannot see ordering/null divergences between
# the fused single-window path and the granular extractors. Generate
# events tables that stress exactly those: null ts, duplicate (user,
# ts) pairs, runs at history edges, every branch-trigger event type.


@st.composite
def _events_case(draw):
    n = draw(st.integers(2, 14))
    rows = []
    for i in range(n):
        user = draw(st.integers(1, 3))
        typ = draw(
            st.sampled_from(["view", "click", "signup", "error", "purchase"])
        )
        # duplicate timestamps are likely (minute granularity, small range);
        # ~1 in 8 rows is undated
        ts = (
            None
            if draw(st.integers(0, 7)) == 0
            else datetime(2024, 1, 1, 0, draw(st.integers(0, 40)))
        )
        value = draw(st.sampled_from([5.0, 15.0, 25.0, 35.0]))
        rows.append((i, user, typ, ts, value, "{}"))
    return rows


@given(_events_case())
@_hyp
def test_fused_clickstream_matches_granular_on_adversarial(spark, rows):
    import appeals_data_spark.views.events as ev
    from conftest import SF_SMOKE

    df = spark.createDataFrame(
        rows,
        "event_id long, user_id long, event_type string, ts timestamp, "
        "value double, props string",
    ).selectExpr(
        "event_id", "user_id", "event_type",
        "CAST(ts AS TIMESTAMP_NTZ) AS ts", "value", "props"
    )

    orig = ev.load_table

    def fake(s, d, n):
        return df if n == "events" else orig(s, d, n)

    ev.load_table = fake
    try:
        granular_parts = [
            ev.user_events,
            ev.hearing_events,
            ev.transcription_events,
            ev.session_start_events,
            ev.creation_events,
            ev.substitution_events,
            ev.review_window_events,
        ]
        from functools import reduce

        from pyspark.sql import DataFrame

        granular = reduce(
            DataFrame.unionByName,
            (ex(spark, SF_SMOKE) for ex in granular_parts),
        )
        fused = ev.fused_clickstream_events(spark, SF_SMOKE)
        key = lambda df: sorted(  # noqa: E731
            (
                r["entity_id"],
                (r["event_type"] is None, r["event_type"] or ""),
                r["ts"],
                (r["amount"] is None, r["amount"] or 0.0),
            )
            for r in df.collect()
        )
        assert key(fused) == key(granular)
    finally:
        ev.load_table = orig


@given(
    st.lists(
        st.tuples(
            st.sampled_from([-1.0, 1.0]),
            st.floats(-2, 2, allow_nan=False),
            st.floats(-2, 2, allow_nan=False),
        ),
        min_size=4,
        max_size=12,
    ),
    st.floats(0.01, 0.5),
)
@_hyp
def test_pegasos_weight_norm_bounded(spark, rows, lam):
    # Pegasos invariant (Shalev-Shwartz et al. 2011, Thm 1 setup): the
    # iterates stay inside the ball ||w|| <= (max_i c_i ||x_i||) / lambda
    # (weighted hinge subgradients are bounded by the weighted feature
    # norms; the projection-free variant cannot leave the scaled ball).
    import math

    import pyspark.sql.functions as F

    from appeals_data_spark.ml.svm import pegasos_linear_svm

    df = spark.createDataFrame(rows, "y double, x1 double, x2 double")
    c = pegasos_linear_svm(
        df, y=F.col("y"), xs=[F.col("x1"), F.col("x2")],
        lam=lam, iters=4, pos_weight=2.0,
    ).first()
    wnorm = math.sqrt(c["w0"] ** 2 + c["w1"] ** 2 + c["w2"] ** 2)
    feat_norm = max(
        2.0 * math.sqrt(1 + r[1] ** 2 + r[2] ** 2) for r in rows
    )
    assert wnorm <= feat_norm / lam + 1e-9


@given(
    st.lists(
        st.tuples(st.integers(0, 2), st.integers(1, 40), st.integers(0, 40)),
        min_size=2,
        max_size=8,
    ).filter(lambda rows: all(k <= n for _, n, k in rows))
)
@_hyp
def test_glmm_em_tau2_nonnegative_and_u_centered(spark, cells):
    # The GLMM's EM update tau2 <- avg(u^2 + B*s2) is an average of
    # non-negative terms: tau2 must never go negative regardless of the
    # cell configuration, and the precision-weighted working means keep
    # every shrunken random effect finite.
    import math

    import pyspark.sql.functions as F
    from pyspark.sql.window import Window

    # Reuse the registered builder's algebra on a synthetic cells table
    # by driving the same PQL rounds through a tiny local frame: grp,
    # n0=n, k0=k, n1=n, k1=n-k (both arms populated).
    df = spark.createDataFrame(
        [(g, n, k, n, n - k) for g, n, k in cells],
        "grp int, n0 long, k0 long, n1 long, k1 long",
    ).groupBy("grp").agg(
        F.sum("n0").alias("n0"), F.sum("k0").alias("k0"),
        F.sum("n1").alias("n1"), F.sum("k1").alias("k1"),
    )
    wall = Window.partitionBy()
    d = df.withColumn("u", F.lit(0.0)).withColumn("b0", F.lit(0.0)) \
        .withColumn("beta", F.lit(0.0)).withColumn("tau2", F.lit(0.25))

    def sig(eta):
        return F.lit(1.0) / (F.lit(1.0) + F.exp(-eta))

    for _ in range(2):
        d = d.withColumn("eta0", F.col("b0") + F.col("u")).withColumn(
            "eta1", F.col("b0") + F.col("beta") + F.col("u")
        )
        mu0, mu1 = sig(F.col("eta0")), sig(F.col("eta1"))
        w0c, w1c = mu0 * (1 - mu0), mu1 * (1 - mu1)
        d = (
            d.withColumn("w0", F.col("n0") * w0c)
            .withColumn("z0", F.col("eta0") + (F.col("k0") / F.col("n0") - mu0) / w0c)
            .withColumn("w1", F.col("n1") * w1c)
            .withColumn("z1", F.col("eta1") + (F.col("k1") / F.col("n1") - mu1) / w1c)
        )
        h = F.col("w1") * F.col("w0") / (F.col("w1") + F.col("w0"))
        d = d.withColumn(
            "beta",
            F.sum((F.col("z1") - F.col("z0")) * h).over(wall) / F.sum(h).over(wall),
        )
        wt = F.col("w0") + F.col("w1")
        d = d.withColumn(
            "zadj",
            (F.col("w0") * F.col("z0") + F.col("w1") * (F.col("z1") - F.col("beta"))) / wt,
        ).withColumn("s2", F.lit(1.0) / wt)
        d = d.withColumn(
            "b0",
            F.sum(F.col("zadj") / (F.col("tau2") + F.col("s2"))).over(wall)
            / F.sum(F.lit(1.0) / (F.col("tau2") + F.col("s2"))).over(wall),
        )
        b = F.col("tau2") / (F.col("tau2") + F.col("s2"))
        d = (
            d.withColumn(
                "tau2n",
                F.avg(F.pow(b * (F.col("zadj") - F.col("b0")), 2) + b * F.col("s2")).over(wall),
            )
            .withColumn("u", b * (F.col("zadj") - F.col("b0")))
            .withColumn("tau2", F.col("tau2n"))
            .drop("eta0", "eta1", "w0", "z0", "w1", "z1", "zadj", "s2", "tau2n")
        )
    rows = d.collect()
    assert all(r["tau2"] >= 0 for r in rows)
    assert all(math.isfinite(r["u"]) and math.isfinite(r["b0"]) for r in rows)


def test_bt_pair_stats_is_item_pairs_sized(spark):
    """Single-Arrow-group bound for pref_bradley_terry: the pair-stats
    table that enters the ONE applyInPandas group must be item-pairs-
    sized — rows <= C(S,2) for S distinct suppliers — independent of
    the fact-table row count. If this ever fails, the fit needs the
    sharded path documented in queries.survival_q.bt_pair_stats before
    the single-group applyInPandas is safe."""
    from appeals_data_spark.catalog import load_table
    from appeals_data_spark.queries.survival_q import bt_pair_stats

    from conftest import SF_CORRECT

    li = load_table(spark, SF_CORRECT, "lineitem")
    s = li.select("l_suppkey").distinct().count()
    n_pairs = bt_pair_stats(li).count()
    assert n_pairs <= s * (s - 1) // 2, (n_pairs, s)
    # and the bound is meaningfully tighter than fact scale: the group
    # that reaches the Arrow fit must not grow with lineitem rows
    assert n_pairs < li.count(), n_pairs


def test_bt_pair_stats_chunked_equals_exploded_reference(spark):
    """The round-11 chunk-aggregated pair generator (range partition +
    numpy triu expansion + bounded partial flush) must reproduce the
    exploded reference's (sa, sb, n, w) table EXACTLY — the partial
    flushing and size-class batching change only where integer sums
    happen, never their values. Run at two SFs so the multi-batch
    carry path (Arrow batches split mid-part) is exercised.

    Compares bt_pair_stats_chunked DIRECTLY (not the bt_pair_stats
    dispatcher, which routes small inputs to the exploded path and
    would make this check vacuous at test SFs)."""
    from appeals_data_spark.catalog import load_table
    from appeals_data_spark.queries.survival_q import (
        bt_pair_stats_chunked,
        bt_pair_stats_exploded,
    )

    from conftest import SF_CORRECT, SF_SMOKE

    for sf in (SF_SMOKE, SF_CORRECT):
        li = load_table(spark, sf, "lineitem")
        got = {
            (r.sa, r.sb): (r.n, r.w)
            for r in bt_pair_stats_chunked(li).collect()
        }
        want = {
            (r.sa, r.sb): (r.n, r.w)
            for r in bt_pair_stats_exploded(li).collect()
        }
        assert got == want and len(got) > 0, sf


def test_bt_pair_stats_dispatch(spark):
    """The size dispatcher must route small scans to the exploded JVM
    generator (no Python boundary in the plan) and treat unknown input
    size as LARGE. Dispatch can only ever change the plan, never the
    result (the equality gate above), so this pins the routing rule
    itself: test-SF parquet is far below BT_EXPLODED_MAX_BYTES, and a
    non-scan frame (no inputFiles) must fall to the chunked path."""
    from appeals_data_spark.catalog import load_table, scan_input_bytes
    from appeals_data_spark.queries.survival_q import BT_EXPLODED_MAX_BYTES

    from conftest import SF_CORRECT

    li = load_table(spark, SF_CORRECT, "lineitem")
    nbytes = scan_input_bytes(li)
    assert nbytes is not None and 0 < nbytes <= BT_EXPLODED_MAX_BYTES
    # a derived frame with no file scan reports unknown -> LARGE
    synthetic = spark.range(10).selectExpr(
        "id AS l_partkey", "id AS l_suppkey",
        "CAST(1 AS double) AS l_extendedprice",
        "CAST(1 AS double) AS l_quantity",
    )
    assert scan_input_bytes(synthetic) is None


def test_bt_sharded_fit_bit_identical_beyond_arrow_bound(spark):
    """The sharded MM fit (ml/bt.py, round 8) must return bit-identical
    strengths to the single-Arrow-group numpy fit — exercised on a
    synthetic S>3e4 supplier universe, past the documented cliff where
    the single group stops being safe on dense pair tables. Both fold
    sites accumulate 6dp-scaled int64s, so equality is exact double
    ==, not approx."""
    from pyspark.sql import functions as F

    from appeals_data_spark.ml.bt import bt_strengths

    S = 30_001  # > 3e4 items
    # Sparse deterministic tournament: ring pairs (i, i+1) plus a
    # stride-997 overlay so the comparison graph is connected and
    # irregular; n in 2..6, w in 0..1 <= n.
    base = spark.range(S - 1).select(
        F.col("id").alias("sa"),
        (F.col("id") + 1).alias("sb"),
        (F.col("id") % 5 + 2).alias("n"),
        (F.col("id") % 2).alias("w"),
    )
    overlay = spark.range(0, S - 997, 997).select(
        F.col("id").alias("sa"),
        (F.col("id") + 997).alias("sb"),
        (F.col("id") % 3 + 2).alias("n"),
        (F.col("id") % 3).alias("w"),
    )
    pairs = base.unionByName(overlay).localCheckpoint()

    single = bt_strengths(pairs, rounds=3, force="single").collect()
    sharded = bt_strengths(pairs, rounds=3, force="sharded").collect()
    as_map = lambda rows: {r["i"]: (r["wi"], r["ni"], r["p"]) for r in rows}
    ms, mh = as_map(single), as_map(sharded)
    assert set(ms) == set(mh) and len(ms) == S
    diff = {i: (ms[i], mh[i]) for i in ms if ms[i] != mh[i]}
    assert not diff, dict(list(diff.items())[:5])
    # the auto switch picks the single-group path below the bound and
    # the sharded path above it (tiny threshold to force the branch)
    auto = bt_strengths(pairs, rounds=3, max_single_group_pairs=10).collect()
    assert as_map(auto) == mh
