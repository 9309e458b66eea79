"""Property gates for the round-9 operators: content-defined chunking
(shift robustness — the property that justifies CDC over fixed-size
blocking), MMR diversified retrieval (diversity dominates the pure
relevance pick), and exact MIPS (differential vs a NumPy
re-derivation)."""

from __future__ import annotations

import numpy as np
import pytest
from pyspark.sql import functions as F

from appeals_data_spark.functions.text import cdc_chunks

from conftest import SF_SMOKE

BASE = (
    "the quick brown fox jumps over the lazy dog while a curious cat "
    "watches from the garden wall and a flock of starlings wheels over "
    "the rooftops of the old town before settling in the plane trees "
    "along the river where the evening market traders pack away their "
    "stalls of fruit bread cheese and flowers as the streetlights come "
    "on one by one across the seven bridges of the quiet city"
)


def _hashes(spark, rows):
    df = spark.createDataFrame(rows, "doc_id long, text string")
    out = cdc_chunks(df, "text", "doc_id", w=8, div=64).collect()
    by_doc = {}
    for r in out:
        by_doc.setdefault(r["doc_id"], []).append((r["h"], r["chunk_len"]))
    return by_doc


def test_cdc_chunks_survive_prefix_insertion(spark):
    """An insertion at the head of a document shifts every fixed-size
    block boundary but must leave all content-defined chunks after the
    first post-edit cut identical — the storage-dedup property."""
    got = _hashes(spark, [(1, BASE), (2, "breaking news update " + BASE)])
    h1 = {h for h, _ in got[1]}
    h2 = {h for h, _ in got[2]}
    n1 = len(got[1])
    assert n1 >= 4, "fixture too short to have multiple chunks"
    # every chunk of doc1 except (at most) the head chunk that absorbs
    # the edit must reappear verbatim in doc2
    assert len(h1 & h2) >= n1 - 1
    # fixed-size blocking at the same granularity shares ~nothing
    fixed1 = {BASE[i : i + 64] for i in range(0, len(BASE), 64)}
    shifted = "breaking news update " + BASE
    fixed2 = {shifted[i : i + 64] for i in range(0, len(shifted), 64)}
    assert len(fixed1 & fixed2) <= 1
    # and the chunking is a partition: lengths sum to the text length
    norm_len = len(" ".join(BASE.split()))
    assert sum(length for _, length in got[1]) == norm_len


def test_cdc_chunks_deterministic_and_short_doc_single_chunk(spark):
    got = _hashes(spark, [(1, "tiny"), (2, ""), (3, "   ")])
    assert len(got[1]) == 1 and got[1][0][1] == 4
    assert 2 not in got  # empty text -> no chunks
    assert 3 not in got  # whitespace-only normalizes to empty
    rerun = _hashes(spark, [(1, "tiny")])
    assert rerun[1] == got[1]


@pytest.fixture(scope="module")
def emb(spark):
    df = spark.read.parquet(f"{SF_SMOKE}/embeddings.parquet")
    rows = df.select("vec_id", "embedding").collect()
    ids = np.array([r["vec_id"] for r in rows])
    mat = np.array([r["embedding"] for r in rows], dtype=np.float64)
    return ids, mat


def test_mips_matches_numpy(spark, emb):
    from appeals_data_spark.registry import all_queries

    got = all_queries()["vec_mips_topk"].builder(spark, SF_SMOKE).collect()
    ids, mat = emb
    by_q = {}
    for r in got:
        by_q.setdefault(r["query_id"], []).append((r["rank"], r["corpus_id"]))
    for qid, picks in by_q.items():
        qv = mat[ids == qid][0]
        ips = mat @ qv
        order = sorted(
            (int(i) for i in ids if i != qid),
            key=lambda i: (-float(ips[ids == i][0]), i),
        )
        want = [(rk + 1, cid) for rk, cid in enumerate(order[:5])]
        assert sorted(picks) == want, qid


def test_mmr_picks_are_more_diverse_than_pure_topk(spark, emb):
    from appeals_data_spark.registry import all_queries

    qs = all_queries()
    mmr = qs["vec_mmr_diversified_topk"].builder(spark, SF_SMOKE).collect()
    top = qs["vec_brute_force_topk"].builder(spark, SF_SMOKE).collect()
    ids, mat = emb
    unit = mat / np.linalg.norm(mat, axis=1, keepdims=True)

    def avg_pairwise(picks):
        vs = np.array([unit[ids == c][0] for c in picks])
        sims = vs @ vs.T
        n = len(picks)
        return (sims.sum() - n) / (n * (n - 1))

    mmr_by_q, top_by_q = {}, {}
    for r in mmr:
        mmr_by_q.setdefault(r["query_id"], {})[r["pick_order"]] = r["corpus_id"]
    for r in top:
        top_by_q.setdefault(r["query_id"], {})[r["rank"]] = r["corpus_id"]
    assert set(mmr_by_q) == {0, 1, 2, 3}
    improved = 0
    for qid, picks in mmr_by_q.items():
        assert sorted(picks) == [1, 2, 3, 4]
        # pick 1 is the pure-relevance argmax
        assert picks[1] == top_by_q[qid][1]
        ids_mmr = list(picks.values())
        assert len(set(ids_mmr)) == 4
        ids_top = [top_by_q[qid][k] for k in (1, 2, 3, 4)]
        d_mmr, d_top = avg_pairwise(ids_mmr), avg_pairwise(ids_top)
        assert d_mmr <= d_top + 1e-9, (qid, d_mmr, d_top)
        if d_mmr < d_top - 1e-9:
            improved += 1
    # the tradeoff must actually bite somewhere, else lambda is inert
    assert improved >= 1


def test_mann_whitney_matches_numpy_rederivation(spark):
    """U and the tie-corrected z re-derived in pure NumPy from the raw
    rows must match the distributed midrank computation."""
    import math

    from appeals_data_spark.registry import all_queries

    rows = (
        spark.read.parquet(f"{SF_SMOKE}/orders.parquet")
        .where(F.col("o_orderpriority").isin("1-URGENT", "5-LOW"))
        .select("o_orderstatus", "o_totalprice", "o_orderpriority")
        .collect()
    )
    got = {
        r["status"]: r
        for r in all_queries()["x3_mann_whitney"].builder(
            spark, SF_SMOKE
        ).collect()
    }
    by_st = {}
    for r in rows:
        by_st.setdefault(r["o_orderstatus"], []).append(
            (r["o_totalprice"], r["o_orderpriority"] == "1-URGENT")
        )
    checked = 0
    for st, sample in by_st.items():
        na = sum(1 for _, a in sample if a)
        nb = len(sample) - na
        if na == 0 or nb == 0:
            assert st not in got
            continue
        vals = np.array([v for v, _ in sample])
        order = np.argsort(vals, kind="stable")
        ranks = np.empty(len(vals))
        i = 0
        ties = 0.0
        sv = vals[order]
        while i < len(sv):
            j = i
            while j < len(sv) and sv[j] == sv[i]:
                j += 1
            ranks[order[i:j]] = (i + j + 1) / 2.0
            t = j - i
            ties += t**3 - t
            i = j
        ra = sum(rk for rk, (_, a) in zip(ranks, sample) if a)
        u = ra - na * (na + 1) / 2.0
        n = len(sample)
        var = na * nb / 12.0 * ((n + 1) - ties / (n * (n - 1)))
        z = (u - na * nb / 2.0) / math.sqrt(var)
        row = got[st]
        assert row["n_urgent"] == na and row["n_low"] == nb
        assert float(row["u_stat"]) == u
        assert abs(row["z_approx"] - z) < 1e-9, st
        checked += 1
    assert checked >= 2
