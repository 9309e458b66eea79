"""Differential tests: every registered query with an oracle must
match DuckDB exactly at sf0.001 (fast); the driver runs sf0.01.
"""

from __future__ import annotations

import math
from datetime import date, datetime
from decimal import Decimal

import duckdb
import pytest

from appeals_data_spark.catalog import TABLES
from appeals_data_spark.registry import all_queries

from conftest import SF_SMOKE


def _norm(v):
    if isinstance(v, Decimal):
        return float(v)
    if isinstance(v, (datetime, date)):
        return v.isoformat()
    if isinstance(v, float) and math.isnan(v):
        return "NaN"
    if isinstance(v, list):
        return tuple(_norm(x) for x in v)
    return v


def _key(rows, cols):
    order = sorted(range(len(cols)), key=lambda i: cols[i])
    return sorted([tuple(_norm(r[i]) for i in order) for r in rows], key=repr)


@pytest.fixture(scope="module")
def ddb():
    con = duckdb.connect()
    for t in TABLES:
        con.execute(
            f"CREATE VIEW {t} AS SELECT * FROM read_parquet('{SF_SMOKE}/{t}.parquet')"
        )
    return con


ORACLED = [n for n, q in all_queries().items() if q.oracle]
ROWS_ONLY = [n for n, q in all_queries().items() if not q.oracle]


@pytest.mark.parametrize("name", ORACLED)
def test_matches_oracle(spark, ddb, name):
    q = all_queries()[name]
    sdf = q.builder(spark, SF_SMOKE)
    srows = [tuple(r) for r in sdf.collect()]
    rel = ddb.sql(q.oracle)
    drows = rel.fetchall()
    scols = [c.lower() for c in sdf.columns]
    dcols = [c.lower() for c in rel.columns]
    assert sorted(scols) == sorted(dcols), f"schema: {scols} vs {dcols}"
    assert len(srows) == len(drows), f"rowcount: {len(srows)} vs {len(drows)}"
    assert _key(srows, scols) == _key(drows, dcols)


@pytest.mark.parametrize("name", ROWS_ONLY)
def test_rows_only_runs(spark, name):
    q = all_queries()[name]
    rows = q.builder(spark, SF_SMOKE).collect()
    assert rows is not None  # >= 0 rows with stable schema


# Cross-engine check of the caller where-hook: the same predicate
# applied to events_all() (granular union path, branch pushdown) and to
# the shared EVENTS_ALL_SQL in DuckDB must select the same multiset.
_WHERE_CASES = [
    ("type_eq", "event_type = 'order_placed'"),
    ("ts_range", "ts >= TIMESTAMP '1997-01-01' AND ts < TIMESTAMP '1998-01-01'"),
    ("conj", "event_type LIKE 'line%' AND amount > 30000"),
    ("entity_mod", "entity_id % 7 = 3"),
    ("null_amount", "amount IS NULL AND entity_id < 500"),
]


@pytest.mark.parametrize("label,pred", _WHERE_CASES, ids=[c[0] for c in _WHERE_CASES])
def test_event_where_hook_matches_oracle(spark, ddb, label, pred):
    from pyspark.sql import functions as F

    from appeals_data_spark.views.events import EVENTS_ALL_SQL, events_all

    ev = events_all(spark, SF_SMOKE, where=pred).groupBy(
        "event_type"
    ).agg(
        F.count("*").alias("n"),
        F.sum(F.col("amount").cast("decimal(18,2)")).cast("double").alias("amt"),
    )
    got = _key(ev.collect(), ev.columns)
    sql = f"""
      SELECT event_type, COUNT(*) AS n,
             CAST(SUM(CAST(amount AS DECIMAL(18,2))) AS DOUBLE) AS amt
      FROM ({EVENTS_ALL_SQL}) WHERE {pred} GROUP BY event_type
    """
    cur = ddb.execute(sql)
    cols = [d[0] for d in cur.description]
    want = _key(cur.fetchall(), cols)
    assert got == want


# Forced-arm gates. ngram_stream picks its expression arm on every
# committed test SF below sf0.1, and the LM queries' parquet-scratch
# arm sits behind a 128 MB scan bound no committed SF reaches. These
# tests FORCE each arm at sf0.01 through the module constants and pin
# the output rows exactly equal to the default arm's (which the
# DuckDB oracle checks above): the Arrow arm for every ngram_stream
# caller, and for the two LM queries also the scale arm (Arrow
# occurrence stream + parquet scratch + the trigram's lower-order
# tables derived from the tri counts).
_LM_QUERIES = ["text_bigram_interp_logprob", "text_trigram_backoff_logprob"]
_NGRAM_QUERIES = _LM_QUERIES + [
    "text_kgram_novelty",
    "dedup_substring_coverage",
    "text_gopher_filters",
    "pipe_contamination_overlap",
    "pipe_curation_funnel",
    "pipe_decontam_bloom",
]


def _lm_rows(spark, name, sf):
    q = all_queries()[name]
    return sorted(
        [tuple(_norm(v) for v in r) for r in q.builder(spark, sf).collect()],
        key=repr,
    )


@pytest.mark.parametrize("name", _NGRAM_QUERIES)
def test_lm_scale_arm_matches_small_arm(spark, name, monkeypatch):
    from conftest import SF_CORRECT

    from appeals_data_spark.functions import text
    from appeals_data_spark.queries import textops_q

    small = _lm_rows(spark, name, SF_CORRECT)

    # Arrow ngram_stream arm
    monkeypatch.setattr(text, "NGRAM_ARROW_MIN_BYTES", -1)
    arrow = _lm_rows(spark, name, SF_CORRECT)
    assert arrow == small and len(small) > 0
    if name not in _LM_QUERIES:
        return

    # LM scale arm: + parquet scratch and (trigram) lower-order tables
    # derived from the scratch tri counts
    n_scratch_before = len(textops_q._LM_SCRATCH_PATHS)
    monkeypatch.setattr(textops_q, "_LM_DISK_CKPT_MIN_BYTES", -1)
    large = _lm_rows(spark, name, SF_CORRECT)
    assert large == small
    # the arm actually executed: at least one parquet scratch was built
    # (two for trigram: occ + tri counts)
    assert len(textops_q._LM_SCRATCH_PATHS) > n_scratch_before
