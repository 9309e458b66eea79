"""Py4J budget gate for the benchmark's query builders.

Building a plan costs driver time in proportion to the Py4J commands
the builder sends: every DataFrame method, every ``F.*`` call and every
``Column`` operator is at least one round trip to the JVM. This gate
counts the commands each of the 24 builders in appbench's workloads
sends on ``appbench/base``, after one warm build (so catalog reads are
memoized), and fails when a builder goes above its frozen budget.

Memory commands (``m``: Python garbage collection releasing JVM
objects) are not counted; how many land inside one build follows the
Python collector's timing, not the builder.
"""

from __future__ import annotations

import collections
import importlib.util
from pathlib import Path

import py4j.clientserver
import pytest

from appeals_data_spark.catalog import app_id, load_table
from appeals_data_spark.registry import all_queries

REPO = Path(__file__).resolve().parents[1]
BASE = str(REPO / "appbench" / "base")

_spec = importlib.util.spec_from_file_location(
    "appbench_workloads", REPO / "appbench" / "workloads.py"
)
_workloads = importlib.util.module_from_spec(_spec)
_spec.loader.exec_module(_workloads)
BUILDERS = _workloads.APPEALS_REPORTS + _workloads.CORPUS_CURATION

# Frozen Py4J commands per warm build on appbench/base. A rise is a
# builder sending more round trips per plan: lower it back, or raise
# the budget consciously in the same change. A builder that got
# cheaper can lower its budget.
PY4J_BUDGET = {
    "a1_pricing_summary": 145,
    "j8_argmax_latest_order": 83,
    "p4_range_in_between": 89,
    "w11_rolling_mean": 101,
    "r2_pivot_event_matrix": 38,
    "u5_event_where_hook": 60,
    "x4_transition_matrix": 149,
    "comp_docket_projection": 176,
    "surv_km_counts": 175,
    "surv_cuminc": 303,
    "x3_linreg_closed_form": 127,
    "x6_logistic_glmm": 439,
    "x3_linear_svm_eval": 376,
    "pref_bradley_terry": 338,
    "closure_components": 226,
    "graph_pagerank_handoff": 188,
    "dedup_minhash_portable": 1466,
    "dedup_embedding_cosine": 336,
    "mm_decode_image": 173,
    "text_bpe_vocab": 1332,
    "dedup_incremental_delta": 392,
    "text_unigram_logprob": 237,
    "vec_brute_force_topk": 163,
    "pipe_source_caps": 122,
}


def _count_commands(spark, builder) -> int:
    """Py4J commands one ``builder(spark, BASE)`` call sends, memory
    commands excluded."""
    kinds: collections.Counter = collections.Counter()
    conn = py4j.clientserver.ClientServerConnection
    send = conn.send_command

    def counting(self, command):
        kinds[command.split("\n", 1)[0]] += 1
        return send(self, command)

    conn.send_command = counting
    try:
        builder(spark, BASE)
    finally:
        conn.send_command = send
    return sum(n for kind, n in kinds.items() if kind != "m")


@pytest.fixture(scope="module")
def counts(spark):
    qs = all_queries()
    out = {}
    for name in BUILDERS:
        builder = qs[name].builder
        builder(spark, BASE)  # warm: catalog memo, first-use setup
        out[name] = (_count_commands(spark, builder), _count_commands(spark, builder))
    spark.catalog.clearCache()
    return out


def test_budget_covers_the_benchmark_builders():
    assert set(PY4J_BUDGET) == set(BUILDERS)


def test_py4j_counts_are_deterministic(counts):
    unstable = {n: c for n, c in counts.items() if c[0] != c[1]}
    assert not unstable, f"(first, second) build counts differ: {unstable}"


def test_py4j_commands_within_budget(counts):
    over = {
        n: (PY4J_BUDGET[n], c[0]) for n, c in counts.items() if c[0] > PY4J_BUDGET[n]
    }
    assert not over, f"(budget, actual) Py4J commands per build: {over}"


def test_catalog_memo_hit_sends_no_commands(spark):
    def load(s, sf_dir):
        return load_table(s, sf_dir, "orders")

    load(spark, BASE)
    assert _count_commands(spark, load) == 0


def test_app_id_is_read_per_context_object():
    class Context:
        def __init__(self, app):
            self.applicationId = app

    class Session:
        def __init__(self, sc):
            self.sparkContext = sc

    first = Session(Context("app-1"))
    assert app_id(first) == "app-1"
    first.sparkContext.applicationId = "changed"  # memoized: not read again
    assert app_id(first) == "app-1"
    assert app_id(Session(Context("app-2"))) == "app-2"
