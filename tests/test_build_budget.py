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
    "a1_pricing_summary": 147,
    "j8_argmax_latest_order": 87,
    "p4_range_in_between": 91,
    "w11_rolling_mean": 103,
    "r2_pivot_event_matrix": 40,
    "u5_event_where_hook": 68,
    "x4_transition_matrix": 151,
    "comp_docket_projection": 178,
    "surv_km_counts": 177,
    "surv_cuminc": 305,
    "x3_linreg_closed_form": 129,
    "x6_logistic_glmm": 443,
    "x3_linear_svm_eval": 378,
    "pref_bradley_terry": 340,
    "closure_components": 228,
    "graph_pagerank_handoff": 190,
    "dedup_minhash_portable": 1468,
    "dedup_embedding_cosine": 338,
    "mm_decode_image": 175,
    "text_bpe_vocab": 1334,
    "dedup_incremental_delta": 394,
    "text_unigram_logprob": 239,
    "vec_brute_force_topk": 165,
    "pipe_source_caps": 124,
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
