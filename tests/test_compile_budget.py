"""Compile gate for the benchmark's query builders.

A query whose generated classes are still in Spark's code-generation
cache compiles nothing when it runs again; one whose classes were
evicted compiles them again with Janino, which costs driver time on
every run. This gate runs the 24 builders in appbench's workloads twice
on ``appbench/base``, each query collected and followed by
``clearCache()``, and counts the classes each pass compiles
(``CodegenMetrics``). The warm pass may compile at most
``WARM_COMPILE_SHARE`` of what the first pass compiled: with Spark's
100-entry default the warm pass compiles about as much as the first,
because the builders' working set is several hundred classes.

The same rule holds for ``CONCURRENT_STAGE_QUERIES``, whose concurrent
stages finish in no fixed order. AQE numbers codegen stages in that
order, so while whole-stage classes were named after the stage id a
warm run generated classes that differed only in their name and
compiled them again (13% of the first pass on appbench/base, 4 cores).
"""

from __future__ import annotations

import pytest
from test_build_budget import BASE, BUILDERS

from appeals_data_spark.registry import all_queries
from bench import compile_count

WARM_COMPILE_SHARE = 0.05

CONCURRENT_STAGE_QUERIES = [
    "text_trigram_backoff_logprob",
    "vec_pq_recall_report",
    "a26_hll_setops_bound",
    "pipe_perplexity_buckets",
]


def _pass_compiles(spark, names) -> list[int]:
    """Classes compiled by a first and a warm pass over ``names``."""
    qs = all_queries()
    counts = []
    for _ in range(2):
        c0 = compile_count(spark)
        for name in names:
            qs[name].builder(spark, BASE).collect()
            spark.catalog.clearCache()
        counts.append(compile_count(spark) - c0)
    return counts


def _check(counts):
    first, warm = counts
    assert warm <= WARM_COMPILE_SHARE * first, (
        f"warm pass compiled {warm} classes against {first} in the first pass"
    )


def test_warm_pass_compiles_within_budget(spark):
    _check(_pass_compiles(spark, BUILDERS))


def test_concurrent_stage_queries_warm_pass_compiles_within_budget(spark):
    _check(_pass_compiles(spark, CONCURRENT_STAGE_QUERIES))
