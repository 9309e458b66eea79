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
"""

from __future__ import annotations

import pytest
from test_build_budget import BASE, BUILDERS

from appeals_data_spark.registry import all_queries
from bench import compile_count

WARM_COMPILE_SHARE = 0.05


@pytest.fixture(scope="module")
def compiles(spark):
    qs = all_queries()
    counts = []
    for _ in range(2):
        c0 = compile_count(spark)
        for name in BUILDERS:
            qs[name].builder(spark, BASE).collect()
            spark.catalog.clearCache()
        counts.append(compile_count(spark) - c0)
    return counts


def test_warm_pass_compiles_within_budget(compiles):
    first, warm = compiles
    assert warm <= WARM_COMPILE_SHARE * first, (
        f"warm pass compiled {warm} classes against {first} in the first pass"
    )
