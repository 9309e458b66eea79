"""Driver contract for the spark-graft builder (PySpark target).

Thin projection of :mod:`appeals_data_spark.registry` — every
implemented operator from SURVEY.md §2 registers a Spark builder and a
DuckDB-compatible ANSI-SQL oracle there.

Exactly four registered queries ship WITHOUT an oracle BY DESIGN
(the driver records ``err: "no_oracle"`` rows-only checks for them):
``dedup_minhash_lsh``, ``dedup_simhash_hamming``, ``vec_lsh_topk``
and ``pipe_dsir_importance_prod`` use Spark-internal hash functions
(xxhash64 seeds / bit sampling) that no ANSI SQL can reproduce. Each
has an oracle-backed portable twin that IS fully hash-checked —
``dedup_minhash_portable``, ``dedup_simhash_portable``,
``vec_lsh_portable`` and ``pipe_dsir_importance`` (the murmur3-based
portable DSIR; the ``_prod`` twin swaps in xxhash64 for the 100 TB
path) — plus pytest recall/equivalence gates, so the rows-only rows
are a design choice, not missing coverage.
tests/test_entry_contract.py::test_no_oracle_set_matches_docstring
pins this documented set to the registry.
"""

from __future__ import annotations

from collections.abc import Callable

from pyspark.sql import DataFrame, SparkSession

from appeals_data_spark.registry import all_queries

SMOKE_SF_DIR = "/root/testdata/sf0.001"


def entry(spark: SparkSession) -> DataFrame:
    """Flagship query (TPC-H Q1-shaped pricing summary) on sf0.001."""
    qs = all_queries()
    return qs["a1_pricing_summary"].builder(spark, SMOKE_SF_DIR)


def queries() -> dict[str, Callable[[SparkSession, str], DataFrame]]:
    """Every registered query: name -> ``builder(spark, sf_dir)``.

    A builder may persist intermediates (and some run eager jobs) while
    it builds its DataFrame, and it does not release them. A caller that
    runs queries back to back on one session is expected to call
    ``spark.catalog.clearCache()`` between queries, as ``bench.py``,
    ``tools/ab.py`` and ``appbench`` do; otherwise the blocks pile up in
    storage memory.

    Such a caller should also build its session with
    ``spark.sql.codegen.cache.maxEntries`` at least 4096 (a static conf,
    as ``session.get_spark`` sets it). At Spark's 100-entry default the
    registry's generated classes, 2,817 on one sweep, evict each other,
    and every warm query compiles its code again.
    """
    return {name: q.builder for name, q in all_queries().items()}


def oracle_sql() -> dict[str, str]:
    return {name: q.oracle for name, q in all_queries().items() if q.oracle}
