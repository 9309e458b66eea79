"""The session factory's confs take effect where they are meant to.

``session.tune`` applies RUNTIME_CONFS to a session the engine did
not build (the correctness driver's) and swallows the error a static
conf raises there, so a static key in RUNTIME_CONFS would silently do
nothing on that session. Static confs belong on the builder in
``get_spark``.
"""

from __future__ import annotations

from appeals_data_spark.session import CODEGEN_CACHE_ENTRIES, RUNTIME_CONFS


def test_every_runtime_conf_is_runtime_settable(spark):
    static = [k for k in RUNTIME_CONFS if not spark.conf.isModifiable(k)]
    assert not static, f"not runtime-settable, move to get_spark: {static}"


def test_call_site_capture_is_off(spark):
    key = "spark.python.sql.dataFrameDebugging.enabled"
    assert spark.conf.get(key) == "false"


def test_generated_class_cache_holds_the_working_set(spark):
    key = "spark.sql.codegen.cache.maxEntries"
    assert spark.conf.get(key) == str(CODEGEN_CACHE_ENTRIES)
