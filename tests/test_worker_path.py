"""The package that runs is the checkout's own, wherever it is launched.

Both tests start a fresh interpreter in a directory outside the
repository, with the repository absent from ``PYTHONPATH``, so nothing
but the code under test can put a package on the path.
"""

from __future__ import annotations

import json
import os
import shutil
import subprocess
import sys
import textwrap
from pathlib import Path

from conftest import SF_SMOKE

REPO = Path(__file__).resolve().parents[1]

# Physical plan nodes that run Python workers.
PY_WORKER_NODES = (
    "MapInPandas|MapInArrow|FlatMapGroupsInPandas|ArrowEvalPython|BatchEvalPython"
)


def _run(script: str, cwd: Path, timeout: int) -> subprocess.CompletedProcess:
    env = {k: v for k, v in os.environ.items() if k != "PYTHONPATH"}
    return subprocess.run(
        [sys.executable, "-c", textwrap.dedent(script)],
        cwd=cwd, env=env, capture_output=True, text=True, timeout=timeout,
    )


def test_check_rules_import_the_checkouts_package(tmp_path):
    """appbench/oracle.py exec's tools/check.py before its worker imports
    the engine, so check.py decides which package a benchmark run times."""
    (tmp_path / "tools").mkdir()
    shutil.copy(REPO / "tools" / "check.py", tmp_path / "tools" / "check.py")
    shutil.copytree(
        REPO / "appeals_data_spark", tmp_path / "appeals_data_spark",
        ignore=shutil.ignore_patterns("__pycache__"),
    )
    proc = _run(
        f"""
        import importlib.util
        spec = importlib.util.spec_from_file_location(
            "appbench_check_rules", {str(tmp_path / "tools" / "check.py")!r})
        spec.loader.exec_module(importlib.util.module_from_spec(spec))
        import appeals_data_spark
        print(appeals_data_spark.__file__)
        """,
        cwd=tmp_path, timeout=120,
    )
    assert proc.returncode == 0, proc.stderr[-2000:]
    loaded = Path(proc.stdout.strip().splitlines()[-1]).resolve()
    assert loaded.is_relative_to(tmp_path.resolve()), loaded


def test_python_worker_queries_run_with_package_off_workers_path(tmp_path):
    """Every query whose plan runs Python workers returns rows when the
    package is only on the driver's ``sys.path``: the workers must get
    the helpers they call by value, not by import. Every builder runs,
    so Python passes a builder executes eagerly (checkpoints) are
    covered too; the plan scan picks which results to collect."""
    proc = _run(
        f"""
        import json, re, sys
        sys.path.insert(0, {str(REPO)!r})
        from appeals_data_spark.registry import all_queries
        from appeals_data_spark.session import get_spark
        spark = get_spark("worker-path", cpus=4, shuffle_partitions=8)
        spark.sparkContext.setLogLevel("OFF")
        node = re.compile({PY_WORKER_NODES!r})
        ran, failed = [], {{}}
        for name, q in all_queries().items():
            try:
                df = q.builder(spark, {SF_SMOKE!r})
                if node.search(df._jdf.queryExecution().executedPlan().toString()):
                    ran.append(name)
                    df.collect()
            except Exception as e:
                errs = [l for l in str(e).splitlines() if "Error" in l] or [repr(e)]
                failed[name] = errs[-1][:300]
            spark.catalog.clearCache()
        spark.stop()
        print(json.dumps({{"ran": ran, "failed": failed}}))
        """,
        cwd=tmp_path, timeout=1200,
    )
    assert proc.returncode == 0, proc.stderr[-2000:]
    out = json.loads(proc.stdout.strip().splitlines()[-1])
    assert not out["failed"], out["failed"]
    # the plan scan must find the known Arrow families, or it checks nothing
    assert {"mm_decode_image", "mm_decode_audio", "vec_ivf_topk"} <= set(out["ran"])
