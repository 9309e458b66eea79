"""Self-tests of the benchmark's result check.

    python3 appbench/selftest.py

Derives a seeded variant under ``.benchwork/selftest/``, starts one
local Spark session and shows two things; exits non-zero if either
does not hold:

1. a corrupted result counts as a failure: a registry query's correct
   result passes the check, and the same rows with one value changed
   fail it and are counted by the worker's ``Recorder``;
2. a stale read counts as a failure even though it returns promptly:
   rows a registry read returned before 50 rows were appended to
   ``events`` pass the check against the oracle taken before the
   append and fail it against the oracle taken after, and the
   ``Recorder`` counts that execution as failed.

It then reports, for information only, whether a second registry read
through ``catalog.load_table`` in the same session sees the appended
rows. That outcome depends on the catalog's read memo, not on the
check, so it does not decide the exit code.
"""

from __future__ import annotations

import os
import shutil
import sys

HERE = os.path.dirname(os.path.abspath(__file__))
ROOT = os.path.dirname(HERE)
sys.path[:0] = [HERE, ROOT]

import pyarrow as pa  # noqa: E402
import pyarrow.parquet as pq  # noqa: E402

import datagen  # noqa: E402
import oracle  # noqa: E402
import worker  # noqa: E402


def main() -> int:
    work = os.path.join(ROOT, ".benchwork", "selftest")
    shutil.rmtree(work, ignore_errors=True)
    tmp = os.path.join(work, "tmp")
    os.makedirs(tmp)
    os.environ.update(
        PYTHONPATH=os.pathsep.join([ROOT, HERE]), TMPDIR=tmp,
        SPARK_LOCAL_DIRS=os.path.join(work, "spark-local"), SPARK_DRIVER_MEMORY="1g",
    )
    data = os.path.join(work, "data")
    tables = datagen.variant_tables(datagen.base_tables(), seed=1)
    datagen.write_tables(tables, data)

    from appeals_data_spark.registry import all_queries
    from appeals_data_spark.session import get_spark

    qs = all_queries()
    spark = get_spark("appbench-selftest", cpus=2)
    ok = True
    try:
        def paths():
            return {t: os.path.join(data, f"{t}.parquet") for t in tables}

        # 1. corrupted result
        q = qs["a12_monthly_rollup"]
        exp = oracle.run_oracle(oracle.connect(paths()), q.oracle)
        sdf = q.builder(spark, data)
        rows = [tuple(r) for r in sdf.collect()]
        good = oracle.check(sdf.columns, sdf.dtypes, rows, exp)
        bad_rows = list(rows)
        first = list(bad_rows[0])
        num = next(i for i, v in enumerate(first) if isinstance(v, (int, float)))
        first[num] = first[num] + 1
        bad_rows[0] = tuple(first)
        bad = oracle.check(sdf.columns, sdf.dtypes, bad_rows, exp)
        rec = worker.Recorder()
        rec.add(q.name, 0.1, good)
        rec.add(q.name, 0.1, bad)
        case1 = good is None and bad is not None and rec.failed == 1 and rec.ok == 1
        print(f"{'PASS' if case1 else 'FAIL'} corrupted result counts as a failure ({bad})")
        ok &= case1

        # 2. stale read: rows read before an append, checked after it
        q = qs["stream_tumbling_counts"]
        sdf = q.builder(spark, data)
        old_rows = sdf.collect()
        exp_before = oracle.run_oracle(oracle.connect(paths()), q.oracle)
        ev_dir = os.path.join(data, "events.parquet")
        before = spark.read.parquet(ev_dir).count()
        extra = pq.read_table(os.path.join(ev_dir, "part-000.parquet")).slice(0, 50)
        extra = extra.set_column(0, "event_id", pa.array(range(10**9, 10**9 + 50), pa.int64()))
        pq.write_table(extra, os.path.join(ev_dir, "part-999.parquet"))
        fresh = spark.read.parquet(ev_dir).count()
        exp_after = oracle.run_oracle(oracle.connect(paths()), q.oracle)
        was_right = oracle.check(sdf.columns, sdf.dtypes, old_rows, exp_before)
        err = oracle.check(sdf.columns, sdf.dtypes, old_rows, exp_after)
        rec = worker.Recorder()
        rec.add(q.name, 0.1, err)
        case2 = (
            fresh == before + 50 and was_right is None and err is not None
            and rec.failed == 1 and rec.ok == 0
        )
        print(
            f"{'PASS' if case2 else 'FAIL'} stale read counts as a failure "
            f"(events {before} -> {fresh} rows; pre-append rows vs post-append oracle: {err})"
        )
        ok &= case2

        sdf = q.builder(spark, data)
        again = oracle.check(sdf.columns, sdf.dtypes, sdf.collect(), exp_after)
        print(
            "INFO re-read through catalog.load_table after the append: "
            + ("fresh" if again is None else f"stale ({again})")
        )
    finally:
        spark.stop()
        shutil.rmtree(work, ignore_errors=True)
    return 0 if ok else 1


if __name__ == "__main__":
    sys.exit(main())
