"""Dump .explain("formatted") for named queries to plans/<dir>/.

Usage:
    python tools/dump_plan.py --out plans/r12 --suffix before name [name ...]

Writes plans/<out>/<name>_<suffix>.txt with the formatted physical
plan (the judge-auditable artifact for optimization rounds).
"""

from __future__ import annotations

import argparse
import os
import sys

sys.path.insert(0, os.path.dirname(os.path.dirname(os.path.abspath(__file__))))

from appeals_data_spark.registry import all_queries  # noqa: E402
from appeals_data_spark.session import get_spark  # noqa: E402


def main() -> int:
    ap = argparse.ArgumentParser()
    ap.add_argument("--sf", default="/root/testdata/sf0.1")
    ap.add_argument("--out", default="plans/r12")
    ap.add_argument("--suffix", default="before")
    ap.add_argument("names", nargs="+")
    args = ap.parse_args()

    os.makedirs(args.out, exist_ok=True)
    spark = get_spark()
    spark.sparkContext.setLogLevel("ERROR")
    qs = all_queries()
    for name in args.names:
        if name not in qs:
            print(f"unknown query: {name}", file=sys.stderr)
            return 2
        df = qs[name].builder(spark, args.sf)
        plan = df._sc._jvm.PythonSQLUtils.explainString(
            df._jdf.queryExecution(), "formatted"
        )
        path = os.path.join(args.out, f"{name}_{args.suffix}.txt")
        with open(path, "w") as f:
            f.write(plan)
        print(f"wrote {path} ({plan.count('Exchange')} Exchange refs)")
    return 0


if __name__ == "__main__":
    raise SystemExit(main())
