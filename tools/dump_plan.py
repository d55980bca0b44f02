#!/usr/bin/env python
"""Dump the physical plans registered queries ran to plans/<tag>/.

Usage: python tools/dump_plan.py --tag r12 --suffix before name [name ...]

Writes plans/<tag>/<query>_<suffix>.txt (repo-level plans/ directory, the
evidence of optimization rounds). The plans are read from
Spark's status store (``session.ran_plans``): the final adaptive plan of
every SQL execution the query ran, each checkpointed round of an
iterative operator included, then the returned frame's own plan.
"""

from __future__ import annotations

import argparse
import os
import sys

sys.path.insert(0, os.path.dirname(os.path.dirname(os.path.abspath(__file__))))


def main() -> None:
    ap = argparse.ArgumentParser()
    ap.add_argument("names", nargs="*")
    ap.add_argument("--all", action="store_true")
    ap.add_argument("--tag", default="r12")
    ap.add_argument("--suffix", default="before")
    ap.add_argument("--sf", default="/root/testdata/sf0.1")
    args = ap.parse_args()

    from python_sql_etl_project_spark import registry
    from python_sql_etl_project_spark.session import build_spark, ran_plans

    spark = build_spark(app_name="dump_plan", master="local[8]")
    queries = registry.all_queries()
    names = sorted(queries) if args.all else args.names

    outdir = os.path.join(
        os.path.dirname(os.path.dirname(os.path.abspath(__file__))),
        "plans",
        args.tag,
    )
    os.makedirs(outdir, exist_ok=True)
    for name in names:
        try:
            _, plans = ran_plans(spark, lambda: queries[name](spark, args.sf))
            heads = [f"execution {i} of {len(plans) - 1}" for i in range(1, len(plans))]
            plan = "".join(
                f"== {h} ==\n{p}\n\n"
                for h, (_, p) in zip(heads + ["returned frame"], plans)
            )
        except Exception as e:  # streaming frames can't explain offline
            plan = f"UNAVAILABLE: {type(e).__name__}: {e}\n"
        path = os.path.join(outdir, f"{name}_{args.suffix}.txt")
        with open(path, "w") as f:
            f.write(plan)
        spark.catalog.clearCache()
        print(f"wrote {path}", flush=True)


if __name__ == "__main__":
    main()
