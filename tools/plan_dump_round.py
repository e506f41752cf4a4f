"""Dump `.explain("formatted")` output per query into plans/<round>/.

Optimization-round evidence tool: captures the physical plan of each
named declared query at the bench scale factor so before/after plan
diffs are reviewable without running Spark.

Usage:
    python tools/plan_dump_round.py --round r08 --suffix before \
        [--sf-dir /root/testdata/sf0.1] name1 name2 ...

Each query is written to plans/<round>/<name>_<suffix>.txt.  Plans are
pre-execution (`AdaptiveSparkPlan isFinalPlan=false`); AQE may further
coalesce partitions / convert joins at runtime.
"""

from __future__ import annotations

import argparse
import os
import sys

ROOT = os.path.dirname(os.path.dirname(os.path.abspath(__file__)))
sys.path.insert(0, ROOT)


def main() -> None:
    ap = argparse.ArgumentParser()
    ap.add_argument("--round", default="r08")
    ap.add_argument("--suffix", default="before")
    ap.add_argument("--sf-dir", default="/root/testdata/sf0.1")
    ap.add_argument("names", nargs="+")
    args = ap.parse_args()

    from simple_vector_spark.registry import queries
    from simple_vector_spark.session import get_spark

    spark = get_spark("plan-dump")
    qs = queries()
    out_dir = os.path.join(ROOT, "plans", args.round)
    os.makedirs(out_dir, exist_ok=True)
    mode = spark._jvm.org.apache.spark.sql.execution.ExplainMode.fromString(
        "formatted"
    )
    for name in args.names:
        if name not in qs:
            print(f"!! unknown query {name}", file=sys.stderr)
            continue
        df = qs[name](spark, args.sf_dir)
        txt = df._jdf.queryExecution().explainString(mode)
        path = os.path.join(out_dir, f"{name}_{args.suffix}.txt")
        with open(path, "w") as fh:
            fh.write(
                f"# {name} — explain(formatted) at {args.sf_dir}"
                f" ({args.suffix})\n\n"
            )
            fh.write(txt.rstrip() + "\n")
        print(f"wrote {path}")


if __name__ == "__main__":
    main()
