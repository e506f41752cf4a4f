"""Offline plan audit: find every declared query whose OPTIMIZED plan
contains an orderBy-only (unpartitioned) window — the construct that
moves all rows to one partition at scale.  Slow (~9 min: building the
512 plans executes the eager constructions), so it runs as a tool, not
a pytest; the fast source-level guard is
tests/test_plans.py::test_orderby_only_windows_allowlisted.

Usage: python tools/window_sweep.py [sf_dir]
"""

from __future__ import annotations

import os
import re
import sys

ROOT = os.path.dirname(os.path.dirname(os.path.abspath(__file__)))
sys.path.insert(0, ROOT)


def first_arg(s: str) -> str:
    depth = 0
    for i, ch in enumerate(s):
        if ch == "(":
            depth += 1
        elif ch == ")":
            if depth == 0:
                return s[:i]
            depth -= 1
        elif ch == "," and depth == 0:
            return s[:i]
    return s


def orderby_only(plan: str) -> list[str]:
    out = []
    for m in re.finditer(r"windowspecdefinition\(", plan):
        arg = first_arg(plan[m.end():])
        if " ASC" in arg or " DESC" in arg:
            out.append(arg.strip())
    return out


def main() -> int:
    from simple_vector_spark.registry import queries
    from simple_vector_spark.session import get_spark

    sf_dir = sys.argv[1] if len(sys.argv) > 1 else "/root/testdata/sf0.001"
    spark = get_spark("winsweep")
    offenders: dict[str, list[str]] = {}
    for name, fn in queries().items():
        if name.startswith("stream_"):
            continue  # streaming plans cannot hold unpartitioned windows
        try:
            df = fn(spark, sf_dir)
            plan = df._jdf.queryExecution().optimizedPlan().toString()
        except Exception as e:  # noqa: BLE001 - report, keep sweeping
            offenders[name] = [f"ERROR {type(e).__name__}"]
            continue
        hits = orderby_only(plan)
        if hits:
            offenders[name] = hits[:1]
    for k, v in sorted(offenders.items()):
        print("OFFENDER", k, v)
    print("total offenders:", len(offenders))
    return 0


if __name__ == "__main__":
    raise SystemExit(main())
