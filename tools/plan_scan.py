"""Plan scan: build every declared query (or only the named ones) and
read its plans without executing it.

    python tools/plan_scan.py             # every query, registration order
    python tools/plan_scan.py q1 q2 ...   # only the named queries
    python tools/plan_scan.py --diff A.json B.json
    python tools/plan_scan.py --explain   # regenerate EXPLAIN.md

The fixture is $SPARK_GRAFT_SF_DIR (default /root/testdata/sf0.001).
A scan writes ``plan_scan_sf{sf}.json`` beside this checkout's
bench.py, one record per query:

- ``eager_jobs``: Spark jobs the construction ran before returning
  its DataFrame (the build runs under its own job group);
- ``existing_rdd``: ``ExistingRDD`` leaves (checkpointed or
  RDD-backed inputs) in the executed plan, whose work the plan hides;
- ``global_windows``: windows in the optimized plan with no
  PARTITION BY (ordered or not), which move every row to one task;
- ``single_partition``: ``Exchange SinglePartition`` nodes that do not
  feed an aggregate's final step;
- ``plan``: the executed plan, masked for the ids, temporary names and
  distinct-aggregate group order that change between runs;
- ``error``: the exception type and first line, if building or
  planning raised.

``--diff`` lists the queries whose masked plan or counts differ
between two scans, e.g. of a parent and a change:

    python /path/to/parent/tools/plan_scan.py
    python tools/plan_scan.py
    python tools/plan_scan.py --diff /path/to/parent/plan_scan_sf0.001.json \\
        plan_scan_sf0.001.json

``--explain`` rebuilds the queries named by EXPLAIN.md's ``## name``
headings, keeps each heading's ``*note*`` line and rewrites the plans.
"""

from __future__ import annotations

import json
import os
import re
import sys
import uuid

ROOT = os.path.dirname(os.path.dirname(os.path.abspath(__file__)))
sys.path.insert(0, ROOT)

DEFAULT_SF_DIR = "/root/testdata/sf0.001"
COUNTS = ("eager_jobs", "existing_rdd", "global_windows", "single_partition")
FIELDS = (*COUNTS, "plan", "error")
MASKS = (
    (re.compile(r"#\d+"), "#N"),                    # expression ids
    (re.compile(r"plan_id=\d+"), "plan_id=N"),
    (re.compile(r"(lambda \w+?)_\d+\b"), r"\1_N"),  # lambda variables
    (re.compile(r"\bsnk_[0-9a-f]{12}\b"), "snk_UUID"),  # memory-sink names
    (re.compile(r"\b(svs_(?:ckpt|merge|wm|evo)_)[a-z0-9_]{8}\b"), r"\1TMP"),
)
_AGG_FINAL = re.compile(r"(Hash|ObjectHash|Sort)Aggregate\(")


def mask(plan: str) -> str:
    for pattern, repl in MASKS:
        plan = pattern.sub(repl, plan)
    # Spark's distinct-aggregate rewrite (Expand plus a `gid` column)
    # lists its groups in hash order, which follows the expression ids:
    # such a line is kept as the sorted words it holds
    return "\n".join(
        line[:len(line) - len(line.lstrip(" :+-"))]
        + " ".join(sorted(re.findall(r"[\w#$.']+", line)))
        if "gid#N" in line else line
        for line in plan.splitlines())


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


def global_windows(plan: str) -> list[str]:
    """Window specs with no PARTITION BY: their first argument is a
    sort order or, for ``OVER ()``, the frame itself."""
    out = []
    for m in re.finditer(r"windowspecdefinition\(", plan):
        arg = first_arg(plan[m.end():]).strip()
        if " ASC" in arg or " DESC" in arg or arg.startswith("specifiedwindowframe("):
            out.append(arg)
    return out


def single_partition_exchanges(plan: str) -> int:
    """``Exchange SinglePartition`` nodes of a tree string whose parent
    is not an aggregate (an aggregate's final step above one is a
    harmless global aggregate)."""
    count, stack = 0, []  # stack: (column, node text) of the open path
    for line in plan.splitlines():
        node = re.sub(r"^[\s:|+-]*", "", line)
        col = len(line) - len(node)
        node = re.sub(r"^\*\(\d+\) ", "", node)  # codegen stage marker
        while stack and stack[-1][0] >= col:
            stack.pop()
        if node.startswith("Exchange SinglePartition"):
            parent = stack[-1][1] if stack else ""
            count += not _AGG_FINAL.match(parent)
        stack.append((col, node))
    return count


def build(spark, name: str, fn, sf_dir: str) -> tuple[dict, str]:
    """Build one query under its own job group and read its plans;
    returns (record, unmasked executed plan)."""
    sc = spark.sparkContext
    group = f"plan_scan-{uuid.uuid4().hex}"
    rec = dict.fromkeys(FIELDS)
    raw = ""
    try:
        sc.setJobGroup(group, name)
        try:
            df = fn(spark, sf_dir)
        finally:
            sc.setLocalProperty("spark.jobGroup.id", None)
            sc.setLocalProperty("spark.job.description", None)
        qe = df._jdf.queryExecution()
        optimized = qe.optimizedPlan().toString()
        raw = qe.executedPlan().toString()
    except Exception as e:  # noqa: BLE001 - record it, keep scanning
        lines = str(e).strip().splitlines()
        rec["error"] = f"{type(e).__name__}: {lines[0] if lines else ''}"
        optimized = ""
    sc._jsc.sc().listenerBus().waitUntilEmpty()
    rec.update(
        eager_jobs=len(sc.statusTracker().getJobIdsForGroup(group)),
        existing_rdd=raw.count("ExistingRDD"),
        global_windows=len(global_windows(optimized)),
        single_partition=single_partition_exchanges(raw),
        plan=mask(raw),
    )
    return rec, raw


def scan(spark, items, sf_dir: str) -> dict:
    """{name: record} for every (name, fn) in ``items``, in order."""
    out = {}
    for name, fn in items:
        out[name] = rec = build(spark, name, fn, sf_dir)[0]
        print(f"# {name}: {rec['eager_jobs']} eager jobs, "
              f"{rec['existing_rdd']} ExistingRDD"
              + (f", {rec['error']}" if rec["error"] else ""), file=sys.stderr)
    return out


def diff(a: dict, b: dict) -> list[str]:
    """One line per query whose record differs between scans ``a`` and
    ``b`` (the ``queries`` maps of two artifacts)."""
    lines = []
    for name in list(a) + [n for n in b if n not in a]:
        if name not in b or name not in a:
            lines.append(f"{name}: only in {'A' if name in a else 'B'}")
            continue
        changed = [f for f in FIELDS if a[name].get(f) != b[name].get(f)]
        if changed:
            lines.append(f"{name}: {', '.join(changed)}")
    return lines


def explain(spark, qs: dict, sf_dir: str) -> int:
    """Rewrite EXPLAIN.md: each ``## name`` section keeps its note line
    and gets the query's current executed plan."""
    path = os.path.join(ROOT, "EXPLAIN.md")
    with open(path) as fh:
        text = fh.read()
    sections = re.findall(r"^## (\S+)\n\n(\*.*\*)\n", text, re.M)
    out = [
        "# EXPLAIN — physical plans of the headline queries",
        "",
        f"Generated by `SPARK_GRAFT_SF_DIR={sf_dir} python tools/plan_scan.py --explain`.",
        "Plans are pre-execution (`AdaptiveSparkPlan isFinalPlan=false`);",
        "AQE may further coalesce partitions / convert joins at runtime.",
        "",
    ]
    for name, note in sections:
        rec, raw = build(spark, name, qs[name], sf_dir)
        out += [f"## {name}", "", note, "", "```",
                (raw or rec["error"]).rstrip(), "```", ""]
    with open(path, "w") as fh:
        fh.write("\n".join(out))
    print(f"wrote {path} ({len(sections)} plans)", file=sys.stderr)
    return 0


def main(argv: list[str]) -> int:
    if argv[:1] == ["--diff"]:
        if len(argv) != 3:
            raise SystemExit("plan_scan.py: --diff takes two scan files")
        scans = []
        for p in argv[1:]:
            with open(p) as fh:
                scans.append(json.load(fh)["queries"])
        lines = diff(*scans)
        print("\n".join(lines + [f"{len(lines)} changed plans"]))
        return 1 if lines else 0

    from simple_vector_spark.registry import _QUERIES

    explain_mode = argv[:1] == ["--explain"]
    names = [] if explain_mode else argv
    unknown = [n for n in names if n not in _QUERIES]
    if unknown:
        raise SystemExit(f"plan_scan.py: unknown query names: {', '.join(unknown)}")

    from bench import sf_label
    from simple_vector_spark.session import get_spark

    sf_dir = os.environ.get("SPARK_GRAFT_SF_DIR", DEFAULT_SF_DIR)
    spark = get_spark("plan-scan")
    # fixed registration order, as bench.py: a query's plan can depend
    # on the session caches its predecessors left behind
    qs = dict(_QUERIES)
    if explain_mode:
        return explain(spark, qs, sf_dir)

    records = scan(spark, [(n, qs[n]) for n in names or qs], sf_dir)
    out_path = os.path.join(ROOT, f"plan_scan_sf{sf_label(sf_dir)}.json")
    with open(out_path, "w") as fh:
        json.dump({"sf_dir": sf_dir, "queries": records}, fh, indent=1)
        fh.write("\n")
    totals = {f: sum(r[f] for r in records.values()) for f in COUNTS}
    totals["errors"] = sum(r["error"] is not None for r in records.values())
    print(json.dumps({"n_queries": len(records), **totals, "artifact": out_path}))
    return 0


if __name__ == "__main__":
    raise SystemExit(main(sys.argv[1:]))
