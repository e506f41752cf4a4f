"""tools/plan_scan.py: the plan mask, the orderBy-only window detector,
--diff, a live scan of three queries, and a guard that every
``tools/<name>.py`` a recipe names exists."""

from __future__ import annotations

import importlib.util
import json
import pathlib
import re

import pytest

ROOT = pathlib.Path(__file__).resolve().parent.parent
_spec = importlib.util.spec_from_file_location("plan_scan", ROOT / "tools" / "plan_scan.py")
plan_scan = importlib.util.module_from_spec(_spec)
_spec.loader.exec_module(plan_scan)


def test_mask_drops_run_varying_names():
    a = ("Project [round(aggregate(zip_with(embedding#1, __q_vec#4, "
         "lambdafunction((lambda x_1#10 - lambda y_2#11), lambda x_1#10, "
         "lambda y_2#11, false)), 6) AS dist#9]\n"
         "+- BroadcastExchange IdentityBroadcastMode, [plan_id=30]\n"
         "   +- InMemoryRelation [n#5L], snk_0123456789ab\n"
         "      +- FileScan parquet [file:/tmp/svs_ckpt_a1b2_c3d/state, "
         "file:/tmp/svs_evo_zz9y8x7w/v1]")
    b = ("Project [round(aggregate(zip_with(embedding#101, __q_vec#104, "
         "lambdafunction((lambda x_57#110 - lambda y_58#111), lambda x_57#110, "
         "lambda y_58#111, false)), 6) AS dist#109]\n"
         "+- BroadcastExchange IdentityBroadcastMode, [plan_id=731]\n"
         "   +- InMemoryRelation [n#105L], snk_fedcba987654\n"
         "      +- FileScan parquet [file:/tmp/svs_ckpt_q0_w9e8r/state, "
         "file:/tmp/svs_evo_00000000/v1]")
    assert plan_scan.mask(a) == plan_scan.mask(b)
    masked = plan_scan.mask(a)
    assert "lambda x_N#N" in masked and "n#NL" in masked
    assert not re.search(r"#\d|plan_id=\d|snk_0|a1b2|zz9y", masked)
    # a different column or node is still a different plan
    assert plan_scan.mask(a) != plan_scan.mask(a.replace("dist#9", "score#9"))


def test_mask_orders_distinct_aggregate_groups():
    """Spark's distinct-aggregate rewrite numbers its groups in hash
    order, which moves with the expression ids between runs."""
    a = ("+- HashAggregate(keys=[k#1L, x#2, y#4, gid#3], functions=[])\n"
         "   +- Expand [[k#1L, x#2, null, 1], [k#1L, null, y#4, 2]], [k#1L, x#2, y#4, gid#3]")
    b = ("+- HashAggregate(keys=[k#11L, y#14, x#12, gid#13], functions=[])\n"
         "   +- Expand [[k#11L, y#14, null, 1], [k#11L, null, x#12, 2]], [k#11L, y#14, x#12, gid#13]")
    assert plan_scan.mask(a) == plan_scan.mask(b)
    assert plan_scan.mask(a).splitlines()[1].startswith("   +- ")
    assert plan_scan.mask(a) != plan_scan.mask(a.replace("y#4", "z#4"))


@pytest.mark.parametrize("window, hits", [
    # partitioned: the first argument is a partition column
    ("windowspecdefinition(user_id#1L, ts#2 ASC NULLS FIRST, "
     "specifiedwindowframe(RowFrame, unboundedpreceding$(), currentrow$()))", []),
    # unpartitioned: the first argument is a sort order
    ("windowspecdefinition(month#7 ASC NULLS FIRST, "
     "specifiedwindowframe(RowFrame, unboundedpreceding$(), currentrow$()))",
     ["month#7 ASC NULLS FIRST"]),
    # nested parentheses in an unpartitioned sort expression
    ("windowspecdefinition(round((cast(a#1 as double) / b#2), 6) DESC NULLS LAST, "
     "specifiedwindowframe(RangeFrame, unboundedpreceding$(), currentrow$()))",
     ["round((cast(a#1 as double) / b#2), 6) DESC NULLS LAST"]),
    # nested parentheses in a partition expression
    ("windowspecdefinition(pmod(hash(k#1, 42), 4), v#2 ASC NULLS FIRST, "
     "specifiedwindowframe(RowFrame, unboundedpreceding$(), currentrow$()))", []),
    # unpartitioned and unordered (OVER ()): the first argument is the frame
    ("windowspecdefinition(specifiedwindowframe(RowFrame, "
     "unboundedpreceding$(), unboundedfollowing$()))",
     ["specifiedwindowframe(RowFrame, unboundedpreceding$(), unboundedfollowing$())"]),
    # partitioned and unordered
    ("windowspecdefinition(cell#3, specifiedwindowframe(RowFrame, "
     "unboundedpreceding$(), unboundedfollowing$()))", []),
])
def test_orderby_only_detector(window, hits):
    """Named for its first form; flags every window with no PARTITION BY."""
    assert plan_scan.global_windows(f"Window [rank() {window} AS r#9]") == hits


def test_single_partition_exchange_not_under_aggregate():
    plan = "\n".join([
        "AdaptiveSparkPlan isFinalPlan=false",
        "+- Window [row_number() windowspecdefinition(d#1 ASC NULLS FIRST) AS r#2]",
        "   +- Sort [d#1 ASC NULLS FIRST], false, 0",
        "      +- Exchange SinglePartition, ENSURE_REQUIREMENTS, [plan_id=9]",
        "         +- HashAggregate(keys=[], functions=[sum(x#3)])",
        "            +- Exchange SinglePartition, ENSURE_REQUIREMENTS, [plan_id=8]",
        "               +- HashAggregate(keys=[], functions=[partial_sum(x#3)])",
        "                  +- LocalTableScan [x#3]",
    ])
    assert plan_scan.single_partition_exchanges(plan) == 1


def _write_scan(path, records):
    path.write_text(json.dumps({"sf_dir": "sf", "queries": records}))
    return str(path)


def test_diff_lists_changed_queries(tmp_path, capsys):
    rec = dict.fromkeys(plan_scan.FIELDS, 0) | {"plan": "Scan [a#N]", "error": None}
    a = {"q_same": rec, "q_plan": rec, "q_jobs": rec}
    b = {"q_same": rec, "q_plan": rec | {"plan": "Scan [b#N]"},
         "q_jobs": rec | {"eager_jobs": 2}}
    same = _write_scan(tmp_path / "a.json", a)
    changed = _write_scan(tmp_path / "b.json", b)

    assert plan_scan.main(["--diff", same, same]) == 0
    assert capsys.readouterr().out.splitlines() == ["0 changed plans"]

    assert plan_scan.main(["--diff", same, changed]) == 1
    assert capsys.readouterr().out.splitlines() == [
        "q_plan: plan", "q_jobs: eager_jobs", "2 changed plans"]


def test_scan_counts_eager_jobs_and_existing_rdd(spark, sf_dir):
    from simple_vector_spark.registry import _QUERIES

    names = ("knn_exact_topk", "nation_trade_pagerank")
    # a session's first load of a table reads its schema in a job
    _QUERIES["knn_exact_topk"](spark, sf_dir)
    recs = plan_scan.scan(spark, [(n, _QUERIES[n]) for n in names], sf_dir)
    assert list(recs) == list(names)
    lazy, eager = recs["knn_exact_topk"], recs["nation_trade_pagerank"]
    assert lazy["error"] is None and eager["error"] is None
    assert (lazy["eager_jobs"], lazy["existing_rdd"]) == (0, 0)
    # the PageRank iterations localCheckpoint during construction
    assert eager["eager_jobs"] > 0 and eager["existing_rdd"] > 0
    assert "TakeOrderedAndProject" in lazy["plan"]


def test_unknown_name_fails_before_spark(monkeypatch):
    import simple_vector_spark.session as session

    def no_spark(*args, **kwargs):
        raise AssertionError("Spark started before the names were checked")

    monkeypatch.setattr(session, "get_spark", no_spark)
    with pytest.raises(SystemExit, match="no_such_query"):
        plan_scan.main(["knn_exact_topk", "no_such_query"])


def test_recipes_name_existing_tools():
    """A deleted tools/ script must not leave a recipe behind."""
    docs = [ROOT / "README.md", ROOT / "EXPLAIN.md", ROOT / "bench.py",
            ROOT / ".claude" / "skills" / "verify" / "SKILL.md",
            *sorted((ROOT / "tests").glob("*.py")),
            *sorted((ROOT / "tools").glob("*.py"))]
    missing = {
        f"{doc.relative_to(ROOT)}: tools/{name}.py"
        for doc in docs if doc.exists()
        for name in re.findall(r"\btools/(\w+)\.py", doc.read_text())
        if not (ROOT / "tools" / f"{name}.py").exists()
    }
    assert not missing, sorted(missing)
