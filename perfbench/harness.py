"""One benchmark run: set up, check outputs against the oracle, measure.

Started by ``run.py``, which validates the arguments and the
environment.  The run is a closed loop: one client in one driver
process on ``local[SPARK_GRAFT_CPUS]`` issues a workload's declared
queries back to back.  A draw is one query-function call plus
``count()`` of the DataFrame it returns.

1. Set-up, ``SETUP_REPS`` times: start a Spark application (the first
   one also launches the JVM), copy the fixture to a fresh directory
   (so every session and fixture-keyed cache of the program misses)
   and touch the fixture tables.  ``setup_s`` is the median CPU time
   of the repetitions.
2. Warm-up, untimed: an oracle round -- collect every workload query
   once and compare it with its DuckDB oracle; session caches such as
   the IVF index are built here -- then one round of draws, whose
   ``count()`` plans differ from the collected ones.
3. Measured rounds until ``--seconds`` have passed, whole rounds only,
   each in the seed's order.  ``draw_cpu_s`` is the median round's CPU
   time per draw.  With ``--trace 1`` rounds run in
   untraced/traced/traced/untraced blocks; the per-layer record comes
   from the traced rounds and the tracing overhead from both kinds.

Times are CPU seconds of the whole process tree (this driver, its JVM
and Spark's Python workers) less the JIT compiler's: wall time on a
shared host moved up to 2x between identical runs, CPU time about 25%.

The last stdout line is the JSON result ``run.py`` documents.
"""

from __future__ import annotations

import argparse
import importlib.machinery
import importlib.util
import json
import os
import random
import re
import shutil
import statistics
import sys
import time
from concurrent.futures import ThreadPoolExecutor
from dataclasses import dataclass

BENCH_DIR = os.path.dirname(os.path.abspath(__file__))
ROOT = os.path.dirname(BENCH_DIR)
WORK = os.path.join(BENCH_DIR, "_work")
FIXTURE = os.path.join(BENCH_DIR, "fixture")
SETUP_REPS = 5
CLK_TCK = os.sysconf("SC_CLK_TCK")
# end-to-end metrics (``--trace 0``) and their units, in report order
UNITS = {"draw_cpu_s": "s", "setup_s": "s", "rss_mb": "MB"}
# figures printed beside them but not declared (see ``run``)
INFO_UNITS = {"qps": "1/s", "lat_p50_s": "s", "lat_p90_s": "s", "setup_wall_s": "s",
              "failed_frac": "ratio", "peak_rss_mb": "MB"}

sys.path.insert(1, ROOT)
from workloads import TABLES, WORKLOADS  # noqa: E402
from run import descendants, proc_table  # noqa: E402

# The write-path queries write under a hard-coded absolute directory
# named ``_scratch`` (``f"/<repo>/_scratch/wal_{tag}"``).  A run may
# write only inside its checkout, so the package is imported with that
# prefix pointed at the run's work dir.
_SCRATCH_PREFIX = re.compile(rb'(["\'])/[\w./-]*/_scratch/')


class _RelocatingLoader(importlib.machinery.SourceFileLoader):
    scratch: bytes = b""

    def get_code(self, fullname):
        source = _SCRATCH_PREFIX.sub(
            lambda m: m.group(1) + self.scratch + b"/", self.get_data(self.path)
        )
        return compile(source, self.path, "exec", dont_inherit=True)


class _RelocatingFinder:
    """Meta-path finder that loads ``simple_vector_spark`` modules
    through ``_RelocatingLoader`` (never from, or into, a bytecode
    cache, so the relocated code stays in this process)."""

    def __init__(self, scratch: str):
        if re.search(r"[\"'{}\\\s]", scratch):
            raise ValueError(f"work dir unusable as a string literal: {scratch!r}")
        self.scratch = scratch.encode()

    def find_spec(self, fullname, path, target=None):
        if fullname.split(".")[0] != "simple_vector_spark":
            return None
        spec = importlib.machinery.PathFinder.find_spec(fullname, path)
        if spec is None or type(spec.loader) is not importlib.machinery.SourceFileLoader:
            return spec
        loader = _RelocatingLoader(fullname, spec.origin)
        loader.scratch = self.scratch
        spec.loader = loader
        return spec


def relocate_package() -> None:
    """Import ``simple_vector_spark`` through ``_RelocatingFinder`` from
    now on.  Must run before the package is first imported."""
    if any(isinstance(f, _RelocatingFinder) for f in sys.meta_path):
        return
    if "simple_vector_spark" in sys.modules:
        raise RuntimeError("simple_vector_spark was imported before relocation")
    sys.meta_path.insert(0, _RelocatingFinder(os.path.join(WORK, "scratch")))


def _load_oracle_canon():
    """``df_key`` from tools/check_oracle.py: the order-insensitive,
    float-canonicalised row multiset the repo's oracle gate compares."""
    path = os.path.join(ROOT, "tools", "check_oracle.py")
    spec = importlib.util.spec_from_file_location("_perfbench_check_oracle", path)
    module = importlib.util.module_from_spec(spec)
    saved = list(sys.path)  # the module puts its own repo path first
    try:
        spec.loader.exec_module(module)
    finally:
        sys.path[:] = saved
    return module.df_key


@dataclass
class Draw:
    query: str
    round: int
    wall_s: float
    ok: bool
    traced: bool = False


def proc_status_kb(pid: int | str, field: str) -> int:
    """A ``kB`` field (``VmRSS``, ``VmHWM``) of ``/proc/<pid>/status``."""
    with open(f"/proc/{pid}/status") as fh:
        for line in fh:
            if line.startswith(f"{field}:"):
                return int(line.split()[1])
    raise RuntimeError(f"no {field} for process {pid}")


def memory_mb(spark) -> tuple[float, float]:
    """(retained, peak) resident memory of this driver plus its JVM, in
    MB.  Retained is ``VmRSS`` after a full GC in the JVM.  Peak is the
    ``VmHWM`` high-water mark, which moves with G1's lazy heap growth by
    up to 2x between identical runs."""
    jvm_pid = spark.sparkContext._gateway.proc.pid
    pids = ("self", jvm_pid)
    peak = sum(proc_status_kb(p, "VmHWM") for p in pids) / 1024
    spark.sparkContext._jvm.System.gc()
    # G1 returns the freed heap to the OS concurrently: wait until the
    # resident size stops falling
    retained, deadline = float("inf"), time.monotonic() + 3.0
    while time.monotonic() < deadline:
        now = sum(proc_status_kb(p, "VmRSS") for p in pids) / 1024
        if now > retained * 0.995:
            break
        retained = min(retained, now)
        time.sleep(0.2)
    return min(retained, now), peak


def tree_cpu_s() -> float:
    """CPU seconds used so far by this process and its descendants --
    the JVM and Spark's Python workers -- including the reaped children
    of each.  Unlike wall time it leaves out the time other guests of
    the host take from this machine's vCPUs (steal)."""
    table, me = proc_table(), os.getpid()
    return sum(table[p][2] for p in [me, *descendants(me, table)]) / CLK_TCK


def jit_cpu_s(jvm_pid: int) -> float:
    """CPU seconds used so far by the JVM's JIT compiler threads."""
    ticks = 0
    task_dir = f"/proc/{jvm_pid}/task"
    for tid in os.listdir(task_dir):
        try:
            with open(f"{task_dir}/{tid}/stat") as fh:
                stat = fh.read()
        except OSError:
            continue
        comm, rest = stat.split("(", 1)[1].rsplit(")", 1)
        if "CompilerThre" in comm:
            ticks += sum(int(x) for x in rest.split()[11:13])
    return ticks / CLK_TCK


def work_cpu_s() -> float:
    """CPU seconds used so far by this process tree, less those of the
    JVM's JIT compiler threads, whose work is warm-up that tails off
    over minutes (``run.py`` keeps every compiler thread alive, so the
    time they used stays visible)."""
    from pyspark import SparkContext

    gateway = SparkContext._gateway  # None until the first JVM launch
    return tree_cpu_s() - (0.0 if gateway is None else jit_cpu_s(gateway.proc.pid))


def fresh_fixture(rep: int) -> str:
    path = os.path.join(WORK, "fixture", f"rep{rep}")
    shutil.rmtree(path, ignore_errors=True)
    os.makedirs(path)
    for t in TABLES:
        shutil.copyfile(os.path.join(FIXTURE, f"{t}.parquet"),
                        os.path.join(path, f"{t}.parquet"))
    return path


def set_up(rep: int) -> tuple[object, str, dict]:
    """One set-up: Spark application start and fixture-table touch.
    Returns the session, its fixture dir and the timed split."""
    from simple_vector_spark.session import get_spark
    from simple_vector_spark.sources.loaders import load_table

    fixture = fresh_fixture(rep)
    c0, t0 = work_cpu_s(), time.perf_counter()
    spark = get_spark("perfbench")
    t1 = time.perf_counter()
    for t in TABLES:
        load_table(spark, fixture, t).count()
    t2, c2 = time.perf_counter(), work_cpu_s()
    split = {"session_s": t1 - t0, "tables_s": t2 - t1, "total_s": t2 - t0,
             "cpu_s": c2 - c0}
    return spark, fixture, split


def duckdb_answers(fixture: str, sqls: dict[str, str]) -> dict:
    """Run each oracle SQL on DuckDB over the fixture; returns
    {query: (columns, rows) or the exception raised}."""
    import duckdb

    out = {}
    with duckdb.connect() as con:
        for t in TABLES:
            con.sql(f"CREATE VIEW {t} AS SELECT * FROM '{fixture}/{t}.parquet'")
        for q, sql in sqls.items():
            try:
                res = con.sql(sql)
                out[q] = (list(res.columns), res.fetchall())
            except Exception as e:  # noqa: BLE001 -- reported by name
                out[q] = e
    return out


def oracle_round(spark, fixture, order, queries, oracles, df_key) -> tuple[dict, dict]:
    """Collect each query once and compare it with its DuckDB oracle
    (evaluated in a thread meanwhile).  Returns ({query: verified row
    count}, {query: error})."""
    verified, errors = {}, {}
    with ThreadPoolExecutor(max_workers=1) as pool:
        oracle_future = pool.submit(
            duckdb_answers, fixture, {q: oracles[q] for q in order})
        got = {}
        for q in order:
            try:
                sdf = queries[q](spark, fixture)
                got[q] = (sdf.columns, [tuple(r) for r in sdf.collect()])
            except Exception as e:  # noqa: BLE001 -- reported by name
                errors[q] = f"spark: {type(e).__name__}: {e}"[:300]
        expected = oracle_future.result()
    for q, (scols, srows) in got.items():
        if isinstance(expected[q], Exception):
            errors[q] = f"duckdb: {type(expected[q]).__name__}: {expected[q]}"[:300]
            continue
        dcols, drows = expected[q]
        if sorted(scols) != sorted(dcols):
            errors[q] = f"columns {sorted(scols)} != oracle {sorted(dcols)}"
        elif len(srows) != len(drows):
            errors[q] = f"{len(srows)} rows != oracle {len(drows)}"
        elif df_key(srows, scols) != df_key(drows, dcols):
            errors[q] = "values differ from the oracle"
        else:
            verified[q] = len(srows)
    return verified, errors


def untraced_draw(spark, fn, fixture) -> tuple[float, int]:
    t0 = time.perf_counter()
    n = fn(spark, fixture).count()
    return time.perf_counter() - t0, n


def measure(spark, fixture, w, rng, seconds, queries, verified, tracer=None):
    """Whole rounds in seeded order until ``seconds`` have passed.  With
    a tracer, rounds run in untraced/traced/traced/untraced blocks of
    four, so warm-up drift cancels out of the overhead estimate.  A
    draw fails if it raises, if its count differs from the verified row
    count, or if its query failed the oracle check."""
    draws: list[Draw] = []
    round_cpu: list[float] = []
    t_start = time.perf_counter()
    rnd, block = 0, 4 if tracer else 1
    while rnd == 0 or rnd % block or time.perf_counter() - t_start < seconds:
        order = list(w)
        rng.shuffle(order)
        traced = tracer is not None and rnd % 4 in (1, 2)
        c0 = work_cpu_s()
        for q in order:
            t0 = time.perf_counter()
            try:
                if traced:
                    wall, n = tracer.draw(len(draws), q, rnd, queries[q], fixture)
                else:
                    wall, n = untraced_draw(spark, queries[q], fixture)
                ok = n == verified.get(q)
                if not ok and q in verified:
                    print(f"perfbench: FAIL {q} round {rnd}: count {n} != "
                          f"verified {verified[q]}", file=sys.stderr)
            except Exception as e:  # noqa: BLE001 -- a failed draw
                wall, ok = time.perf_counter() - t0, False
                print(f"perfbench: FAIL {q} round {rnd}: {type(e).__name__}: {e}",
                      file=sys.stderr)
            draws.append(Draw(q, rnd, wall, ok, traced))
        if not traced:
            round_cpu.append(work_cpu_s() - c0)
        rnd += 1
    return draws, round_cpu


def stop_spark(spark) -> None:
    """Stop the application and the JVM, and wait for the JVM to exit."""
    from pyspark import SparkContext

    gateway = SparkContext._gateway
    spark.stop()
    if gateway is None:
        return
    gateway.shutdown()
    proc = getattr(gateway, "proc", None)
    if proc is not None:
        proc.stdin.close()  # the JVM exits when its stdin closes
        proc.wait(timeout=30)


def latency_metrics(walls: list[float]) -> dict[str, float]:
    return {
        "qps": len(walls) / sum(walls),
        "lat_p50_s": statistics.median(walls),
        "lat_p90_s": statistics.quantiles(walls, n=10)[-1],
    }


def run(workload: str, seed: int, seconds: int, trace: bool, oracles=None) -> dict:
    """Run one workload; returns the result object (``oracles`` replaces
    the registry's oracle SQL, for tests)."""
    os.makedirs(WORK, exist_ok=True)
    relocate_package()
    from simple_vector_spark import registry

    w = WORKLOADS[workload]
    queries = registry._QUERIES
    oracles = registry._ORACLES if oracles is None else oracles
    df_key = _load_oracle_canon()
    rng = random.Random(seed)

    splits, spark = [], None
    try:
        for rep in range(SETUP_REPS):
            if spark is not None:
                spark.stop()
            spark, fixture, split = set_up(rep)
            splits.append(split)
        order = list(w)
        rng.shuffle(order)
        t0 = time.perf_counter()
        verified, errors = oracle_round(spark, fixture, order, queries, oracles, df_key)
        for q, err in errors.items():
            print(f"perfbench: FAIL {q} round oracle: {err}", file=sys.stderr)
        # one untimed round of draws: the first count() of each query
        # compiles plans the collect() above did not
        warm_draws, _ = measure(spark, fixture, w, rng, 0, queries, verified)
        warm_s = time.perf_counter() - t0
        tracer = None
        if trace:
            from tracing import Tracer

            tracer = Tracer(spark)
        t0 = time.perf_counter()
        draws, round_cpu = measure(spark, fixture, w, rng, seconds, queries, verified,
                                   tracer)
        rounds = draws[-1].round + 1
        measure_s = time.perf_counter() - t0
        rss_mb, peak_rss_mb = memory_mb(spark)
    finally:
        if spark is not None:
            stop_spark(spark)

    with open(os.path.join(WORK, f"draws_{workload}_seed{seed}.json"), "w") as fh:
        json.dump([vars(d) for d in draws], fh)
    failed = sum(not d.ok for d in draws)
    plain = [d.wall_s for d in draws if not d.traced]
    e2e = {"draw_cpu_s": statistics.median(round_cpu) / len(w),
           "setup_s": statistics.median(s["cpu_s"] for s in splits),
           "rss_mb": rss_mb}
    # printed, not declared: wall-clock figures move with the load other
    # guests put on the host, failed_frac is 0 on a green run, and the
    # peak moves with G1's heap growth (see README.md)
    info = dict(latency_metrics(plain),
                setup_wall_s=statistics.median(s["total_s"] for s in splits),
                failed_frac=failed / len(draws), peak_rss_mb=peak_rss_mb)
    summary = {
        "workload": workload, "seed": seed, "rounds": rounds, "draws": len(draws),
        "draws_above_p90": sum(x > info["lat_p90_s"] for x in plain),
        "oracle": f"{len(verified)}/{len(w)} green",
        "setup_reps_s": [round(s["total_s"], 3) for s in splits],
        "setup_cpu_s": [round(s["cpu_s"], 2) for s in splits],
        "warm_s": round(warm_s, 3), "measure_s": round(measure_s, 3),
        "round_cpu_s": [round(c, 2) for c in round_cpu],
    }
    if tracer is None:
        metrics = {k: (e2e[k], u) for k, u in UNITS.items()}
    else:
        mid = sorted(splits, key=lambda s: s["total_s"])[len(splits) // 2]
        setup = {"setup.session_s": mid["session_s"], "setup.tables_s": mid["tables_s"],
                 "setup.warm_s": warm_s}
        layer = tracer.summary(draws)
        tracer.write_spans(os.path.join(WORK, f"spans_{workload}_seed{seed}.json"))
        metrics = dict(layer, **{k: (v, "s") for k, v in setup.items()})
        summary["traced_draws"] = sum(d.traced for d in draws)
    return {
        "summary": summary,
        "info": {k: (v, INFO_UNITS[k]) for k, v in info.items()},
        "correct": not errors and failed == 0 and all(d.ok for d in warm_draws),
        "attempted": len(draws),
        "failed": failed,
        "metrics": {k: {"value": v, "unit": u} for k, (v, u) in metrics.items()},
    }



def main(argv: list[str]) -> int:
    p = argparse.ArgumentParser()
    p.add_argument("--workload", required=True, choices=sorted(WORKLOADS))
    p.add_argument("--seed", required=True, type=int)
    p.add_argument("--seconds", required=True, type=int)
    p.add_argument("--trace", required=True, type=int, choices=(0, 1))
    args = p.parse_args(argv)
    result = run(args.workload, args.seed, args.seconds, bool(args.trace))
    summary, info = result.pop("summary"), result.pop("info")
    print(" ".join(f"{k}={v}" for k, v in summary.items()))
    for name, m in result["metrics"].items():
        print(f"{name:<22} {m['value']:>14.6g} {m['unit']}")
    for name, (value, unit) in info.items():
        print(f"{name:<22} {value:>14.6g} {unit}")
    print(json.dumps(result))
    return 0


if __name__ == "__main__":
    raise SystemExit(main(sys.argv[1:]))
