"""Benchmark launcher.

Usage (from the root of a checkout):

    python3 perfbench/run.py --workload vector_search --seed 1 --seconds 12 --trace 0

Validates the command line and the environment, then runs one workload
in a child process (see ``harness.py``) and prints its report.
The last line of stdout is one JSON object with the keys ``correct``,
``attempted``, ``failed`` and ``metrics``.  Every process the run starts
-- the harness, its JVM and the JVM's Python workers -- is stopped and
waited for before this launcher exits.
"""

from __future__ import annotations

import argparse
import ctypes
import os
import shutil
import signal
import subprocess
import sys
import time

BENCH_DIR = os.path.dirname(os.path.abspath(__file__))
ROOT = os.path.dirname(BENCH_DIR)
WORK = os.path.join(BENCH_DIR, "_work")
HARNESS = os.path.join(BENCH_DIR, "harness.py")
# one run must end within 180 s; leave room to reap its processes
RUN_TIMEOUT_S = 165
REAP_TIMEOUT_S = 10
PR_SET_CHILD_SUBREAPER = 36

sys.path.insert(0, BENCH_DIR)
from workloads import WORKLOADS  # noqa: E402


class UsageError(Exception):
    pass


def _bounded_int(name: str, text: str, lo: int, hi: int) -> int:
    try:
        value = int(text)
    except ValueError:
        raise UsageError(f"{name} must be an integer, got {text!r}") from None
    if not lo <= value <= hi:
        raise UsageError(f"{name} must be in [{lo}, {hi}], got {value}")
    return value


def parse_args(argv: list[str]) -> argparse.Namespace:
    p = argparse.ArgumentParser(description=__doc__.split("\n\n")[0])
    p.add_argument("--workload", required=True)
    p.add_argument("--seed", required=True)
    p.add_argument("--seconds", required=True)
    p.add_argument("--trace", required=True)
    args = p.parse_args(argv)
    if args.workload not in WORKLOADS:
        raise UsageError(
            f"--workload must be one of {sorted(WORKLOADS)}, got {args.workload!r}"
        )
    args.seed = _bounded_int("--seed", args.seed, 0, 2**63 - 1)
    args.seconds = _bounded_int("--seconds", args.seconds, 1, 60)
    args.trace = _bounded_int("--trace", args.trace, 0, 1)
    return args


def spark_cpus() -> int:
    """Core count for ``local[N]``: ``SPARK_GRAFT_CPUS`` when set, else
    the cores this process may run on."""
    text = os.environ.get("SPARK_GRAFT_CPUS")
    if text is None:
        return len(os.sched_getaffinity(0))
    return _bounded_int("SPARK_GRAFT_CPUS", text, 1, 4096)


def child_env(cpus: int) -> dict[str, str]:
    """The harness environment.  The program ships nothing to Spark's
    Python workers, so the checkout root goes on their ``PYTHONPATH``;
    Spark's local dirs and every temp dir are kept inside the work dir."""
    tmp = os.path.join(WORK, "tmp")
    local = os.path.join(WORK, "spark-local")
    # streaming queries leave checkpoint/snapshot dirs in the temp dir
    shutil.rmtree(tmp, ignore_errors=True)
    for d in (tmp, local):
        os.makedirs(d, exist_ok=True)
    py_path = os.environ.get("PYTHONPATH")
    return dict(
        os.environ,
        SPARK_GRAFT_CPUS=str(cpus),
        PYTHONPATH=ROOT if not py_path else f"{ROOT}{os.pathsep}{py_path}",
        SPARK_LOCAL_DIRS=local,
        TMPDIR=tmp,
        JAVA_TOOL_OPTIONS=f"-Djava.io.tmpdir={tmp} -XX:-UseDynamicNumberOfCompilerThreads",
    )


def become_subreaper() -> None:
    """Adopt orphaned descendants.  Spark's Python worker daemon moves
    itself into its own process group, and the JVM and daemon outlive
    the harness if it dies, so reaping goes by ancestry, not by group."""
    libc = ctypes.CDLL(None, use_errno=True)
    if libc.prctl(PR_SET_CHILD_SUBREAPER, 1, 0, 0, 0) != 0:
        raise OSError(ctypes.get_errno(), "prctl(PR_SET_CHILD_SUBREAPER)")


def proc_table() -> dict[int, tuple[int, str, int]]:
    """{pid: (parent pid, state, CPU ticks)} of every process.  The
    ticks are utime + stime + cutime + cstime: the process's own CPU
    time plus that of its reaped children."""
    table = {}
    for entry in os.listdir("/proc"):
        if not entry.isdigit():
            continue
        try:
            with open(f"/proc/{entry}/stat") as fh:
                stat = fh.read()
        except OSError:
            continue
        # fields after the parenthesised command, from field 3 (state):
        # ppid is field 4; utime, stime, cutime, cstime are fields 14-17
        f = stat.rsplit(")", 1)[1].split()
        table[int(entry)] = (int(f[1]), f[0], sum(int(x) for x in f[11:15]))
    return table


def descendants(root: int, table: dict[int, tuple[int, str, int]]) -> list[int]:
    """The processes in ``table`` descended from ``root``."""
    found = []
    for pid in table:
        p = pid
        while p in table and p != root:
            p = table[p][0]
        if p == root and pid != root:
            found.append(pid)
    return found


def _descendants() -> list[int]:
    """Live (non-zombie) processes descended from this one."""
    table = proc_table()
    return [p for p in descendants(os.getpid(), table) if table[p][1] != "Z"]


def _collect_zombies() -> None:
    while True:
        try:
            pid, _ = os.waitpid(-1, os.WNOHANG)
        except ChildProcessError:
            return
        if pid == 0:
            return


def reap_descendants() -> None:
    """Stop every process this launcher started, directly or not, and
    wait until each has ended."""
    for sig in (signal.SIGTERM, signal.SIGKILL):
        pids = _descendants()
        if not pids:
            return
        for pid in pids:
            try:
                os.kill(pid, sig)
            except ProcessLookupError:
                pass
        deadline = time.monotonic() + REAP_TIMEOUT_S
        while _descendants() and time.monotonic() < deadline:
            _collect_zombies()
            time.sleep(0.1)
        _collect_zombies()
    if _descendants():
        raise RuntimeError(f"processes survived SIGKILL: {_descendants()}")


def main(argv: list[str]) -> int:
    try:
        args = parse_args(argv)
        cpus = spark_cpus()
    except UsageError as e:
        print(f"perfbench: {e}", file=sys.stderr)
        return 2
    if not os.path.isfile(os.path.join(ROOT, "simple_vector_spark", "__init__.py")):
        print(
            f"perfbench: program sources not found: no simple_vector_spark "
            f"package under {ROOT}",
            file=sys.stderr,
        )
        return 2
    cmd = [
        sys.executable, HARNESS,
        "--workload", args.workload, "--seed", str(args.seed),
        "--seconds", str(args.seconds), "--trace", str(args.trace),
    ]
    become_subreaper()
    proc = subprocess.Popen(cmd, env=child_env(cpus), cwd=WORK)
    try:
        rc = proc.wait(timeout=RUN_TIMEOUT_S)
    except subprocess.TimeoutExpired:
        print(
            f"perfbench: {args.workload} did not finish within {RUN_TIMEOUT_S} s",
            file=sys.stderr,
        )
        rc = 1
    finally:
        if proc.poll() is None:
            proc.kill()
            proc.wait()
        reap_descendants()
    return rc


if __name__ == "__main__":
    raise SystemExit(main(sys.argv[1:]))
