"""Per-layer record of traced draws, read from outside the program.

A traced draw tags its two phases with Spark job groups -- ``build``
(the query-function call, including any eager jobs it runs) and
``exec`` (planning plus the ``count()`` action) -- and times the calls
into each layer's public entry point.  After the draw, with the draw's
clock stopped, the record is read from Spark's own stores:

* jobs and stages from the application status store
  (``SparkContext.statusStore``),
* per-operator SQL metrics (scan, Python-worker, write nodes) from the
  SQL status store (``planGraph`` + ``executionMetrics``),
* streaming micro-batches from a ``StreamingQueryListener``,
* cached / checkpointed block memory from ``getRDDStorageInfo``,
* session-cache entries from the program's cache dicts.

Spans (one per draw, children ``build``/``plan``/``exec`` and one per
Spark job) are held in memory and written out when the run ends.
"""

from __future__ import annotations

import json
import statistics
import time

from pyspark.sql.streaming import StreamingQueryListener

# Per-draw layer metrics and their units, in report order.
LAYER_UNITS = {
    "registry.build_s": "s", "registry.eager_jobs": "count", "registry.py_s": "s",
    "catalyst.plan_s": "s",
    "spark.jobs": "count", "spark.stages": "count", "spark.tasks": "count",
    "spark.exec_s": "s", "exec.deser_s": "s",
    "exec.run_s": "s", "exec.cpu_s": "s", "exec.gc_s": "s", "exec.slot_util": "ratio",
    "shuffle.write_bytes": "bytes", "shuffle.read_bytes": "bytes",
    "shuffle.fetch_wait_s": "s", "spill.bytes": "bytes",
    "python.eval_s": "s", "python.rows": "count", "python.bytes_sent": "bytes",
    "scan.files": "count", "scan.bytes": "bytes", "scan.rows": "count",
    "scan.time_s": "s",
    "write.bytes": "bytes", "write.files": "count", "write.rows": "count",
    "stream.batches": "count", "stream.batch_s": "s", "stream.rows": "count",
    "cache.index_builds": "count", "cache.checkpoint_mb": "MB",
}

# SQL-metric name -> layer metric, for the scan, Python and write nodes
_NODE_METRICS = {
    "time to run Python workers": "python.eval_s",
    "data sent to Python workers": "python.bytes_sent",
    "number of files read": "scan.files",
    "scan time": "scan.time_s",
    "number of written files": "write.files",
}
_UNIT_SCALE = {
    "B": 1, "KiB": 2**10, "MiB": 2**20, "GiB": 2**30, "TiB": 2**40,
    "ns": 1e-9, "us": 1e-6, "ms": 1e-3, "s": 1.0, "m": 60.0, "h": 3600.0,
}


def metric_value(text: str) -> float:
    """Parse a SQL-metric display string (``"1,234"``, ``"238 ms"``, or
    ``"total (min, med, max ...)\\n7.8 s (1.9 s, ...)"``) to a number in
    base units (bytes, seconds, rows)."""
    head = text.strip().splitlines()[-1].split(" (")[0].replace(",", "")
    number, _, unit = head.partition(" ")
    return float(number) * _UNIT_SCALE[unit] if unit else float(number)


class _StreamProgress(StreamingQueryListener):
    def __init__(self):
        self.batches = 0
        self.batch_ms = 0
        self.rows = 0

    def onQueryStarted(self, event):
        pass

    def onQueryProgress(self, event):
        self.batches += 1
        self.batch_ms += event.progress.batchDuration
        self.rows += event.progress.numInputRows

    def onQueryIdle(self, event):
        pass

    def onQueryTerminated(self, event):
        pass

    def totals(self) -> tuple[int, int, int]:
        return self.batches, self.batch_ms, self.rows


def _cache_entries(spark) -> int:
    """Entries in the program's session caches: the dedup-index cache,
    the trained-codebook caches and the session's relation cache."""
    from simple_vector_spark.registry import core_ann, core_dedup

    dicts = (
        getattr(core_dedup, "_DEDUP_INDEX_CACHE", {}),
        getattr(core_ann, "_TRAINED_CENTS_CACHE", {}),
        getattr(core_ann, "_TRAINED_PQ_CACHE", {}),
        getattr(spark, "_sv_relation_cache", {}),
    )
    return sum(len(d) for d in dicts)


def _seq(scala_seq) -> list:
    return [scala_seq.apply(i) for i in range(scala_seq.size())]


def _ms(option_date) -> int | None:
    return option_date.get().getTime() if option_date.isDefined() else None


class Tracer:
    def __init__(self, spark):
        self.spark = spark
        self.sc = spark.sparkContext
        self._jsc = self.sc._jsc.sc()
        self._store = self._jsc.statusStore()
        self._sql = spark._jsparkSession.sharedState().statusStore()
        self._no_tasks = self.sc._jvm.java.util.ArrayList()
        self._no_quantiles = self.sc._gateway.new_array(self.sc._jvm.double, 0)
        self.cores = self.sc.defaultParallelism
        self.stream = _StreamProgress()
        spark.streams.addListener(self.stream)
        self._last_job = self._last_exec = -1
        self.records: list[dict] = []
        self.spans: list[dict] = []

    def _drain(self) -> None:
        self._jsc.listenerBus().waitUntilEmpty()

    def _sync(self) -> None:
        """Move the job and SQL-execution cursors past everything that
        ran before this draw (untraced draws included)."""
        self._drain()
        jobs = self._store.jobsList(None)
        self._last_job = jobs.apply(0).jobId() if jobs.size() else -1
        n = self._sql.executionsCount()
        self._last_exec = (
            self._sql.executionsList(n - 1, 1).apply(0).executionId() if n else -1
        )

    # -- the traced draw -------------------------------------------------
    def draw(self, draw_id: int, query: str, rnd: int, fn, fixture: str):
        """Run one traced draw; returns (wall seconds, row count)."""
        spark, sc = self.spark, self.sc
        group = f"perfbench-{draw_id}"
        self._sync()
        caches0 = _cache_entries(spark)
        stream0 = self.stream.totals()
        w0, t0 = time.time(), time.perf_counter()
        try:
            sc.setJobGroup(f"{group}-build", query)
            df = fn(spark, fixture)
            t1 = time.perf_counter()
            sc.setJobGroup(f"{group}-exec", query)
            counted = df.groupBy().count()
            counted._jdf.queryExecution().executedPlan()
            t2 = time.perf_counter()
            n = counted.collect()[0][0]
            t3 = time.perf_counter()
        finally:
            sc.setLocalProperty("spark.jobGroup.id", None)
            sc.setLocalProperty("spark.job.description", None)
        self._drain()
        phases = {"build": (t0, t1), "plan": (t1, t2), "exec": (t2, t3)}
        rec = self._harvest(group, draw_id, query, rnd, w0, t0, phases)
        rec["cache.index_builds"] = _cache_entries(spark) - caches0
        batches, batch_ms, rows = (
            now - then for now, then in zip(self.stream.totals(), stream0))
        rec.update({"stream.batches": batches, "stream.batch_s": batch_ms / 1e3,
                    "stream.rows": rows})
        self.records.append(rec)
        return t3 - t0, n

    def _harvest(self, group, draw_id, query, rnd, w0, t0, phases) -> dict:
        rec = dict.fromkeys(LAYER_UNITS, 0.0)
        build_s = phases["build"][1] - phases["build"][0]
        rec["registry.build_s"] = build_s
        rec["catalyst.plan_s"] = phases["plan"][1] - phases["plan"][0]
        # wall-clock (ms) end of the build phase: jobs of other threads
        # (streaming micro-batches) are assigned to a phase by it
        build_end_ms = (w0 + build_s) * 1e3

        def wall(t):  # perf_counter -> epoch seconds
            return w0 + (t - t0)

        span_id = len(self.spans)
        self.spans.append({"span": span_id, "parent": None, "draw": draw_id,
                           "name": "draw", "query": query, "round": rnd,
                           "start": w0, "end": wall(phases["exec"][1])})
        phase_span = {}
        for name, (a, b) in phases.items():
            phase_span[name] = len(self.spans)
            self.spans.append({"span": len(self.spans), "parent": span_id,
                               "draw": draw_id, "name": name,
                               "start": wall(a), "end": wall(b)})

        stage_ids, eager_wall = set(), 0.0
        for job in self._new_jobs():
            start, end = _ms(job.submissionTime()), _ms(job.completionTime())
            job_wall = (end - start) / 1e3 if start and end else 0.0
            gid = job.jobGroup()
            gid = gid.get() if gid.isDefined() else ""
            eager = gid == f"{group}-build" or (
                gid != f"{group}-exec" and start is not None and start < build_end_ms
            )
            rec["spark.jobs"] += 1
            rec["spark.exec_s"] += job_wall
            if eager:
                rec["registry.eager_jobs"] += 1
                eager_wall += job_wall
            stage_ids.update(_seq(job.stageIds()))
            self.spans.append({"span": len(self.spans),
                               "parent": phase_span["build" if eager else "exec"],
                               "draw": draw_id, "name": f"job {job.jobId()}",
                               "start": (start or 0) / 1e3, "end": (end or 0) / 1e3})
        rec["registry.py_s"] = max(0.0, build_s - eager_wall)
        for sid in sorted(stage_ids):
            self._add_stage(rec, sid)
        for eid in self._new_executions():
            self._add_execution(rec, eid)
        rec["exec.slot_util"] = (
            rec["exec.run_s"] / (rec["spark.exec_s"] * self.cores)
            if rec["spark.exec_s"] else 0.0
        )
        rec["cache.checkpoint_mb"] = sum(
            r.memSize() for r in self._jsc.getRDDStorageInfo()
        ) / 1e6
        return rec

    def _new_jobs(self) -> list:
        # jobsList(null) lists every retained job, newest first
        jobs, out = self._store.jobsList(None), []
        for i in range(jobs.size()):
            job = jobs.apply(i)
            if job.jobId() <= self._last_job:
                break
            out.append(job)
        if out:
            self._last_job = out[0].jobId()
        return out

    def _add_stage(self, rec: dict, sid: int) -> None:
        for st in _seq(self._store.stageData(
                sid, False, self._no_tasks, False, self._no_quantiles)):
            if st.status().toString() != "COMPLETE":
                continue  # skipped (reused shuffle) or failed attempt
            rec["spark.stages"] += 1
            rec["spark.tasks"] += st.numCompleteTasks()
            rec["exec.deser_s"] += st.executorDeserializeTime() / 1e3
            rec["exec.run_s"] += st.executorRunTime() / 1e3
            rec["exec.cpu_s"] += st.executorCpuTime() / 1e9
            rec["exec.gc_s"] += st.jvmGcTime() / 1e3
            rec["shuffle.write_bytes"] += st.shuffleWriteBytes()
            rec["shuffle.read_bytes"] += st.shuffleReadBytes()
            rec["shuffle.fetch_wait_s"] += st.shuffleFetchWaitTime() / 1e3
            rec["spill.bytes"] += st.memoryBytesSpilled() + st.diskBytesSpilled()
            rec["scan.bytes"] += st.inputBytes()
            rec["scan.rows"] += st.inputRecords()
            rec["write.bytes"] += st.outputBytes()
            rec["write.rows"] += st.outputRecords()

    def _new_executions(self) -> list[int]:
        n = self._sql.executionsCount()
        ids, offset = [], n
        while offset > 0:
            step = min(offset, 64)
            offset -= step
            page = [e.executionId() for e in _seq(self._sql.executionsList(offset, step))]
            ids = [i for i in page if i > self._last_exec] + ids
            if page and page[0] <= self._last_exec:
                break
        if ids:
            self._last_exec = ids[-1]
        return ids

    def _add_execution(self, rec: dict, eid: int) -> None:
        values = self._sql.executionMetrics(eid)
        for node in _seq(self._sql.planGraph(eid).allNodes()):
            name = node.name()
            if not (name.startswith(("Scan", "BatchScan", "Execute", "WriteFiles"))
                    or "Python" in name or "Pandas" in name or "Arrow" in name):
                continue
            for m in _seq(node.metrics()):
                mname = m.name()
                key = _NODE_METRICS.get(mname)
                if key is None and mname == "number of output rows" and (
                        "Python" in name or "Pandas" in name or "Arrow" in name):
                    key = "python.rows"
                if key is None:
                    continue
                v = values.get(m.accumulatorId())
                if v.isDefined():
                    rec[key] += metric_value(v.get())

    # -- the run's summary -------------------------------------------------
    def summary(self, draws) -> dict[str, tuple[float, str]]:
        """Mean per traced draw of every layer metric, plus the tracing
        overhead: the traced rounds' mean draw wall over the untraced
        rounds', per query, minus one."""
        out = {
            k: (statistics.fmean(r[k] for r in self.records), u)
            for k, u in LAYER_UNITS.items()
        }
        traced, plain = {}, {}
        for d in draws:
            (traced if d.traced else plain).setdefault(d.query, []).append(d.wall_s)
        common = traced.keys() & plain.keys()
        t = sum(statistics.fmean(traced[q]) for q in common)
        p = sum(statistics.fmean(plain[q]) for q in common)
        out["trace.overhead_frac"] = (t / p - 1.0, "ratio")
        return out

    def write_spans(self, path: str) -> None:
        with open(path, "w") as fh:
            json.dump({"spans": self.spans, "records": self.records}, fh)
