"""Spans around the benchmark's calls into the engine's layers.

An untraced run uses :class:`NullTracer`, which calls straight through.
A traced run uses :class:`SparkTracer`:

* every call into a layer's public function runs inside a span (name,
  layer, start, end, parent, op id), kept in memory and written out when
  the run ends;
* the span's id is the Spark job group while it is open, so the jobs it
  starts — and their stages' executor, shuffle, spill and task counts —
  are read back from the SparkContext status store and attributed to the
  innermost open span;
* a DataFrame returned across a layer boundary is forced there with a
  ``noop`` write, so lazy work is charged to the layer that defined it;
* SQL executions finished inside a span give the executed plan's
  exchange / join counts, and the forced DataFrame's own
  ``QueryPlanningTracker`` gives optimization and physical-planning time.
"""

from __future__ import annotations

import contextlib
import itertools
import os
import re
import time

STAGE_FIELDS = {
    "executor.run_ms": "executorRunTime",
    "executor.cpu_ns": "executorCpuTime",
    "executor.gc_ms": "jvmGcTime",
    "shuffle.read_bytes": "shuffleReadBytes",
    "shuffle.write_bytes": "shuffleWriteBytes",
    "spill.disk_bytes": "diskBytesSpilled",
    "tasks.count": "numTasks",
    "tasks.failed": "numFailedTasks",
    "input.records": "inputRecords",
    "output.records": "outputRecords",
    "output.bytes": "outputBytes",
}


def _drop_cached_subtrees(tree: str) -> str:
    """Remove the lines under each InMemoryRelation (the cached frame's
    own source plan, which the cached scan does not execute)."""
    keep, cut = [], None
    for line in tree.split("\n"):
        indent = len(line) - len(line.lstrip(" :+-"))
        if cut is not None and indent > cut:
            continue
        cut = indent if "InMemoryRelation" in line else None
        keep.append(line)
    return "\n".join(keep)


# span ids are job-group ids, so they must be unique across every tracer
# of a run: a group id used twice would claim the other span's jobs
_SPAN_IDS = itertools.count(1)


class NullTracer:
    """Untraced runs: no spans, no forcing, no job groups."""

    enabled = False

    def call(self, layer, fn, *args, **kwargs):
        return fn(*args, **kwargs)

    @contextlib.contextmanager
    def span(self, name, layer, op=None):
        yield None


class SparkTracer:
    enabled = True

    def __init__(self, spark):
        self.spark = spark
        self.sc = spark.sparkContext
        self.spans: list[dict] = []
        self._stack: list[dict] = []
        self.counters: dict[str, float] = {}
        jvm_sc = self.sc._jsc.sc()
        self._store = jvm_sc.statusStore()
        self._sql_store = spark._jsparkSession.sharedState().statusStore()
        self._sql_seen = int(self._sql_store.executionsCount())
        self._empty_tasks = getattr(self._store, "stageData$default$3")()
        self._empty_q = getattr(self._store, "stageData$default$5")()

    # -- counters recorded by the workloads at the same boundaries -------
    def add(self, key, value):
        self.counters[key] = self.counters.get(key, 0) + value

    # -- spans ------------------------------------------------------------
    @contextlib.contextmanager
    def span(self, name, layer, op=None):
        parent = self._stack[-1] if self._stack else None
        sp = {
            "id": f"span-{next(_SPAN_IDS)}",
            "name": name,
            "layer": layer,
            "parent": parent["id"] if parent else None,
            "op": op if op is not None else (parent["op"] if parent else None),
            "start": time.perf_counter(),
        }
        self._stack.append(sp)
        self.sc.setJobGroup(sp["id"], name)
        try:
            yield sp
        finally:
            sp["end"] = time.perf_counter()
            self._stack.pop()
            if parent is not None:
                self.sc.setJobGroup(parent["id"], parent["name"])
            else:
                self.sc.setLocalProperty("spark.jobGroup.id", None)
            sp.update(self._job_metrics(sp["id"]))
            sp.update(self._sql_metrics())
            self.spans.append(sp)

    def call(self, layer, fn, *args, **kwargs):
        from pyspark.sql import DataFrame

        with self.span(fn.__name__, layer) as sp:
            out = fn(*args, **kwargs)
            if isinstance(out, DataFrame):
                self.force(out, sp)
            elif layer == "sinks" and isinstance(out, str) and os.path.isdir(out):
                sp["files"] = sum(f.endswith(".parquet") for f in os.listdir(out))
        return out

    def force(self, df, sp):
        """Run ``df`` to completion inside the open span (noop sink) and
        record its planning phases."""
        df.write.format("noop").mode("overwrite").save()
        qe = df._jdf.queryExecution()
        qe.executedPlan()  # plan the frame itself so its tracker has phases
        phases = qe.tracker().phases()
        for phase, key in (("optimization", "plan.optimize_ms"),
                           ("planning", "plan.physical_ms")):
            opt = phases.get(phase)
            if opt.isDefined():
                sp[key] = sp.get(key, 0) + int(opt.get().durationMs())

    # -- status-store readers --------------------------------------------
    def _job_metrics(self, group: str) -> dict:
        tracker = self.sc.statusTracker()
        out = {k: 0 for k in STAGE_FIELDS}
        job_ids = tracker.getJobIdsForGroup(group)
        out["jobs.count"] = len(job_ids)
        stage_ids = set()
        for jid in job_ids:
            info = tracker.getJobInfo(jid)
            if info is not None:
                stage_ids.update(info.stageIds)
        out["stages.count"] = len(stage_ids)
        for sid in stage_ids:
            try:
                attempts = self._store.stageData(
                    sid, False, self._empty_tasks, False, self._empty_q
                )
            except Exception:  # noqa: BLE001 — evicted or never submitted
                continue
            for i in range(attempts.size()):
                st = attempts.apply(i)
                for key, getter in STAGE_FIELDS.items():
                    out[key] += int(getattr(st, getter)())
        return out

    def _sql_metrics(self) -> dict:
        """Executed-plan counts of SQL executions finished since the last
        span closed (children close first, so they claim theirs)."""
        total = int(self._sql_store.executionsCount())
        out = {"plan.exchanges": 0, "plan.bhj": 0, "plan.smj": 0,
               "plan.cached_scans": 0, "plan.file_scans": 0}
        if total > self._sql_seen:
            execs = self._sql_store.executionsList(self._sql_seen, total - self._sql_seen)
            for i in range(execs.size()):
                plan = execs.apply(i).physicalPlanDescription() or ""
                tree = plan.split("\n\n", 1)[0]
                if "== Final Plan ==" in tree:  # AQE: count the executed plan only
                    tree = tree.split("== Final Plan ==", 1)[1].split("== Initial Plan ==", 1)[0]
                out["plan.exchanges"] += len(re.findall(r"\bExchange\b", tree))
                out["plan.bhj"] += tree.count("BroadcastHashJoin")
                out["plan.smj"] += tree.count("SortMergeJoin")
                tree = _drop_cached_subtrees(tree)
                out["plan.cached_scans"] += tree.count("InMemoryTableScan")
                out["plan.file_scans"] += len(re.findall(r"Scan (parquet|csv|json|text)", tree))
            self._sql_seen = total
        return out

    # -- summaries --------------------------------------------------------
    def self_times(self) -> dict[str, float]:
        """Per-span self time: duration minus the part children cover."""
        kids: dict[str, float] = {}
        for sp in self.spans:
            if sp["parent"]:
                kids[sp["parent"]] = kids.get(sp["parent"], 0.0) + sp["end"] - sp["start"]
        return {sp["id"]: sp["end"] - sp["start"] - kids.get(sp["id"], 0.0)
                for sp in self.spans}
