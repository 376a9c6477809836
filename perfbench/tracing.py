"""Spans and Spark-side counters for the traced run.

``Tracer`` records a span around each call the benchmark makes into the
engine: name, start, end, parent span and run id.  Spans stay in memory
and are written out once, when the run ends.  With tracing off every
``span()`` is a no-op, so untraced runs pay nothing but a function call.

``SparkProfiler`` reads what an operation did from Spark's status
stores: jobs, stages and task metrics per job group (one group per phase
of an operation), and the SQL metrics of every SQL execution the
operation started.  The time spent reading them is counted as tracing
overhead.
"""

from __future__ import annotations

import json
import re
import time
from collections import defaultdict
from contextlib import contextmanager


class Tracer:
    def __init__(self, run_id: str, enabled: bool):
        self.run_id = run_id
        self.enabled = enabled
        self.spans: list[dict] = []
        self._stack: list[int] = []

    @contextmanager
    def span(self, name: str, **attrs):
        if not self.enabled:
            yield None
            return
        rec = {
            "id": len(self.spans),
            "name": name,
            "parent": self._stack[-1] if self._stack else None,
            "run_id": self.run_id,
            "start": time.perf_counter(),
            "end": None,
            "attrs": attrs,
        }
        self.spans.append(rec)
        self._stack.append(rec["id"])
        try:
            yield rec
        finally:
            rec["end"] = time.perf_counter()
            self._stack.pop()

    def total(self, name: str, under: int | None = None) -> float:
        """Summed duration of spans called ``name`` (below span ``under``)."""
        return sum(
            s["end"] - s["start"]
            for s in self.spans
            if s["name"] == name and (under is None or self._below(s, under))
        )

    def self_times(self, under: int | None = None) -> dict[str, float]:
        """Per span name: duration minus the part covered by child spans."""
        child = defaultdict(float)
        for s in self.spans:
            if s["parent"] is not None:
                child[s["parent"]] += s["end"] - s["start"]
        out: dict[str, float] = defaultdict(float)
        for s in self.spans:
            if under is None or self._below(s, under):
                out[s["name"]] += (s["end"] - s["start"]) - child[s["id"]]
        return dict(out)

    def _below(self, span: dict, ancestor: int) -> bool:
        p = span["parent"]
        while p is not None:
            if p == ancestor:
                return True
            p = self.spans[p]["parent"]
        return False

    def dump(self, path: str) -> None:
        with open(path, "w") as f:
            json.dump({"run_id": self.run_id, "spans": self.spans}, f)


# Stage-level task metrics summed per operation: name -> (field of the
# status store's StageData, scale to the reported unit).
_STAGE_METRICS = {
    "tasks": ("numTasks", 1),
    "executor_run_s": ("executorRunTime", 1e-3),
    "executor_cpu_s": ("executorCpuTime", 1e-9),
    "gc_s": ("jvmGcTime", 1e-3),
    "scan_bytes": ("inputBytes", 1),
    "scan_rows": ("inputRecords", 1),
    "shuffle_read_bytes": ("shuffleReadBytes", 1),
    "shuffle_write_bytes": ("shuffleWriteBytes", 1),
    "spill_bytes": ("memoryBytesSpilled", 1),
    "disk_spill_bytes": ("diskBytesSpilled", 1),
}

# SQL metrics of Python-worker nodes (Spark 4.1 PythonSQLMetrics), by
# display name.  "number of output rows" on such a node is
# pythonNumRowsReceived.
_PYTHON_METRICS = {
    "time to run Python workers": "python_total",
    "time to start Python workers": "python_boot",
    "data sent to Python workers": "python_bytes_sent",
    "number of output rows": "python_rows_received",
}
_SCAN_METRICS = {"number of files read": "scan_files"}
_PYTHON_NODE = re.compile(r"Python|Pandas|Arrow")
# units of the status store's metric strings, scaled to bytes and seconds
_UNIT_SCALE = {"B": 1, "KiB": 1 << 10, "MiB": 1 << 20, "GiB": 1 << 30, "TiB": 1 << 40,
               "ms": 1e-3, "s": 1.0, "m": 60.0, "h": 3600.0}


class SparkProfiler:
    """Per-operation counters from Spark's status stores.

    Status-store records are fetched as JSON, with the Jackson mapper
    Spark's REST API uses, so that one record costs one call into the JVM.
    The status stores are filled from Spark's listener bus, so every read
    first waits until the bus has delivered all events.  Operations run
    one at a time, so stages and SQL executions that appear between two
    ``collect`` calls belong to the operation in between.
    """

    def __init__(self, spark):
        self._sc = spark.sparkContext
        jvm = spark._jvm
        self._store = self._sc._jsc.sc().statusStore()
        self._sql = spark._jsparkSession.sharedState().statusStore()
        self._bus = self._sc._jsc.sc().listenerBus()
        self._conv = jvm.scala.jdk.javaapi.CollectionConverters
        self._tracker = self._sc.statusTracker()
        scala_module = getattr(getattr(jvm.com.fasterxml.jackson.module.scala, "DefaultScalaModule$"), "MODULE$")
        self._json = jvm.com.fasterxml.jackson.databind.ObjectMapper().registerModule(scala_module)
        self._max_stage = -1
        self._n_exec = self._sql.executionsCount()
        self.overhead_s = 0.0

    def _get(self, record) -> dict | list:
        return json.loads(self._json.writeValueAsString(record))

    def set_group(self, group: str) -> None:
        t0 = time.perf_counter()
        self._sc.setJobGroup(group, group)
        self.overhead_s += time.perf_counter() - t0

    def persisted(self) -> tuple[int, int]:
        """Persisted RDDs, and the bytes their cached blocks hold."""
        t0 = time.perf_counter()
        n = self._sc._jsc.getPersistentRDDs().size()
        cached = sum(info.memSize() + info.diskSize() for info in self._sc._jsc.sc().getRDDStorageInfo())
        self.overhead_s += time.perf_counter() - t0
        return n, cached

    def collect(self, groups: dict[str, str], detail: bool = True) -> dict[str, float]:
        """Counters of the operation that ran since the previous call.

        ``groups`` maps a phase name (``build``, ``action``) to the job
        group it ran under; ``<phase>_jobs`` counts the jobs per phase.
        Without ``detail`` the call only moves past the operation.
        """
        t0 = time.perf_counter()
        self._bus.waitUntilEmpty()
        out: dict[str, float] = defaultdict(float)
        stage_ids: set[int] = set()
        for phase, group in groups.items():
            job_ids = self._tracker.getJobIdsForGroup(group)
            out[f"{phase}_jobs"] += len(job_ids)
            out["jobs"] += len(job_ids)
            for jid in job_ids:
                job = self._get(self._store.job(jid))
                out["stages_skipped"] += job["numSkippedStages"]
                stage_ids.update(job["stageIds"])
        # stages created before this operation were run by an earlier one
        new_stages = sorted(s for s in stage_ids if s > self._max_stage)
        self._max_stage = max([self._max_stage, *stage_ids])
        n_exec = self._sql.executionsCount()
        first_exec, self._n_exec = self._n_exec, n_exec
        if detail:
            for sid in new_stages:
                stage = self._get(self._store.lastStageAttempt(sid))
                if stage["status"] == "SKIPPED":
                    continue
                out["stages"] += 1
                for name, (field, scale) in _STAGE_METRICS.items():
                    out[name] += stage[field] * scale
            out["spill_bytes"] += out.pop("disk_spill_bytes", 0.0)
            if n_exec > first_exec:
                # executionsList takes positions in the store, not execution ids
                for execution in self._conv.asJava(self._sql.executionsList(first_exec, n_exec - first_exec)):
                    self._sql_metrics(execution.executionId(), out)
        self.overhead_s += time.perf_counter() - t0
        return dict(out)

    def _sql_metrics(self, eid: int, out: dict[str, float]) -> None:
        values = None
        seen: set[int] = set()
        for node in self._get(self._sql.planGraph(eid).allNodes()):
            if node["id"] in seen:
                continue
            seen.add(node["id"])
            if node["name"].startswith("Scan "):
                wanted = _SCAN_METRICS
            elif _PYTHON_NODE.search(node["name"]):
                wanted = _PYTHON_METRICS
            else:
                continue
            for metric in node["metrics"]:
                key = wanted.get(metric["name"])
                if key is None:
                    continue
                if values is None:
                    values = self._get(self._sql.executionMetrics(eid))
                out[key] += parse_metric(values.get(str(metric["accumulatorId"])))


def parse_metric(text: str | None) -> float:
    """The total of a status-store metric string, in bytes, seconds or
    units: ``"1,204"``, ``"350 ms"``, or a per-task summary such as
    ``"total (min, med, max (stageId: taskId))\n12.3 MiB (…)"``."""
    if text is None:
        return 0.0
    line = text.split("\n", 1)[1] if "\n" in text else text
    m = re.match(r"\s*([\d.,]+)\s*([A-Za-z]*)", line)
    if not m:
        return 0.0
    return float(m.group(1).replace(",", "")) * _UNIT_SCALE.get(m.group(2), 1.0)
