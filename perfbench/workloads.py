"""The benchmark's workloads, driven through the engine's public calls.

Every workload runs in one process with one client on
``local[<cores>]``, closed loop: the next operation starts when the
previous one has returned.  A run is

1. set-up: session start (``session.get_spark``, which launches the
   JVM), catalog registration (``catalog.load_tables``) and a warm-up
   pass of every operation, untimed, on the measured tables.
   ``setup_s`` is the sum of the three.
2. timed passes, until ``seconds`` have gone by and at least
   ``MIN_PASSES`` have run.  The seed sets the order of the operations
   in every pass.

A query's first result is compared with its DuckDB oracle result; every
later result with that first one.

Workloads:

* ``tpch-sf0.1``: five ``tpch_*`` registry entries (``tpch_names``).
* ``pipeline-htap``: two pipeline operators (``multimodal_wav_decode``:
  a ``mapInPandas`` codec round trip in Python workers;
  ``graph_pagerank``: an iterative multi-job loop with checkpoints) and
  an ingest loop on a copy of ``orders``: CSV batches loaded with
  ``read_csv_with_rejects`` + ``append_load``, each followed by a fresh
  read of the table, and ``compact_table`` once per pass.
"""

from __future__ import annotations

import math
import os
import pickle
import random
import statistics
import subprocess
import sys
import time
import traceback
from collections import defaultdict
from dataclasses import dataclass, field

from tracing import SparkProfiler, Tracer

PIPELINE_OPS = ("multimodal_wav_decode", "graph_pagerank")
INGESTS_PER_PASS = 2
# Operations keep speeding up over their first timed runs, as the JIT
# compiles more of the engine.  The median of four passes leaves out the
# slow first one, and a fixed minimum keeps the number of samples per run
# the same whatever the host's speed.
MIN_PASSES = 4

END_TO_END = {
    "total_s": "s",
    "geomean_s": "s",
    "retained_heap_mb": "MB",
    "setup_s": "s",
}

PER_LAYER = {
    "session.start_s": "s",
    "catalog.load_tables_s": "s",
    "catalog.scan_files": "count",
    "catalog.scan_bytes": "bytes",
    "catalog.scan_rows": "count",
    "catalog.rows_scanned_per_result_row": "ratio",
    "queries.build_s": "s",
    "queries.build_jobs": "count",
    "queries.action_s": "s",
    "queries.jobs": "count",
    "queries.stages": "count",
    "queries.stages_skipped": "count",
    "queries.tasks": "count",
    "queries.executor_run_s": "s",
    "queries.executor_cpu_s": "s",
    "queries.gc_s": "s",
    "queries.shuffle_write_bytes": "bytes",
    "queries.shuffle_read_bytes": "bytes",
    "queries.spill_bytes": "bytes",
    "queries.result_rows": "count",
    "queries.persisted_rdds_leaked": "count",
    "queries.cached_bytes_leaked": "bytes",
    "operators.python_total_s": "s",
    "operators.python_boot_s": "s",
    "operators.python_bytes_sent": "bytes",
    "operators.python_rows_received": "count",
    "sources.load_s": "s",
    "sources.read_csv_s": "s",
    "sources.append_load_s": "s",
    "sources.count_rejects_s": "s",
    "sources.rows_accepted": "count",
    "sources.rows_rejected": "count",
    "sources.bytes_written": "bytes",
    "sources.load_rows_per_s": "1/s",
    "sources.load_p90_s": "s",
    "sources.files_before_read": "count",
    "sources.fresh_read_p50_s": "s",
    "sources.fresh_read_p90_s": "s",
    "sources.compact_s": "s",
    "sources.bytes_rewritten": "bytes",
    "sources.bytes_per_row": "bytes",
    "sources.write_amp": "ratio",
    "sources.persisted_rdds_leaked": "count",
    "sources.cached_bytes_leaked": "bytes",
    "bench.warmup_s": "s",
    "bench.peak_rss_mb": "MB",
    "bench.latency_p50_s": "s",
    "bench.latency_p90_s": "s",
    "bench.self_s": "s",
    "trace.total_s": "s",
    "trace.overhead_s": "s",
    "trace.overhead_frac": "ratio",
    "trace.spans": "count",
}

# Query-layer counters summed over operations (per-kind medians); the
# profiler's names map onto metric names here.
_QUERY_COUNTERS = {
    "build_jobs": "queries.build_jobs",
    "jobs": "queries.jobs",
    "stages": "queries.stages",
    "stages_skipped": "queries.stages_skipped",
    "tasks": "queries.tasks",
    "executor_run_s": "queries.executor_run_s",
    "executor_cpu_s": "queries.executor_cpu_s",
    "gc_s": "queries.gc_s",
    "shuffle_write_bytes": "queries.shuffle_write_bytes",
    "shuffle_read_bytes": "queries.shuffle_read_bytes",
    "spill_bytes": "queries.spill_bytes",
    "result_rows": "queries.result_rows",
    "scan_files": "catalog.scan_files",
    "scan_bytes": "catalog.scan_bytes",
    "scan_rows": "catalog.scan_rows",
    "python_total": "operators.python_total_s",
    "python_boot": "operators.python_boot_s",
    "python_bytes_sent": "operators.python_bytes_sent",
    "python_rows_received": "operators.python_rows_received",
    "build_s": "queries.build_s",
    "action_s": "queries.action_s",
}


@dataclass
class Sample:
    kind: str
    layer: str
    seconds: float
    ok: bool
    timed: bool
    counters: dict = field(default_factory=dict)


class Engine:
    """The engine's session, started once per run."""

    def __init__(self, sf_dir: str, tmp_dir: str, tracer: Tracer):
        self.sf_dir = sf_dir
        self.tmp_dir = tmp_dir
        self.tracer = tracer
        self.spark = None
        self.jvm_pid = None

    def start(self) -> tuple[float, float]:
        """Start the session and register the catalog; return the
        seconds each took."""
        from stonedb_spark import get_spark, load_tables

        with self.tracer.span("bench.setup"):
            t0 = time.perf_counter()
            with self.tracer.span("session.get_spark"):
                self.spark = get_spark(
                    "perfbench",
                    extra_conf={
                        # the engine's default driver heap (24g) is sized
                        # for a 128 GiB host
                        "spark.driver.memory": "2g",
                        "spark.driver.extraJavaOptions": f"-Djava.io.tmpdir={self.tmp_dir}",
                        "spark.ui.showConsoleProgress": "false",
                    },
                )
            t1 = time.perf_counter()
            with self.tracer.span("catalog.load_tables"):
                load_tables(self.spark, self.sf_dir)
            t2 = time.perf_counter()
        self.spark.sparkContext.setLogLevel("ERROR")
        self.jvm_pid = int(self.spark._jvm.java.lang.ProcessHandle.current().pid())
        return t1 - t0, t2 - t1

    def peak_rss_mb(self) -> float:
        """Peak resident set of the driver JVM plus this process.  The
        heap starts at the JVM's default size and the collector grows it
        as it sees fit, up to 2 GiB."""
        return (_vm_hwm_kb(self.jvm_pid) + _vm_hwm_kb("self")) / 1024.0

    def retained_heap_mb(self) -> float:
        """Heap still in use once the run's objects are released.  This
        process's references to JVM objects are dropped first; then full
        collections alternate with pauses in which Spark's ContextCleaner
        removes the blocks, broadcasts and shuffles of collected RDDs,
        until three readings agree within 1 MB.  What stays is what the
        engine holds on to: cached blocks, catalog and status state."""
        import gc

        gc.collect()
        jvm = self.spark._jvm
        heap = jvm.java.lang.management.ManagementFactory.getMemoryMXBean()
        readings: list[float] = []
        while len(readings) < 20 and (len(readings) < 3 or max(readings[-3:]) - min(readings[-3:]) > 1.0):
            jvm.java.lang.System.gc()
            readings.append(heap.getHeapMemoryUsage().getUsed() / 2**20)
            time.sleep(0.3)
        return readings[-1]

    def close(self) -> None:
        """Stop the session and the JVM, and wait for the JVM to exit."""
        from pyspark import SparkContext

        gateway = SparkContext._gateway
        if self.spark is not None:
            self.spark.stop()
        if gateway is None:
            return
        proc = getattr(gateway, "proc", None)
        gateway.shutdown()
        if proc is not None:
            # the gateway JVM exits when its stdin closes
            proc.stdin.close()
            try:
                proc.wait(timeout=60)
            except subprocess.TimeoutExpired:
                proc.kill()
                proc.wait()
        SparkContext._gateway = None
        SparkContext._jvm = None


def _vm_hwm_kb(pid) -> float:
    with open(f"/proc/{pid}/status") as f:
        for line in f:
            if line.startswith("VmHWM:"):
                return float(line.split()[1])
    raise RuntimeError(f"no VmHWM for process {pid}")


def _rows_frame(rows, columns):
    import pandas as pd

    return pd.DataFrame.from_records([tuple(r) for r in rows], columns=columns)


class Runner:
    """Runs and checks operations; profiles them when tracing."""

    def __init__(self, engine: Engine, tracer: Tracer, inputs: dict):
        self.engine = engine
        self.tracer = tracer
        self.inputs = inputs
        self.samples: list[Sample] = []
        self.profiler = SparkProfiler(engine.spark) if tracer.enabled else None
        self.leaked = defaultdict(int)
        self._checked: dict[str, object] = {}
        self._seq = 0
        self.warmup_s = 0.0

    # -- generic operation boundary -------------------------------------
    def _run(self, kind: str, layer: str, timed: bool, body) -> Sample:
        """Run ``body(sample, phase)`` once as one operation.  The body
        makes the engine calls and returns a check, which runs after the
        clock has stopped.  An exception or a failed check counts the
        operation as failed; it is reported on stderr and the run goes
        on."""
        self._seq += 1
        sample = Sample(kind, layer, 0.0, False, timed)
        groups: dict[str, str] = {}

        def phase(name):
            if self.profiler is not None:
                groups[name] = f"pb{self._seq}:{kind}:{name}"
                self.profiler.set_group(groups[name])

        before = self.profiler.persisted() if self.profiler else (0, 0)
        with self.tracer.span("bench.op", op=kind, timed=timed) as op_span:
            t0 = time.perf_counter()
            try:
                check = body(sample, phase)
                sample.seconds = time.perf_counter() - t0
                with self.tracer.span("bench.check"):
                    sample.ok = bool(check())
            except Exception:
                sample.seconds = time.perf_counter() - t0
                traceback.print_exc(file=sys.stderr)
                sample.counters["raised"] = 1
        if self.profiler is not None:
            sample.counters.update(self.profiler.collect(groups, detail=timed))
            rdds, cached = self.profiler.persisted()
            self.leaked[f"{layer}.persisted_rdds_leaked"] += rdds - before[0]
            self.leaked[f"{layer}.cached_bytes_leaked"] += cached - before[1]
            for name in ("queries.build", "queries.action"):
                sample.counters[name.split(".")[1] + "_s"] = self.tracer.total(name, op_span["id"])
        self.samples.append(sample)
        return sample

    # -- registry queries -------------------------------------------------
    def query(self, q, timed: bool) -> Sample:
        spark = self.engine.spark
        sf_dir = self.engine.sf_dir

        def body(sample, phase):
            phase("build")
            with self.tracer.span("queries.build", query=q.name):
                df = q.build(spark, sf_dir)
            phase("action")
            with self.tracer.span("queries.action", query=q.name):
                rows = df.collect()
            sample.counters["result_rows"] = len(rows)
            return lambda: self._check(q.name, _rows_frame(rows, df.columns))

        return self._run(q.name, "queries", timed, body)

    def _check(self, name: str, got) -> bool:
        """The first result of a query is checked against its DuckDB
        oracle result (entries without an oracle only have to run); every
        later one against that first result, order-insensitively."""
        from stonedb_spark.testing import compare_frames

        if name not in self._checked:
            expected = self.inputs["oracle"].get(name)
            problems = [] if expected is None else compare_frames(got, _load(expected))
            self._checked[name] = None if problems else got
        elif self._checked[name] is None:
            problems = ["the first result failed its oracle check"]
        else:
            problems = compare_frames(got, self._checked[name])
        if problems:
            print(f"perfbench: {name}: {problems[:3]}", file=sys.stderr)
        return not problems


def _load(path: str):
    # the cache holds only files the benchmark's own prepare step wrote
    with open(path, "rb") as f:
        return pickle.load(f)


class Ingest:
    """The HTAP ingest loop over a benchmark-owned copy of ``orders``."""

    def __init__(self, runner: Runner, table_dir: str, batches: list[dict], malformed: int,
                 initial_rows: int, initial_sum: float):
        self.runner = runner
        self.table = table_dir
        self.batches = batches
        self.malformed = malformed
        self.rows = initial_rows
        self.total = initial_sum
        self.next_batch = 0
        self.bytes_loaded = 0
        self.bytes_compacted = 0

    def load(self, timed: bool) -> Sample:
        from stonedb_spark.sources.csvload import append_load, read_csv_with_rejects

        batch = self.batches[self.next_batch]
        self.next_batch += 1
        tracer, spark = self.runner.tracer, self.runner.engine.spark
        before = _dir_bytes(self.table)

        def body(sample, phase):
            phase("load")
            with tracer.span("sources.read_csv_with_rejects"):
                good, bad = read_csv_with_rejects(spark, batch["path"], _orders_struct())
            with tracer.span("sources.append_load"):
                append_load(good, self.table)
            with tracer.span("sources.count_rejects"):
                rejected = bad.count()
            return lambda: self._after_load(sample, batch, before, rejected)

        return self.runner._run("load", "sources", timed, body)

    def _after_load(self, sample: Sample, batch: dict, before: int, rejected: int) -> bool:
        written = _dir_bytes(self.table) - before
        self.bytes_loaded += written
        self.rows += batch["good"]
        self.total += batch["sum"]
        sample.counters.update(rows_accepted=batch["good"], rows_rejected=rejected, bytes_written=written)
        if rejected != self.malformed:
            print(f"perfbench: {batch['path']}: {rejected} rows rejected, "
                  f"{self.malformed} malformed rows generated", file=sys.stderr)
        return rejected == self.malformed

    def fresh_read(self, timed: bool) -> Sample:
        """Count and sum over the table directory, read fresh; the
        next check compares both with what the loads put there."""
        from pyspark.sql import functions as F

        tracer, spark = self.runner.tracer, self.runner.engine.spark
        files = _dir_files(self.table)

        def body(sample, phase):
            sample.counters["files_before_read"] = files
            phase("read")
            with tracer.span("sources.fresh_read"):
                n, total = spark.read.parquet(self.table).agg(
                    F.count(F.lit(1)), F.sum("o_totalprice")
                ).collect()[0]
            return lambda: self._check_read(n, total)

        return self.runner._run("fresh_read", "sources", timed, body)

    def _check_read(self, n: int, total: float) -> bool:
        ok = n == self.rows and math.isclose(total, self.total, rel_tol=1e-9)
        if not ok:
            print(f"perfbench: fresh read gave {n} rows, sum {total}; "
                  f"expected {self.rows}, {self.total}", file=sys.stderr)
        return ok

    def compact(self, timed: bool) -> Sample:
        from stonedb_spark.sources.ddl import compact_table

        tracer, spark = self.runner.tracer, self.runner.engine.spark

        def body(sample, phase):
            phase("compact")
            with tracer.span("sources.compact_table"):
                compact_table(spark, self.table)
            return lambda: self._after_compact(sample)

        return self.runner._run("compact", "sources", timed, body)

    def _after_compact(self, sample: Sample) -> bool:
        rewritten = _dir_bytes(self.table)
        self.bytes_compacted += rewritten
        sample.counters["bytes_rewritten"] = rewritten
        return rewritten > 0


def _orders_struct():
    from pyspark.sql.types import (DoubleType, LongType, StringType, StructField,
                                   StructType, TimestampType)

    return StructType([
        StructField("o_orderkey", LongType()),
        StructField("o_custkey", LongType()),
        StructField("o_orderstatus", StringType()),
        StructField("o_totalprice", DoubleType()),
        StructField("o_orderdate", TimestampType()),
        StructField("o_orderpriority", StringType()),
    ])


def _dir_bytes(path: str) -> int:
    return sum(
        os.path.getsize(os.path.join(root, f))
        for root, _, files in os.walk(path)
        for f in files
        if f.endswith(".parquet")
    )


def _dir_files(path: str) -> int:
    return sum(1 for _, _, files in os.walk(path) for f in files if f.endswith(".parquet"))


# -- workloads -------------------------------------------------------------

def _registry(names):
    import stonedb_spark.queries.graph  # noqa: F401  (registers entries)
    import stonedb_spark.queries.pipeline  # noqa: F401
    import stonedb_spark.queries.tpch  # noqa: F401
    from stonedb_spark.queries import _REGISTRY

    return [_REGISTRY[n] for n in names]


def tpch_names() -> list[str]:
    # Five of the 22, so that a run fits a cold warm-up pass and four
    # warm passes over the measured tables.  They are a scan-heavy
    # aggregate (q1), a broadcast-hinted join (q5), a query that
    # checkpoints during build() (q11), a correlated subquery (q17) and
    # EXISTS / NOT EXISTS (q21).
    return [f"tpch_q{i}" for i in (1, 5, 11, 17, 21)]


def query_names(workload: str) -> list[str]:
    return tpch_names() if workload == "tpch-sf0.1" else list(PIPELINE_OPS)


def _timed_passes(runner: Runner, rng: random.Random, seconds: float, items: list, run_item,
                  after_pass=None, more=lambda: True) -> int:
    passes, t0 = 0, time.perf_counter()
    while (passes < MIN_PASSES or time.perf_counter() - t0 < seconds) and more():
        rng.shuffle(items)
        with runner.tracer.span("bench.pass", n=passes):
            for item in items:
                run_item(item)
            if after_pass is not None:
                after_pass()
        passes += 1
    return passes


def run_tpch(runner: Runner, rng: random.Random, seconds: float) -> int:
    order = _registry(tpch_names())
    rng.shuffle(order)
    with runner.tracer.span("bench.warmup"):
        t0 = time.perf_counter()
        for q in order:
            runner.query(q, timed=False)
        runner.warmup_s = time.perf_counter() - t0
    return _timed_passes(runner, rng, seconds, order, lambda q: runner.query(q, timed=True))


def run_pipeline_htap(runner: Runner, ingest: Ingest, rng: random.Random, seconds: float) -> int:
    ops = _registry(PIPELINE_OPS)
    with runner.tracer.span("bench.warmup"):
        t0 = time.perf_counter()
        for q in ops:
            runner.query(q, timed=False)
        ingest.load(timed=False)
        ingest.fresh_read(timed=False)
        ingest.compact(timed=False)
        ingest.fresh_read(timed=False)
        runner.warmup_s = time.perf_counter() - t0

    def run_item(item):
        if item is None:
            ingest.load(timed=True)
            ingest.fresh_read(timed=True)
        else:
            runner.query(item, timed=True)

    passes = _timed_passes(
        runner, rng, seconds, list(ops) + [None] * INGESTS_PER_PASS, run_item,
        after_pass=lambda: ingest.compact(timed=True),
        more=lambda: ingest.next_batch + INGESTS_PER_PASS <= len(ingest.batches),
    )
    # the last compaction is checked like every other one
    ingest.fresh_read(timed=False)
    return passes


# -- metrics -----------------------------------------------------------------

def _p90(values: list[float]) -> float:
    if len(values) < 2:
        return values[0]
    return statistics.quantiles(values, n=10, method="inclusive")[8]


def _kind_medians(samples: list[Sample]) -> dict[str, float]:
    by_kind = defaultdict(list)
    for s in samples:
        by_kind[s.kind].append(s.seconds)
    return {k: statistics.median(v) for k, v in by_kind.items()}


def end_to_end(samples: list[Sample], setup: tuple[float, float, float],
               retained_heap_mb: float) -> dict[str, float]:
    """``setup`` is (session start, catalog registration, warm-up pass)."""
    timed = [s for s in samples if s.timed and "raised" not in s.counters]
    medians = _kind_medians(timed)
    return {
        "total_s": sum(medians.values()),
        "geomean_s": math.exp(statistics.fmean(math.log(v) for v in medians.values())),
        "retained_heap_mb": retained_heap_mb,
        "setup_s": sum(setup),
    }


def per_layer(runner: Runner, setup: tuple[float, float, float], passes: int,
              ingest: Ingest | None, peak_rss_mb: float) -> dict[str, float]:
    """The per-layer metrics of a traced run."""
    samples = runner.samples
    timed = [s for s in samples if s.timed and "raised" not in s.counters]
    out = {name: 0.0 for name in PER_LAYER}
    out["session.start_s"], out["catalog.load_tables_s"], out["bench.warmup_s"] = setup
    out["bench.peak_rss_mb"] = peak_rss_mb

    # query layer: per-kind medians, summed over kinds (one pass's worth)
    by_kind = defaultdict(list)
    for s in timed:
        if s.layer == "queries":
            by_kind[s.kind].append(s.counters)
    for counters in by_kind.values():
        for key, name in _QUERY_COUNTERS.items():
            out[name] += statistics.median(c.get(key, 0.0) for c in counters)
    out["catalog.rows_scanned_per_result_row"] = out["catalog.scan_rows"] / max(1.0, out["queries.result_rows"])
    out.update(runner.leaked)

    out["bench.latency_p50_s"] = statistics.median(s.seconds for s in timed)
    out["bench.latency_p90_s"] = _p90([s.seconds for s in timed])
    tracer = runner.tracer
    pass_spans = [s["id"] for s in tracer.spans if s["name"] == "bench.pass"]
    if ingest is not None:
        loads = [s for s in timed if s.kind == "load"]
        reads = [s for s in timed if s.kind == "fresh_read"]
        compacts = [s for s in timed if s.kind == "compact"]
        load_s = [s.seconds for s in loads]
        read_s = [s.seconds for s in reads]
        accepted = sum(s.counters["rows_accepted"] for s in loads)
        out["sources.load_s"] = statistics.median(load_s)
        out["sources.rows_accepted"] = accepted / passes
        out["sources.rows_rejected"] = sum(s.counters["rows_rejected"] for s in loads) / passes
        out["sources.bytes_written"] = sum(s.counters["bytes_written"] for s in loads) / passes
        out["sources.load_rows_per_s"] = accepted / sum(load_s)
        out["sources.load_p90_s"] = _p90(load_s)
        out["sources.files_before_read"] = statistics.median(s.counters["files_before_read"] for s in reads)
        out["sources.fresh_read_p50_s"] = statistics.median(read_s)
        out["sources.fresh_read_p90_s"] = _p90(read_s)
        out["sources.compact_s"] = statistics.median(s.seconds for s in compacts)
        out["sources.bytes_rewritten"] = sum(s.counters["bytes_rewritten"] for s in compacts) / passes
        final_bytes = _dir_bytes(ingest.table)
        out["sources.bytes_per_row"] = final_bytes / ingest.rows
        out["sources.write_amp"] = (ingest.bytes_loaded + ingest.bytes_compacted) / final_bytes
        for span, name in (("sources.read_csv_with_rejects", "sources.read_csv_s"),
                           ("sources.append_load", "sources.append_load_s"),
                           ("sources.count_rejects", "sources.count_rejects_s")):
            out[name] = sum(tracer.total(span, p) for p in pass_spans) / passes / INGESTS_PER_PASS

    out["bench.self_s"] = sum(tracer.self_times(p).get("bench.op", 0.0) for p in pass_spans) / passes
    out["trace.total_s"] = end_to_end(samples, setup, 0.0)["total_s"]
    out["trace.overhead_s"] = runner.profiler.overhead_s
    out["trace.overhead_frac"] = runner.profiler.overhead_s / sum(s.seconds for s in samples)
    out["trace.spans"] = len(tracer.spans)
    return out
