#!/usr/bin/env python3
"""The repo benchmark: one command, every metric by name with its unit.

    python3 perfbench/run.py --workload tpch-sf0.1 --seed 1 --seconds 10 --trace 0

Run from the repository root (the directory holding ``stonedb_spark/``).
The last line of standard output is one JSON object:
``{"correct", "attempted", "failed", "metrics": {name: {"value", "unit"}}}``.
With ``--trace 0`` the metrics are the end-to-end ones, measured with
tracing off; with ``--trace 1`` they are the per-layer ones, read from
the trace and from Spark's status stores.  The line before it is a
report with the input digests, the load average and the raw samples.

Inputs are generated (``datagen.py``) and cached under
``$CARGO_TARGET_DIR/perfbench`` (default ``.bench_build/perfbench``);
every file the run writes stays under that directory.  ``--smoke`` runs
the same workloads at sf0.001.  See README.md for the workloads and how
to read the metrics.
"""

from __future__ import annotations

import argparse
import hashlib
import json
import os
import pickle
import random
import shutil
import subprocess
import sys

HERE = os.path.dirname(os.path.abspath(__file__))
ROOT = os.path.dirname(HERE)
WORKLOADS = ("tpch-sf0.1", "pipeline-htap")
BATCH_ROWS, BATCH_MALFORMED = 25_000, 50
SMOKE_BATCH_ROWS, SMOKE_BATCH_MALFORMED = 2_000, 10


def parse_args(argv):
    p = argparse.ArgumentParser(description=__doc__.split("\n\n")[0])
    p.add_argument("--workload", required=True, choices=WORKLOADS)
    p.add_argument("--seed", type=int, required=True)
    p.add_argument("--seconds", type=float, required=True, help="length of the timed window")
    p.add_argument("--trace", type=int, choices=(0, 1), default=0)
    p.add_argument("--smoke", action="store_true", help="sf0.001 inputs, small batches")
    p.add_argument("--prepare", metavar="RUN_DIR", help=argparse.SUPPRESS)
    return p.parse_args(argv)


def prepare(args, cache: str, run_dir: str) -> dict:
    """Make the run's inputs; runs in a child process, so that the
    generators and DuckDB leave no mark on the measured process's memory.

    Base tables and oracle results are cached by content digest; the
    ingest batches come from ``--seed`` and are written fresh."""
    import datagen
    import pyarrow.compute as pc
    import pyarrow.parquet as pq

    import workloads

    sf = 0.001 if args.smoke else 0.1
    sf_dir, digest = datagen.ensure_tables(cache, sf)
    manifest = {"sf": sf, "sf_dir": sf_dir, "data_digest": digest, "oracle": {}, "batches": []}

    oracle_dir = os.path.join(cache, "oracle")
    os.makedirs(oracle_dir, exist_ok=True)
    con = None
    for q in workloads._registry(workloads.query_names(args.workload)):
        if q.oracle is None:
            continue
        key = hashlib.sha256(f"{digest}\0{q.name}\0{q.oracle}".encode()).hexdigest()[:24]
        path = os.path.join(oracle_dir, f"{q.name}-{key}.pkl")
        if not os.path.exists(path):
            if con is None:
                from stonedb_spark.testing import duckdb_connection

                con = duckdb_connection(sf_dir)
            with open(path + ".tmp", "wb") as f:
                pickle.dump(con.execute(q.oracle).df(), f)
            os.replace(path + ".tmp", path)
        manifest["oracle"][q.name] = path

    if args.workload == "pipeline-htap":
        rows, malformed = (SMOKE_BATCH_ROWS, SMOKE_BATCH_MALFORMED) if args.smoke else (BATCH_ROWS, BATCH_MALFORMED)
        orders = pq.read_table(os.path.join(sf_dir, "orders.parquet"))
        n_customers = pq.read_metadata(os.path.join(sf_dir, "customer.parquet")).num_rows
        table_dir = os.path.join(run_dir, "htap", "orders")
        os.makedirs(table_dir)
        shutil.copy(os.path.join(sf_dir, "orders.parquet"), os.path.join(table_dir, "part-initial.parquet"))
        batch_dir = os.path.join(run_dir, "htap", "batches")
        os.makedirs(batch_dir)
        # one batch for the warm-up, then enough for a pass every 3 s
        passes = max(workloads.MIN_PASSES, -(-int(args.seconds) // 3))
        n_batches = 1 + workloads.INGESTS_PER_PASS * passes
        first_key = orders.num_rows
        for i in range(n_batches):
            path = os.path.join(batch_dir, f"batch-{i:03d}.csv")
            good, total = datagen.write_ingest_batch(path, args.seed, i, first_key, rows, malformed, n_customers)
            first_key += rows
            manifest["batches"].append(
                {"path": path, "good": good, "sum": total, "digest": datagen.file_digest([path])[:16]}
            )
        manifest["htap"] = {
            "table_dir": table_dir,
            "malformed": malformed,
            "initial_rows": orders.num_rows,
            "initial_sum": float(pc.sum(orders["o_totalprice"]).as_py()),
        }
    return manifest


def measure(args, manifest: dict, run_dir: str, trace_path: str) -> tuple[dict, dict]:
    import workloads
    from tracing import Tracer

    tracer = Tracer(f"{args.workload}-seed{args.seed}-{os.getpid()}", enabled=bool(args.trace))
    engine = workloads.Engine(manifest["sf_dir"], os.path.join(run_dir, "tmp"), tracer)
    rng = random.Random(args.seed)
    try:
        start_s, load_s = engine.start()
        runner = workloads.Runner(engine, tracer, manifest)
        ingest = None
        if args.workload == "tpch-sf0.1":
            passes = workloads.run_tpch(runner, rng, args.seconds)
        else:
            h = manifest["htap"]
            ingest = workloads.Ingest(runner, h["table_dir"], manifest["batches"], h["malformed"],
                                      h["initial_rows"], h["initial_sum"])
            passes = workloads.run_pipeline_htap(runner, ingest, rng, args.seconds)
        setup = (start_s, load_s, runner.warmup_s)
        if args.trace:
            metrics = workloads.per_layer(runner, setup, passes, ingest, engine.peak_rss_mb())
            tracer.dump(trace_path)
        else:
            metrics = workloads.end_to_end(runner.samples, setup, engine.retained_heap_mb())
    finally:
        engine.close()
    units = workloads.PER_LAYER if args.trace else workloads.END_TO_END
    samples = runner.samples
    failed = sum(1 for s in samples if not s.ok)
    result = {
        "correct": failed == 0,
        "attempted": len(samples),
        "failed": failed,
        "metrics": {name: {"value": metrics[name], "unit": unit} for name, unit in units.items()},
    }
    report = {
        "workload": args.workload,
        "seed": args.seed,
        "sf": manifest["sf"],
        "cores": int(os.environ["SPARK_GRAFT_CPUS"]),
        "data_digest": manifest["data_digest"],
        "batch_digests": [b["digest"] for b in manifest["batches"]],
        "timed_passes": passes,
        "setup_s": {"session_start": start_s, "load_tables": load_s, "warmup": runner.warmup_s},
        "samples": [[s.kind, round(s.seconds, 4), s.ok, s.timed] for s in samples],
        "query_modules": sorted(m for m in sys.modules if m.startswith("stonedb_spark.queries.")),
        "trace_file": trace_path if args.trace else None,
    }
    return report, result


def main(argv=None) -> int:
    args = parse_args(sys.argv[1:] if argv is None else argv)
    if not os.path.isdir(os.path.join(ROOT, "stonedb_spark")):
        print(f"perfbench: no stonedb_spark package in {ROOT}; run from a checkout of the repository",
              file=sys.stderr)
        return 2
    sys.path.insert(0, ROOT)
    build = os.path.join(ROOT, os.environ.get("CARGO_TARGET_DIR", ".bench_build"))
    work = os.path.join(build, "perfbench")
    cache = os.path.join(work, "cache")

    if args.prepare:
        print(json.dumps(prepare(args, cache, args.prepare)))
        return 0

    run_dir = os.path.join(work, f"run-{os.getpid()}")
    os.makedirs(os.path.join(run_dir, "tmp"))
    os.makedirs(os.path.join(work, "traces"), exist_ok=True)
    # everything the engine and Spark write goes under the run directory
    os.environ.update(
        TMPDIR=os.path.join(run_dir, "tmp"),
        SPARK_LOCAL_DIRS=os.path.join(run_dir, "spark-local"),
        SPARK_GRAFT_WAREHOUSE=os.path.join(run_dir, "warehouse"),
        SPARK_GRAFT_CPUS=str(len(os.sched_getaffinity(0))),
    )
    try:
        loadavg_start = os.getloadavg()
        child = subprocess.run(
            [sys.executable, os.path.abspath(__file__), *(argv if argv is not None else sys.argv[1:]),
             "--prepare", run_dir],
            stdout=subprocess.PIPE, text=True, check=True,
        )
        manifest = json.loads(child.stdout.strip().splitlines()[-1])
        trace_path = os.path.join(work, "traces", f"{args.workload}-seed{args.seed}-{os.getpid()}.json")
        report, result = measure(args, manifest, run_dir, trace_path)
        report.update(loadavg_start=loadavg_start, loadavg_end=os.getloadavg())
    finally:
        shutil.rmtree(run_dir, ignore_errors=True)
    print(json.dumps(report))
    print(json.dumps(result))
    return 0


if __name__ == "__main__":
    sys.exit(main())
