"""Focused per-query micro-bench for the optimization rounds.

Times individual registered queries through bench.py's own timing loop
(``bench._time_battery``: same timed action per query, collect() or
the noop sink for LARGE_OUTPUT entries; same min-of-N statistic; warmed
tables and untimed warmup runs), so numbers here are comparable to
BENCH_*.json without paying the full-battery wall clock per A/B
iteration.

Usage:
    python tools/qbench.py q1 q2 ...            # sf0.1, 3 runs
    SPARK_GRAFT_SF_DIR=... python tools/qbench.py --runs 5 tpch_q1

Prints one JSON line {"queries": {...}, "loadavg_start": [...]}.
"""

from __future__ import annotations

import argparse
import json
import os
import sys

sys.path.insert(0, os.path.dirname(os.path.dirname(os.path.abspath(__file__))))

from stonedb_spark import get_spark  # noqa: E402

from bench import LARGE_OUTPUT, _time_battery  # noqa: E402


def main() -> None:
    ap = argparse.ArgumentParser()
    ap.add_argument("names", nargs="+")
    ap.add_argument("--runs", type=int, default=3)
    ap.add_argument("--warmup", type=int, default=1)
    ap.add_argument(
        "--sf-dir", default=os.environ.get("SPARK_GRAFT_SF_DIR", "/root/testdata/sf0.1")
    )
    args = ap.parse_args()

    loadavg_start = [round(x, 2) for x in os.getloadavg()]
    spark = get_spark("stonedb_spark-qbench")
    spark.sparkContext.setLogLevel("ERROR")
    times = _time_battery(spark, args.names, args.sf_dir, args.runs, args.warmup)
    print(
        json.dumps(
            {
                "queries": times,
                "sf_dir": args.sf_dir,
                "runs": args.runs,
                "stat": "min",
                "noop_sink": sorted(LARGE_OUTPUT & set(args.names)),
                "loadavg_start": loadavg_start,
                "loadavg_end": [round(x, 2) for x in os.getloadavg()],
            }
        )
    )


if __name__ == "__main__":
    main()
