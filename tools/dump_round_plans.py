"""Dump `.explain("formatted")` for registered queries into a round's
plan directory, so plan claims can be checked against committed files:
    <round_dir>/<query>_before.txt   (captured before a change)
    <round_dir>/<query>_after.txt    (captured after)

Usage:
    python tools/dump_round_plans.py plans/r14 before tpch_q1 knn_pq_adc ...
    python tools/dump_round_plans.py plans/r14 after  knn_pq_adc
    python tools/dump_round_plans.py plans/r14 before --all  # every headline query

Plans are captured from the UNEXECUTED frame (AdaptiveSparkPlan initial
plan) — deterministic, independent of runtime re-planning — which is
what the static plan gates in tests/test_plans.py also read.
"""

from __future__ import annotations

import os
import sys

sys.path.insert(0, os.path.dirname(os.path.dirname(os.path.abspath(__file__))))

from stonedb_spark import get_spark  # noqa: E402
from stonedb_spark.plans.inspect import formatted_plan  # noqa: E402
from stonedb_spark.queries import all_queries  # noqa: E402

SF_DIR = os.environ.get("SPARK_GRAFT_SF_DIR", "/root/testdata/sf0.1")


def main() -> None:
    out_dir, suffix = sys.argv[1], sys.argv[2]
    assert suffix in ("before", "after"), "second arg must be before|after"
    names = sys.argv[3:]
    qs = all_queries()
    if names == ["--all"]:
        import bench

        names = [n for n in sorted(qs) if n.startswith(bench.HEADLINE_PREFIXES)]
        names += [n for n in bench.HEADLINE_EXTRA if n in qs]
    spark = get_spark("stonedb_spark-plandump")
    spark.sparkContext.setLogLevel("ERROR")
    os.makedirs(out_dir, exist_ok=True)
    for name in names:
        df = qs[name].build(spark, SF_DIR)
        path = os.path.join(out_dir, f"{name}_{suffix}.txt")
        with open(path, "w") as f:
            f.write(formatted_plan(df))
        print(path)


if __name__ == "__main__":
    main()
