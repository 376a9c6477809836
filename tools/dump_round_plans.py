"""Dump physical plans of registered queries — the one plan-dump tool.

Before/after plan files, so plan claims can be checked against
committed files:
    <round_dir>/<query>_before.txt   (captured before a change)
    <round_dir>/<query>_after.txt    (captured after)

    python tools/dump_round_plans.py plans/r14 before tpch_q1 knn_pq_adc ...
    python tools/dump_round_plans.py plans/r14 after  knn_pq_adc
    python tools/dump_round_plans.py plans/r14 before --all  # every headline query

These plans are captured from the UNEXECUTED frame (AdaptiveSparkPlan
initial plan) — deterministic, independent of runtime re-planning —
which is what the static plan gates in tests/test_plans.py also read.

PLANS.md, the compact audit of the flagship queries (re-run after
plan-affecting changes):

    python tools/dump_round_plans.py --plans-md [PLANS.md]

Per query: scans (pushed filters + read-schema width), join operators,
exchange (shuffle) count and whole-stage-codegen coverage, read from the
FINAL plan of an executed frame (runtime SMJ->BHJ conversions are part
of what the audit documents).  Both modes read plans at the data set
``SPARK_GRAFT_SF_DIR`` names (default: the sf0.1 test data).
"""

from __future__ import annotations

import os
import re
import sys

sys.path.insert(0, os.path.dirname(os.path.dirname(os.path.abspath(__file__))))

from stonedb_spark import get_spark  # noqa: E402
from stonedb_spark.plans.inspect import formatted_plan  # noqa: E402
from stonedb_spark.queries import all_queries  # noqa: E402

SF_DIR = os.environ.get("SPARK_GRAFT_SF_DIR", "/root/testdata/sf0.1")

FLAGSHIPS = (
    "tpch_q1",
    "tpch_q3",
    "tpch_q6",
    "tpch_q7",
    "tpch_q8",
    "tpch_q9",
    "tpch_q12",
    "tpch_q18",
    "tpch_q21",
    "dedup_minhash_lsh",
    "knn_ivf_probe",
    "join_asof_backward",
    "events_sessionize",
    "text_line_dedup",
    "pipeline_snapshot_diff",
    "tpch_q17",
    "graph_pagerank",
    "knn_pq_adc",
    "pipeline_contiguous_ids",
    "join_scd2_pointintime",
    "text_chunk_windows",
    "pipeline_epoch_shuffle",
    "pipeline_ivm_join_parity",
)


def audit(df) -> dict:
    # collect() finalizes THIS frame's AQE plan (a noop write would
    # spawn a separate QueryExecution); only the final-plan tree is
    # read — the formatted dump repeats nodes under "Initial Plan"
    df.collect()
    plan = formatted_plan(df)
    tree = plan.split("== Initial Plan ==")[0]
    scans = []
    for m in re.finditer(
        r"Scan parquet[\s\S]*?Location.*?\[file:([^\]]*?)\][\s\S]*?"
        r"PushedFilters: \[([^\]]*)\][\s\S]*?ReadSchema: struct<([^>]*)>",
        plan,
    ):
        path, pushed, schema = m.groups()
        scans.append(
            {
                "table": path.rstrip("/").split("/")[-1].replace(".parquet", ""),
                "n_pushed": 0 if not pushed.strip() else len(re.split(r",(?![^()]*\))", pushed)),
                "n_cols": 0 if not schema.strip() else schema.count(":"),
            }
        )
    joins = re.findall(
        r"(BroadcastHashJoin|SortMergeJoin|ShuffledHashJoin|"
        r"BroadcastNestedLoopJoin|CartesianProduct)",
        tree,
    )
    n_exchange = len(re.findall(r"\bExchange\b", tree))
    # every tree operator row carries "(<id>)"; rows prefixed "* " run
    # inside whole-stage-codegen spans
    n_nodes = len(re.findall(r"\w+ \(\d+\)", tree))
    n_codegen_nodes = len(re.findall(r"\*\s*\w+ \(\d+\)", tree))
    return {
        "scans": scans,
        "joins": sorted(
            {f"{j}×{joins.count(j)}" for j in set(joins)}
        ),
        "exchanges": n_exchange,
        "codegen": f"{n_codegen_nodes}/{max(n_nodes, 1)} nodes",
    }


def plans_md(spark, qs, out_path: str) -> None:
    lines = [
        "# PLANS — physical-plan audit of the flagship queries",
        "",
        "Generated by `python tools/dump_round_plans.py --plans-md` at",
        f"{os.path.basename(SF_DIR)} (re-run after plan-affecting changes).  The same",
        "properties are enforced as hard gates in tests/test_plans.py;",
        "this file is the inspectable evidence.  `pushed` = predicates",
        "reaching the parquet scan, `cols` = columns actually read",
        "(pruning), `exchanges` = shuffle count in the final AQE plan,",
        "`codegen` = plan nodes inside whole-stage-codegen spans.  A query",
        "whose input is not a parquet file at its scan — a CSV or JSON",
        "source, or a relation `reuse.materialize` checkpointed — lists no",
        "parquet scan for it here.",
        "",
        "| query | scans (table: pushed/cols) | joins (final plan) | exchanges | codegen |",
        "|---|---|---|---|---|",
    ]
    for name in FLAGSHIPS:
        if name not in qs:
            continue
        a = audit(qs[name].build(spark, SF_DIR))
        scans = "; ".join(
            f"{s['table']}: {s['n_pushed']}/{s['n_cols']}" for s in a["scans"]
        )
        lines.append(
            f"| {name} | {scans} | {', '.join(a['joins']) or '—'} |"
            f" {a['exchanges']} | {a['codegen']} |"
        )
    out = "\n".join(lines) + "\n"
    print(out)
    # the hand-written "## ..." sections after the table are kept
    if os.path.exists(out_path):
        with open(out_path) as f:
            kept = f.read().partition("\n## ")
        if kept[1]:
            out += kept[1] + kept[2]
    with open(out_path, "w") as f:
        f.write(out)


def round_plans(spark, qs, out_dir: str, suffix: str, names: list) -> None:
    assert suffix in ("before", "after"), "second arg must be before|after"
    if names == ["--all"]:
        import bench

        names = [n for n in sorted(qs) if n.startswith(bench.HEADLINE_PREFIXES)]
        names += [n for n in bench.HEADLINE_EXTRA if n in qs]
    os.makedirs(out_dir, exist_ok=True)
    for name in names:
        df = qs[name].build(spark, SF_DIR)
        path = os.path.join(out_dir, f"{name}_{suffix}.txt")
        with open(path, "w") as f:
            f.write(formatted_plan(df))
        print(path)


def main() -> None:
    args = sys.argv[1:]
    qs = all_queries()
    spark = get_spark("stonedb_spark-plandump")
    spark.sparkContext.setLogLevel("ERROR")
    if args[0] == "--plans-md":
        root = os.path.dirname(os.path.dirname(os.path.abspath(__file__)))
        plans_md(spark, qs, args[1] if len(args) > 1
                 else os.path.join(root, "PLANS.md"))
    else:
        round_plans(spark, qs, args[0], args[1], args[2:])


if __name__ == "__main__":
    main()
