"""Materialize-for-reuse goes through one helper and leaves no result that
a later run could reuse (stonedb_spark/reuse.py); no package code exists
only for the tests."""

from __future__ import annotations

import ast
import os
import re
from pathlib import Path

from pyspark.sql.types import DoubleType, LongType, StringType, StructField, StructType

from stonedb_spark.queries import all_queries
from stonedb_spark.sources.csvload import append_load, read_csv_with_rejects

ROOT = Path(__file__).resolve().parent.parent
PKG = ROOT / "stonedb_spark"
REUSE_CALL = re.compile(r"\.persist\(|\.cache\(\)|localCheckpoint\(|\.unpersist\(")


def test_materialize_is_the_only_reuse_site():
    hits = [
        f"{path.relative_to(PKG)}:{i}: {line.strip()}"
        for path in sorted(PKG.rglob("*.py"))
        if path != PKG / "reuse.py"
        for i, line in enumerate(path.read_text().splitlines(), 1)
        if REUSE_CALL.search(line)
    ]
    assert not hits, "\n".join(hits)


def test_no_cache_manager_entries_after_runs(spark, sf_dir, tmp_path):
    """No CacheManager entry survives a query or an ingest:
    a later, independent build of the same plan must recompute."""
    sf = os.path.join(os.path.dirname(sf_dir), "sf0.001")
    qs = all_queries()
    for name in ("tpch_q11", "graph_pagerank"):
        assert qs[name].build(spark, sf).collect()

    csv = tmp_path / "batch.csv"
    csv.write_text("1,alpha,1.5\n2,beta,2.5\nbad_id,gamma,1.0\n")
    schema = StructType(
        [
            StructField("id", LongType()),
            StructField("name", StringType()),
            StructField("v", DoubleType()),
        ]
    )
    good, bad = read_csv_with_rejects(spark, str(csv), schema)
    append_load(good, str(tmp_path / "table"))
    assert bad.count() == 1
    assert spark.read.parquet(str(tmp_path / "table")).count() == 2

    assert spark._jsparkSession.sharedState().cacheManager().isEmpty()


# Top-level definitions that only tests reach today, each with the
# ROADMAP item that gives it a caller.  The list only shrinks.
TEST_ONLY_ALLOWED = {
    "optimize_zorder": "item 1",
    "write_with_bloom": "item 1",
    "write_bucketed": "item 1",
}
# Modules that hold test helpers by design.
TEST_HELPER_MODULES = {PKG / "plans" / "inspect.py", PKG / "testing.py"}


def _names(node: ast.AST) -> set[str]:
    out = set()
    for n in ast.walk(node):
        if isinstance(n, ast.Name):
            out.add(n.id)
        elif isinstance(n, ast.Attribute):
            out.add(n.attr)
        elif isinstance(n, ast.alias):
            out.add(n.name.rsplit(".", 1)[-1])
    return out


def _registered(node: ast.AST) -> bool:
    return any(
        isinstance(d, ast.Call) and getattr(d.func, "id", "") == "register"
        for d in node.decorator_list
    )


def _reachable(roots: set[str], bodies: dict[str, set[str]]) -> set[str]:
    """Names reachable from ``roots`` through the top-level definitions'
    bodies (matched by name)."""
    live, todo = set(roots), list(roots)
    while todo:
        for ref in bodies.get(todo.pop(), ()):
            if ref not in live:
                live.add(ref)
                todo.append(ref)
    return live


def test_no_package_definition_is_reached_only_from_tests():
    """Every top-level function and class in the package is reached from
    a registered query, module-level code, bench.py, __spark_entry__.py,
    perfbench/ or tools/ -- not only from tests/ (or from nowhere)."""
    defined: dict[str, str] = {}
    bodies: dict[str, set[str]] = {}
    roots: set[str] = set()
    for path in sorted(PKG.rglob("*.py")):
        helpers = path in TEST_HELPER_MODULES
        for node in ast.parse(path.read_text()).body:
            if isinstance(node, (ast.FunctionDef, ast.AsyncFunctionDef, ast.ClassDef)):
                if not helpers:
                    defined[node.name] = str(path.relative_to(ROOT))
                    bodies.setdefault(node.name, set()).update(_names(node))
                if _registered(node):
                    roots.add(node.name)
            elif not helpers:
                roots |= _names(node)
    entry_points = [ROOT / "bench.py", ROOT / "__spark_entry__.py"]
    for d in ("perfbench", "tools"):
        entry_points += [
            p for p in sorted((ROOT / d).rglob("*.py"))
            if not p.name.startswith("test_")
        ]
    for path in entry_points:
        roots |= _names(ast.parse(path.read_text()))

    live = _reachable(roots, bodies)
    live_or_allowed = _reachable(roots | set(TEST_ONLY_ALLOWED), bodies)
    unreached = sorted(
        f"{defined[n]}: {n}" for n in defined if n not in live_or_allowed
    )
    assert not unreached, (
        "reached only from tests (give it a caller or delete it):\n"
        + "\n".join(unreached)
    )
    stale = sorted(n for n in TEST_ONLY_ALLOWED if n not in defined or n in live)
    assert not stale, f"drop from TEST_ONLY_ALLOWED (gone or now has a caller): {stale}"
