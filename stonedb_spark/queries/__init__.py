"""Query registry.

Every implemented operator/query from SURVEY.md §2 registers itself here
with (a) a Spark DataFrame builder ``(spark, sf_dir) -> DataFrame`` and
(b) an equivalent ANSI-SQL oracle string for DuckDB (or ``None`` for
genuinely non-SQL-expressible operators, which get a weaker rows-only
check from the driver).  Column names are aliased identically on both
sides — the driver's compare sorts columns by name before hashing.
"""

from __future__ import annotations

import importlib
import logging
import sys
from collections.abc import Callable
from dataclasses import dataclass

from pyspark.sql import DataFrame, SparkSession

_log = logging.getLogger(__name__)


@dataclass(frozen=True)
class Query:
    name: str
    build: Callable[[SparkSession, str], DataFrame]
    oracle: str | None
    doc: str = ""


_REGISTRY: dict[str, Query] = {}

# Registry modules whose import raised; never retried.
_FAILED: set[str] = set()

# Modules that register queries on import.
_MODULES = (
    "stonedb_spark.queries.tpch",
    "stonedb_spark.queries.dialect",
    "stonedb_spark.queries.relational",
    "stonedb_spark.queries.funcs",
    "stonedb_spark.queries.pipeline",
    "stonedb_spark.queries.dml",
    "stonedb_spark.queries.regress",
    "stonedb_spark.queries.regress_issues",
    "stonedb_spark.queries.graph",
)


def register(name: str, oracle: str | None = None, doc: str = ""):
    def deco(fn):
        if name in _REGISTRY:
            raise ValueError(f"duplicate query name: {name}")
        _REGISTRY[name] = Query(name=name, build=fn, oracle=oracle, doc=doc)
        return fn

    return deco


def all_queries() -> dict[str, Query]:
    """Every registered query.  A module whose import raises (e.g. an
    oracle that reads a fixture this host lacks) contributes nothing: the
    entries it registered before failing are rolled back, the failure is
    logged once, and the module is not imported again."""
    for mod in _MODULES:
        if mod in _FAILED:
            continue
        before = set(_REGISTRY)
        try:
            importlib.import_module(mod)
        except Exception as exc:
            _FAILED.add(mod)
            # a failed import leaves no module object; entries from
            # modules it imported successfully stay registered
            for name in set(_REGISTRY) - before:
                if _REGISTRY[name].build.__module__ not in sys.modules:
                    del _REGISTRY[name]
            _log.warning(
                "query module %s not registered: %s: %s",
                mod, type(exc).__name__, exc,
            )
    return dict(_REGISTRY)
