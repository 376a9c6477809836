"""Trigger analogs: BEFORE/AFTER INSERT/UPDATE/DELETE row triggers.

Reference coverage: mysql-test/suite/tianmu/t/issue364.test (AFTER
INSERT copies the inserted rows into a second table), issue581.test
(BEFORE INSERT/UPDATE sets ``new.copy`` from a correlated scalar
subquery over another table), issue1318.test (BEFORE UPDATE writes an
audit row per updated row).

Spark-first design: a trigger is declarative catalog metadata — a
``_TRIGGERS.json`` sidecar next to the table — compiled at DML time
into whole-batch DataFrame transforms:

* ``BEFORE`` + ``set`` exprs → ``withColumn`` over the incoming-rows
  frame.  A correlated scalar-subquery assignment (issue581's
  ``SET new.copy = (SELECT data FROM t2 WHERE id = new.id)``) compiles
  to a LEFT JOIN against the lookup table (broadcast when small) — the
  set-based plan a 100-TB batch needs, not per-row interpretation.
  MySQL's FOR EACH ROW semantics are preserved exactly because every
  row of the batch receives the same independent transform.
* ``insert_into`` action (any timing) → project the affected rows
  through the action's select-exprs and append them to the target
  table — the audit-log pattern.  For UPDATE events the expressions
  see the post-SET values via the ``new`` alias and the pre-image via
  an ``old`` struct column (``old.lastname``).

Triggers fire per DML statement over the whole batch; the per-row
results are identical to MySQL's row-at-a-time loop because each
action is a pure function of (old row, new row, lookup table).
"""

from __future__ import annotations

import json
import os

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F
from pyspark.sql.functions import broadcast

from stonedb_spark.reuse import materialize

from .ddl import _rewrite

_SIDECAR = "_TRIGGERS.json"

_TIMINGS = ("BEFORE", "AFTER")
_EVENTS = ("INSERT", "UPDATE", "DELETE")


def _sidecar(path: str) -> str:
    return os.path.join(path.rstrip("/"), _SIDECAR)


def list_triggers(path: str) -> list[dict]:
    p = _sidecar(path)
    if not os.path.exists(p):
        return []
    with open(p) as fh:
        return json.load(fh)


def _save(path: str, triggers: list[dict]) -> None:
    with open(_sidecar(path), "w") as fh:
        json.dump(triggers, fh, indent=1)


def create_trigger(
    path: str,
    name: str,
    timing: str,
    event: str,
    set_exprs: dict[str, str] | None = None,
    lookup: dict | None = None,
    insert_into: dict | None = None,
) -> None:
    """CREATE TRIGGER analog.

    ``set_exprs``: {column: SQL-expr} applied to the incoming rows
    (BEFORE INSERT/UPDATE only — MySQL rejects writing NEW in AFTER
    triggers, error 1362).  Expressions may reference ``new.<col>``
    and, when ``lookup`` is given, ``ref.<col>``.

    ``lookup``: {"table": parquet-path, "on": "new.x = ref.y"} — the
    scalar-subquery table; joined LEFT so a missing key yields NULL,
    matching MySQL's empty-subquery result.

    ``insert_into``: {"table": parquet-path, "select": {target-col:
    SQL-expr}} — append one row per affected row to the target table.
    Missing target columns are filled with NULL.
    """
    timing, event = timing.upper(), event.upper()
    if timing not in _TIMINGS or event not in _EVENTS:
        raise ValueError(f"bad timing/event: {timing} {event}")
    if set_exprs and timing != "BEFORE":
        raise ValueError("cannot assign new.* in an AFTER trigger (MySQL error 1362)")
    if set_exprs and event == "DELETE":
        raise ValueError("DELETE triggers have no NEW row (MySQL error 1363)")
    triggers = list_triggers(path)
    if any(t["name"] == name for t in triggers):
        raise ValueError(f"trigger already exists: {name} (MySQL error 1359 analog)")
    triggers.append(
        {
            "name": name,
            "timing": timing,
            "event": event,
            "set": set_exprs or {},
            "lookup": lookup,
            "insert_into": insert_into,
        }
    )
    _save(path, triggers)


def drop_trigger(path: str, name: str) -> None:
    triggers = list_triggers(path)
    kept = [t for t in triggers if t["name"] != name]
    if len(kept) == len(triggers):
        raise ValueError(f"trigger does not exist: {name} (MySQL error 1360 analog)")
    _save(path, kept)


def _check_lookup_unique(
    spark: SparkSession, rows: DataFrame, trig: dict
) -> None:
    """MySQL's correlated scalar subquery raises error 1242 ('Subquery
    returns more than 1 row') when the lookup matches more than one row
    for some outer row.  A bare LEFT JOIN would silently FAN OUT the
    batch instead — so before joining, verify no batch row matches a
    duplicated lookup key.  Cost: one groupBy over the (small,
    broadcast-sized) lookup table + a limit-1 probe join."""
    import re

    on = trig["lookup"]["on"]
    ref = spark.read.parquet(trig["lookup"]["table"])
    ref_keys = sorted(set(re.findall(r"\bref\.(\w+)", on)))
    if not ref_keys:
        return
    dup_keys = (
        ref.groupBy(*ref_keys)
        .agg(F.count(F.lit(1)).alias("n"))
        .filter(F.col("n") > 1)
        .select(*ref_keys)
    )
    hit = (
        rows.alias("new")
        .join(broadcast(dup_keys.alias("ref")), F.expr(on), "inner")
        .limit(1)
        .count()
    )
    if hit:
        raise ValueError(
            f"trigger {trig['name']}: lookup matches more than one row "
            "for some batch row (MySQL error 1242 analog: 'Subquery "
            "returns more than 1 row')"
        )


def _with_lookup(spark: SparkSession, rows: DataFrame, trig: dict) -> DataFrame:
    """Alias the batch as ``new`` and LEFT-JOIN the lookup as ``ref``."""
    out = rows.alias("new")
    if trig.get("lookup"):
        _check_lookup_unique(spark, rows, trig)
        ref = spark.read.parquet(trig["lookup"]["table"]).alias("ref")
        out = out.join(broadcast(ref), F.expr(trig["lookup"]["on"]), "left")
    return out


def _apply_before(
    spark: SparkSession, path: str, rows: DataFrame, event: str
) -> DataFrame:
    """Run every BEFORE-<event> trigger's SET list over the batch.

    MySQL applies a trigger's SET list LEFT-TO-RIGHT: a later
    assignment sees the values written by earlier ones (``SET new.a =
    1, new.b = new.a`` gives b=1, not b=old a).  We reproduce that by
    carrying the NEW row as a struct column literally named ``new``
    (so ``new.<col>`` in the expressions resolves to its fields) and
    applying one ``withField`` per assignment in dict order — each
    rewrite is visible to all subsequent expressions, exactly the
    row-at-a-time semantics, still as one whole-batch Catalyst plan.
    """
    cols = rows.columns
    # UPDATE callers carry the pre-image as an ``old`` struct column;
    # it stays top-level so SET expressions can reference old.<col>.
    data_cols = [c for c in cols if c != "old"]
    has_old = "old" in cols
    for trig in list_triggers(path):
        if trig["timing"] != "BEFORE" or trig["event"] != event or not trig["set"]:
            continue
        joined = _with_lookup(spark, rows, trig)
        extra = []
        if has_old:
            extra.append(F.col("new.old").alias("old"))
        if trig.get("lookup"):
            ref_cols = spark.read.parquet(trig["lookup"]["table"]).columns
            extra.append(
                F.struct(
                    *[F.col(f"ref.{c}").alias(c) for c in ref_cols]
                ).alias("ref")
            )
        work = joined.select(
            F.struct(
                *[F.col(f"new.{c}").alias(c) for c in data_cols]
            ).alias("new"),
            *extra,
        )
        for col, sql in trig["set"].items():
            val = F.expr(sql)
            if col in data_cols:
                val = val.cast(rows.schema[col].dataType)
            work = work.withColumn("new", F.col("new").withField(col, val))
        rows = work.select(
            *[F.col(f"new.{c}").alias(c) for c in data_cols],
            *(["old"] if has_old else []),
        )
    return rows


def _fire_inserts(spark: SparkSession, path: str, affected: DataFrame, event: str) -> None:
    """Run every <event> trigger's INSERT INTO action (audit pattern).

    ``affected`` carries post-image columns; UPDATE callers add an
    ``old`` struct column so expressions can reference ``old.<col>``.
    """
    for trig in list_triggers(path):
        if trig["event"] != event or not trig.get("insert_into"):
            continue
        action = trig["insert_into"]
        target_path = action["table"]
        target = spark.read.parquet(target_path)
        src = _with_lookup(spark, affected, trig)
        exprs = action.get("select", {})
        out = src.select(
            *[
                F.expr(exprs[c]).cast(target.schema[c].dataType).alias(c)
                if c in exprs
                else F.lit(None).cast(target.schema[c].dataType).alias(c)
                for c in target.columns
            ]
        )
        out.write.mode("append").parquet(target_path)


def insert_rows(spark: SparkSession, path: str, rows: DataFrame) -> None:
    """INSERT with trigger firing: BEFORE sets, append, then AFTER/
    audit actions see the as-inserted rows."""
    table = spark.read.parquet(path)
    rows = rows.select(
        *[F.col(c).cast(table.schema[c].dataType) for c in table.columns]
    )
    rows = _apply_before(spark, path, rows, "INSERT")
    # Materialize once so the audit append and the table append see the
    # same batch without recomputing upstream lineage.
    rows = materialize(rows, eager=True)
    rows.write.mode("append").parquet(path)
    _fire_inserts(spark, path, rows, "INSERT")


def update_rows(
    spark: SparkSession, path: str, set_exprs: dict[str, str], where: str
) -> int:
    """UPDATE with trigger firing; returns the matched-row count.

    Statement SETs run first, then BEFORE-UPDATE trigger SETs (which
    see — and may override — the statement's NEW values, as in MySQL),
    then the copy-on-write rewrite, then audit inserts.
    """
    table = spark.read.parquet(path)
    cols = table.columns
    matched = table.filter(F.expr(where))
    untouched = table.filter(~F.coalesce(F.expr(where), F.lit(False)))
    old_struct = F.struct(*[F.col(c).alias(c) for c in cols]).alias("old")
    newrows = matched.alias("new").select(
        *[
            F.expr(set_exprs[c]).cast(table.schema[c].dataType).alias(c)
            if c in set_exprs
            else F.col(f"new.{c}")
            for c in cols
        ],
        old_struct,
    )
    newrows = _apply_before(spark, path, newrows, "UPDATE")
    newrows = materialize(newrows, eager=True)
    n = newrows.count()
    _rewrite(untouched.unionByName(newrows.drop("old")), path)
    _fire_inserts(spark, path, newrows, "UPDATE")
    return n


def delete_rows(spark: SparkSession, path: str, where: str) -> int:
    """DELETE with trigger firing; audit actions see the deleted rows
    (their post-image == pre-image)."""
    table = spark.read.parquet(path)
    doomed = materialize(table.filter(F.expr(where)), eager=True)
    n = doomed.count()
    survivors = table.filter(~F.coalesce(F.expr(where), F.lit(False)))
    _rewrite(survivors, path)
    _fire_inserts(spark, path, doomed, "DELETE")
    return n
