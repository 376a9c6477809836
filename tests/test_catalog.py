"""Catalog registration: a repeated ``load_tables`` re-registers
nothing, and the views come back after anything re-binds or drops
them."""

from __future__ import annotations

import os

import pytest

from stonedb_spark.catalog import load_tables


def test_steady_state_load_tables_registers_nothing(spark, sf_dir, monkeypatch):
    """Once registered, a call neither re-creates a temp view nor
    re-applies the session's SQL confs."""
    import stonedb_spark.session as session

    dfs = load_tables(spark, sf_dir)
    calls = {"views": 0, "confs": 0}
    cls = type(next(iter(dfs.values())))
    real_view = cls.createOrReplaceTempView

    def count_view(self, name):
        calls["views"] += 1
        return real_view(self, name)

    def count_confs(s):
        calls["confs"] += 1

    monkeypatch.setattr(cls, "createOrReplaceTempView", count_view)
    monkeypatch.setattr(session, "ensure_sql_confs", count_confs)
    assert load_tables(spark, sf_dir) is dfs
    assert calls == {"views": 0, "confs": 0}


def _drop_lineitem(spark, sf_dir):
    spark.catalog.dropTempView("lineitem")


def _repoint_orders(spark, sf_dir):
    spark.range(3).createOrReplaceTempView("orders")


def _sql_replace_orders(spark, sf_dir):
    spark.sql("CREATE OR REPLACE TEMPORARY VIEW orders AS SELECT 1 AS x")


def _drop_table_guard(spark, sf_dir):
    from stonedb_spark.sources.views import drop_table_guard

    drop_table_guard(spark, "lineitem")


def _other_sf(spark, sf_dir):
    root = os.path.dirname(sf_dir)
    other = "sf0.01" if os.path.basename(sf_dir) == "sf0.001" else "sf0.001"
    load_tables(spark, os.path.join(root, other))


@pytest.mark.parametrize(
    "disturb",
    [_drop_lineitem, _repoint_orders, _sql_replace_orders, _drop_table_guard, _other_sf],
    ids=lambda f: f.__name__.lstrip("_"),
)
def test_views_restored_after_rebind(spark, oracle, sf_dir, disturb):
    """After a view is dropped, re-pointed or re-registered from another
    directory, the next ``load_tables(sf_dir)`` binds lineitem and
    orders to the fixture again."""
    load_tables(spark, sf_dir)
    disturb(spark, sf_dir)
    load_tables(spark, sf_dir)
    for name in ("lineitem", "orders"):
        got = spark.sql(f"SELECT COUNT(*) FROM {name}").collect()[0][0]
        want = oracle.execute(f"SELECT COUNT(*) FROM {name}").fetchone()[0]
        assert got == want, name
