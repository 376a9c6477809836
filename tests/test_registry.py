"""The query registry is atomic per module: a module whose import raises
leaves none of its entries behind and is not imported again."""

from __future__ import annotations

import logging
import sys

import stonedb_spark.queries as Q

HELPER = """
from stonedb_spark.queries import register

@register("helper_q")
def helper_q(spark, sf_dir):
    return spark.range(1)
"""

BROKEN = """
import {helper}
from stonedb_spark.queries import register

with open({log!r}, "a") as f:
    f.write("import\\n")

@register("broken_q")
def broken_q(spark, sf_dir):
    return spark.range(1)

raise FileNotFoundError("missing fixture")
"""


def test_failed_module_rolls_back_and_is_not_retried(tmp_path, monkeypatch, caplog):
    helper, broken = "regtest_helper_mod", "regtest_broken_mod"
    attempts = tmp_path / "attempts.txt"
    (tmp_path / f"{helper}.py").write_text(HELPER)
    (tmp_path / f"{broken}.py").write_text(BROKEN.format(helper=helper, log=str(attempts)))
    monkeypatch.syspath_prepend(str(tmp_path))
    monkeypatch.setattr(Q, "_REGISTRY", {})
    monkeypatch.setattr(Q, "_FAILED", set())
    monkeypatch.setattr(Q, "_MODULES", (broken, helper))
    try:
        with caplog.at_level(logging.WARNING, logger=Q.__name__):
            first = Q.all_queries()
            second = Q.all_queries()
    finally:
        sys.modules.pop(helper, None)
        sys.modules.pop(broken, None)

    # the helper imported by the failed module registered and stays
    assert set(first) == set(second) == {"helper_q"}
    assert attempts.read_text() == "import\n"
    failures = [r for r in caplog.records if broken in r.getMessage()]
    assert len(failures) == 1 and "missing fixture" in failures[0].getMessage()
