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


DRIVE_WITHOUT_FIXTURES = """
import sys
sys.path.insert(0, {repo!r})
import __spark_entry__ as E
from stonedb_spark import get_spark

qs = E.queries()
print("DIALECT", sum(n.startswith("dialect_") for n in qs))
print("HAS", "dialect_issue1006_load" in qs, "dialect_proc_repeat" in qs)
print("ROWS", len(E.entry(get_spark("registry-no-fixtures")).collect()))
"""


def test_dialect_registers_without_mtr_fixtures(tmp_path):
    """With STONEDB_MTR_DIR pointing at an empty dir, queries.dialect
    still imports: entries whose oracle reads a missing LOAD DATA
    fixture are left out and named in one log line, the rest register,
    and the driver entry returns rows."""
    import os
    import subprocess

    repo = os.path.dirname(os.path.dirname(os.path.abspath(__file__)))
    (tmp_path / "mtr").mkdir()
    env = dict(os.environ, STONEDB_MTR_DIR=str(tmp_path / "mtr"))
    proc = subprocess.run(
        [sys.executable, "-c", DRIVE_WITHOUT_FIXTURES.format(repo=repo)],
        env=env, cwd=str(tmp_path), capture_output=True, text=True,
        timeout=900,
    )
    assert proc.returncode == 0, proc.stderr[-2000:]
    out = dict(
        (line.split(" ", 1)[0], line.split(" ", 1)[1])
        for line in proc.stdout.splitlines() if " " in line
    )
    assert int(out["DIALECT"]) > 400
    assert out["HAS"] == "False True"  # LOAD DATA entry out, CALL entry in
    assert int(out["ROWS"]) > 0
    skipped = [
        line for line in proc.stderr.splitlines()
        if "dialect entries not registered" in line
    ]
    assert len(skipped) == 1 and "dialect_issue1006_load" in skipped[0]
