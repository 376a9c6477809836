"""MySQL-dialect SQL *text* front-end.

The reference's entire input surface is MySQL SQL text — its parser is
MySQL's (`sql/sql_yacc.yy`), hooked into the engine at
`storage/tianmu/sql/ha_my_tianmu.h:28`, and its whole test corpus
(`mysql-test/suite/tianmu/t/*.test`) is MTR scripts of verbatim MySQL
statements.  Everything else in this repo executes hand-translated
DataFrame/ANSI-SQL equivalents; this module closes the usability gap:
paste an MTR script — backtick identifiers, display-width int types,
``ENGINE=TIANMU`` clauses, ``LIMIT x,y``, ``DIV``, quoted aliases,
``GROUP_CONCAT(... SEPARATOR ...)``, ``INSERT INTO t VALUES()`` with
column DEFAULTs — and run it unmodified on Spark.

Two translators share one statement model:

* ``rewrite_spark`` — MySQL text → Spark SQL text, executed against
  real Spark tables (``USING PARQUET`` under a run-scoped temp dir),
  so INSERT/SELECT flow through the same Catalyst planner as every
  other operator in the repo.  DDL/DML are driver-side metadata ops;
  the designated SELECT is a fully declarative Catalyst plan — scans,
  joins and aggregates optimize exactly like the rest of the engine
  (this front-end adds parsing, not an interpreter).
* ``build_oracle_sql`` — MySQL script → ONE DuckDB SELECT: every
  table's state is replayed as a chain of CTE versions (VALUES for
  INSERT, UNION ALL for INSERT..SELECT, filtered SELECT for DELETE,
  CASE projection for UPDATE), with the final version bound to the
  bare table name so the translated designated SELECT runs against
  the same data the Spark run produced.  This gives every dialect_*
  registry entry a real cross-engine oracle without any fixture
  files.

MTR directives (``--echo``, ``--sorted_result`` …) are ignored;
``--error`` marks the next statement expect-to-fail (the runner
asserts it raises).  Scale note: the front-end emits declarative SQL
— there is nothing here that collects, loops rows, or otherwise
fights the 100 TB execution path.
"""

from __future__ import annotations

import decimal
import functools
import os
import re
import shutil
import tempfile
from dataclasses import dataclass, field

from pyspark.sql import Column, DataFrame, SparkSession
from pyspark.sql import functions as F

from stonedb_spark.reuse import materialize

# ---------------------------------------------------------------------------
# MTR script → statements


@dataclass
class Statement:
    text: str
    expect_error: bool = False


def _strip_block_comments(script: str) -> str:
    out, i, in_str = [], 0, None
    while i < len(script):
        ch = script[i]
        if in_str:
            out.append(ch)
            if ch == in_str:
                in_str = None
            i += 1
        elif ch in ("'", '"'):
            in_str = ch
            out.append(ch)
            i += 1
        elif script.startswith("/*", i):
            end = script.find("*/", i + 2)
            i = len(script) if end < 0 else end + 2
        else:
            out.append(ch)
            i += 1
    return "".join(out)


def split_mtr(script: str) -> list[Statement]:
    """Split an MTR script into SQL statements, dropping test-runner
    directives (`--…` lines, `#` comment lines, `/* … */` block
    comments) and tracking ``--error`` expectations for the following
    statement."""
    script = _strip_block_comments(script)
    # mysqltest `if (\`query\`) { … }` guards debug-build-only blocks
    # (issue1054's @@global.debug probe): stock servers take the
    # false branch, so the block drops
    script = re.sub(
        r"(?ms)^\s*if\s*\(`[^`]*`\)\s*\n?\s*\{.*?^\s*\}\s*$", "",
        script,
    )
    script = _expand_mysqltest_loops(script)
    stmts: list[Statement] = []
    buf: list[str] = []
    expect_error = False
    in_str: str | None = None
    delim = ";"  # mysqltest DELIMITER command can change this
    for rawline in script.splitlines():
        line = rawline.strip()
        if in_str is None and (not line or line.startswith("#")):
            continue
        if in_str is None and line.startswith("--"):
            # '--error 1064' and the spaced '-- error 1064' form both
            # mark the next statement expect-to-fail
            if re.match(r"--\s*error\b", line, re.I):
                expect_error = True
            dfm = re.match(r"--\s*diff_files\s+(\S+)\s+(\S+)", line, re.I)
            if dfm:
                # byte-level export verification (issue850): becomes a
                # synthetic statement the runner checks; the oracle
                # skips it (no file state)
                stmts.append(Statement(
                    "DIFF_FILES "
                    + dfm.group(1).replace("$MYSQL_TEST_DIR",
                                           MYSQL_TEST_DIR)
                    + " " + dfm.group(2).replace("$MYSQL_TEST_DIR",
                                                 MYSQL_TEST_DIR)
                ))
            continue
        dm = (
            re.match(r"^DELIMITER\s+(\S+)\s*$", line, re.I)
            if in_str is None and not buf
            else None
        )
        if dm:
            # mysqltest: the rest of the line is the new delimiter, the
            # CURRENT delimiter terminating the command ('DELIMITER //;'
            # sets '//'; 'DELIMITER ;//' restores ';')
            tok = dm.group(1)
            if tok != delim and tok.endswith(delim):
                tok = tok[: -len(delim)]
            delim = tok or ";"
            continue
        # scan for the statement terminator outside string literals
        piece: list[str] = []
        i = 0
        while i < len(rawline):
            ch = rawline[i]
            if in_str:
                piece.append(ch)
                if ch == in_str:
                    # doubled quote stays inside the literal
                    if i + 1 < len(rawline) and rawline[i + 1] == in_str:
                        piece.append(rawline[i + 1])
                        i += 1
                    else:
                        in_str = None
                elif ch == "\\" and i + 1 < len(rawline):
                    piece.append(rawline[i + 1])
                    i += 1
            elif ch == "#":
                break  # unquoted '#': comment to end of line (mysql CLI)
            elif ch in ("'", '"', "`"):
                # backticks quote identifiers that may CONTAIN '#'
                # (issue487's `#mysql50#q.q`)
                in_str = ch
                piece.append(ch)
            elif rawline.startswith(delim, i):
                buf.append("".join(piece))
                text = _norm_eval("\n".join(buf).strip())
                if text:
                    stmts.append(Statement(text, expect_error))
                    expect_error = False
                buf, piece = [], []
                i += len(delim) - 1
            else:
                piece.append(ch)
            i += 1
        if piece or in_str:
            buf.append("".join(piece))
    tail = _norm_eval("\n".join(buf).strip())
    if tail:
        stmts.append(Statement(tail, expect_error))
    # triggers expand BEFORE db-prefix stripping: the cross-db trigger
    # validation legs (1435/1146 analogs) need the original qualifiers
    stmts = _expand_prepare(stmts)
    stmts = _expand_select_assigns(
        _expand_procedures(_split_multi_set(stmts)))
    stmts = _expand_var_recurrences(stmts)
    stmts = _expand_triggers(stmts)
    return _batch_single_inserts(_strip_db_prefixes(stmts))


def _expand_select_assigns(stmts: list) -> list:
    """FROM-less ``SELECT @v := expr AS alias, …`` (procedure.test's
    math() body): assign via a SET statement, select the bare
    expression.  Per-row assignment over a FROM relation is genuinely
    sequential state and stays unsupported (issue1910/1662)."""
    out: list = []
    for st in stmts:
        masked = _ANY_STRLIT.sub("''", st.text)
        m = re.match(r"(?is)^\s*SELECT\s+(.+)$", st.text)
        if not (
            m
            and not st.expect_error
            and re.search(r"@\w+\s*:=", masked)
            and not re.search(r"(?i)\bFROM\b", masked)
        ):
            out.append(st)
            continue
        new_items: list[str] = []
        pre: list = []
        for it in _split_top_commas(m.group(1)):
            am = re.match(
                r"(?is)^\s*@(\w+)\s*:=\s*(.+?)"
                r"(\s+AS\s+(?:`[^`]+`|\w+))?\s*$", it)
            if am:
                pre.append(Statement(
                    f"SET @{am.group(1)} = {am.group(2).strip()}"))
                alias = am.group(3) or f" AS {am.group(1)}"
                new_items.append(f"({am.group(2).strip()}){alias}")
            else:
                new_items.append(it.strip())
        out.extend(pre)
        out.append(Statement("SELECT " + ", ".join(new_items),
                             st.expect_error))
    return out


_SET_USER_VAR = re.compile(r"(?is)^\s*SET\s+@(\w+)\s*(?::=|=)\s*(.+?)\s*$")

# IF(@prev = key, @rank := @rank + 1, @rank := 1) — the pre-8.0
# MySQL rank idiom (issue1903)
_IF_RANK_IDIOM = re.compile(
    r"(?is)IF\s*\(\s*@(\w+)\s*=\s*((?:\w+\s*\.\s*)?\w+)\s*,"
    r"\s*@(\w+)\s*:=\s*@(\w+)\s*\+\s*1\s*,"
    r"\s*@(\w+)\s*:=\s*(\d+)\s*\)"
)
# IF(@c != lit, @c, @c := …) — unreachable-assignment counter
# (issue1696's @counter = 0 vs != 1)
_IF_CONST_IDIOM = re.compile(
    r"(?is)IF\s*\(\s*@(\w+)\s*(?:!=|<>)\s*(-?\d+(?:\.\d+)?)\s*,"
    r"\s*@(\w+)\s*,\s*@(\w+)\s*:=[^()]*\)"
)
# @a := @a + expr — running accumulator
_ACCUM_IDIOM = re.compile(
    r"(?is)@(\w+)\s*:=\s*@(\w+)\s*\+\s*"
    r"(-?\d+(?:\.\d+)?|\w+(?:\s*\.\s*\w+)?)"
)
# @prev := col — previous-key holder
_PREVCOL_IDIOM = re.compile(
    r"(?is)@(\w+)\s*:=\s*((?:\w+\s*\.\s*)?\w+)(?=\s*(?:,|\n|FROM\b|$))"
)
# (SELECT @v1 := lit, @v2 := lit …) alias — MySQL's inline
# variable-init derived table (issue1897's FROM t1,(SELECT @row := 0) a)
_INLINE_INIT = re.compile(
    r"(?is)\(\s*SELECT\s+(@\w+\s*:=\s*(?:-?\d+(?:\.\d+)?|NULL)"
    r"(?:\s*,\s*@\w+\s*:=\s*(?:-?\d+(?:\.\d+)?|NULL))*)\s*\)"
    r"(\s*(?:AS\s+)?\w+)"
)
# @v := IF(col = @prev, @v, @v + 1) — running group id (issue1897)
_GROUPID_IDIOM = re.compile(
    r"(?is)@(\w+)\s*:=\s*IF\s*\(\s*((?:\w+\s*\.\s*)?\w+)\s*=\s*@(\w+)\s*,"
    r"\s*@(\w+)\s*,\s*@(\w+)\s*\+\s*1\s*\)"
)
# whole-statement rank-vs-value recurrence (issue1696):
# SELECT IF(@r != col, @r := reset, @r := @r + step) FROM t
_RECUR_STMT = re.compile(
    r"(?is)^\s*SELECT\s+IF\s*\(\s*@(\w+)\s*(?:!=|<>)\s*"
    r"(?:(\w+)\s*\.\s*)?(\w+)\s*,\s*@(\w+)\s*:=\s*(-?\d+)\s*,"
    r"\s*@(\w+)\s*:=\s*@(\w+)\s*\+\s*(-?\d+)\s*\)\s*"
    r"(?:AS\s+(`[^`]+`|'[^']+'|\w+)\s*)?"
    r"FROM\s+(`[^`]+`|\w+)\s*$"
)


def _expand_var_recurrences(stmts: list) -> list:
    """Session-variable rank/counter idioms over a FROM relation
    (issue1903 / issue1910 / issue1696).  Per-row ``@v :=`` state is
    sequential by definition, but the reference's own expected
    results pin down pure-SQL equivalents for these shapes:

    * ``@a := @a + expr`` with a NULL-start var never leaves NULL
      (mysql-test/suite/tianmu/r/issue1910.result: every row NULL)
      -> typed NULL literal.
    * ``IF(@prev = key, @rank := @rank + 1, @rank := 1)`` with
      NULL-start vars: the reference evaluates the FIRST execution
      vectorized-stateless (r/issue1903.result: rankno=1 on all 12
      rows of query 1) and REPEAT executions row-sequentially (same
      file: the second, textually identical query returns only the 4
      group-first rows) -> occurrence 1 folds to the reset constant;
      occurrence 2+ becomes ROW_NUMBER() OVER (PARTITION BY key
      ORDER BY <residual keys of the derived table's ORDER BY>).
    * ``@prev := col`` -> col (the assignment expression's value).
    * ``IF(@c != lit, @c, @c := …)`` where @c holds a known constant
      v with v != lit: the assignment branch is unreachable at every
      row (r/issue1696.result: counter=0 on all 24 rows) -> v.

    A statement is rewritten only when EVERY ``@v :=`` site matches a
    shape above; otherwise it passes through untouched (and any entry
    over it stays unregistered)."""
    out: list = []
    var_vals: dict[str, str] = {}  # lower var -> literal text | "?"
    seen: dict[str, int] = {}

    for st in stmts:
        sm = _SET_USER_VAR.match(st.text)
        if sm:
            v = sm.group(2).strip()
            var_vals[sm.group(1).lower()] = (
                v if re.fullmatch(r"(?i)-?\d+(?:\.\d+)?|NULL", v) else "?"
            )
            out.append(st)
            continue
        masked = _ANY_STRLIT.sub("''", st.text)
        if (
            st.expect_error
            or not re.search(r"@\w+\s*:=", masked)
            or not re.search(r"(?i)\bFROM\b", masked)
        ):
            out.append(st)
            continue
        key = re.sub(r"\s+", " ", st.text).strip().lower()
        seen[key] = occ = seen.get(key, 0) + 1
        text = st.text

        rm = _RECUR_STMT.match(text)
        if rm:
            r1, _tq, col, r2, reset, r3, r4, step, alias, tbl = rm.groups()
            init = var_vals.get(r1.lower())
            if (r1 == r2 == r3 == r4 and init not in (None, "?")
                    and re.fullmatch(r"-?\d+", init or "")):
                # genuine sequential recurrence r_i = IF(r_{i-1} != c_i,
                # reset, r_{i-1} + step): a recursive CTE both engines
                # run (Spark 4 WITH RECURSIVE).  Row order canonicalized
                # to ORDER BY the referenced column — equal to insertion
                # order for issue1696's monotonic batteries (delta
                # documented in COVERAGE.md).  Inherently sequential
                # session state; test-scale only by construction.
                # a single-quoted alias (AS 'rankno') would splice as
                # a string literal on DuckDB (silently wrong rows) and
                # a parse error on Spark — normalize to a backticked
                # identifier
                out_alias = alias or r1
                if out_alias[0] in "'`\"":
                    out_alias = f"`{out_alias[1:-1]}`"
                inner = (f"SELECT {col} AS __c, ROW_NUMBER() OVER "
                         f"(ORDER BY {col}) AS __rn FROM {tbl}")
                out.append(Statement(
                    # leading SELECT keeps the statement in both
                    # dispatchers' SELECT class (CTE-in-subquery runs
                    # on Spark 4 and DuckDB alike)
                    f"SELECT {out_alias} FROM ("
                    f"WITH RECURSIVE __svrec AS ("
                    f"SELECT __rn, __c, CASE WHEN {init} != __c THEN "
                    f"{reset} ELSE {init} + {step} END AS __r "
                    f"FROM ({inner}) __s1 WHERE __rn = 1 "
                    f"UNION ALL "
                    f"SELECT __s.__rn, __s.__c, CASE WHEN __p.__r != "
                    f"__s.__c THEN {reset} ELSE __p.__r + {step} END "
                    f"FROM __svrec __p JOIN ({inner}) __s "
                    f"ON __s.__rn = __p.__rn + 1) "
                    f"SELECT __r AS {out_alias} FROM __svrec) __svout",
                    st.expect_error,
                ))
                var_vals[r1.lower()] = "?"  # post-query value unknown
                continue

        # inline-init derived tables scope their inits to THIS
        # statement (MySQL evaluates them once, before the scan)
        stmt_vars = dict(var_vals)

        def _inline_fn(m: "re.Match[str]") -> str:
            items = []
            for it in m.group(1).split(","):
                am = re.match(
                    r"(?is)^\s*@(\w+)\s*:=\s*(.+?)\s*$", it)
                stmt_vars[am.group(1).lower()] = am.group(2).upper()
                # backtick the alias: var names collide with keywords
                # ('row' is reserved in DuckDB)
                items.append(f"{am.group(2)} AS `{am.group(1)}`")
            return "(SELECT " + ", ".join(items) + ")" + m.group(2)

        text = _INLINE_INIT.sub(_inline_fn, text)

        def _start_val(v: str) -> str | None:
            """Query-start value: literal text, 'NULL', or None=unknown."""
            val = stmt_vars.get(v.lower())
            if val is None:
                return "NULL"  # never assigned: NULL-start
            return None if val == "?" else val

        def _rank_fn(m: "re.Match[str]") -> str:
            p, kexpr, r1, r2, r3, init = m.groups()
            if not (r1 == r2 == r3 and init == "1"
                    and _start_val(p) == "NULL"
                    and _start_val(r1) == "NULL"):
                return m.group(0)
            if occ == 1:
                return init  # stateless: IF(NULL = k) is false
            om = None
            for om in re.finditer(
                    r"(?is)ORDER\s+BY\s+([^()]+?)\)", text):
                pass
            if not om:
                return m.group(0)
            keys = [k.strip() for k in om.group(1).split(",")]
            bare = [re.sub(r"^\w+\s*\.\s*", "", k).lower() for k in keys]
            pkey = re.sub(r"^\w+\s*\.\s*", "", kexpr).lower()
            if not bare or bare[0] != pkey or len(keys) < 2:
                return m.group(0)
            return ("ROW_NUMBER() OVER (PARTITION BY " + keys[0]
                    + " ORDER BY " + ", ".join(keys[1:]) + ")")

        text = _IF_RANK_IDIOM.sub(_rank_fn, text)

        def _groupid_fn(m: "re.Match[str]") -> str:
            v1, col, p, v2, v3 = m.groups()
            init = _start_val(v1)
            if not (v1 == v2 == v3 and _start_val(p) == "NULL"
                    and init is not None and init != "NULL"
                    and re.fullmatch(r"-?\d+", init)):
                return m.group(0)
            return f"({init} + DENSE_RANK() OVER (ORDER BY {col}))"

        text = _GROUPID_IDIOM.sub(_groupid_fn, text)

        def _const_fn(m: "re.Match[str]") -> str:
            c1, lit, c2, c3 = m.groups()
            val = _start_val(c1)
            if (c1 == c2 == c3 and val not in (None, "NULL")
                    and float(val) != float(lit)):
                return val
            return m.group(0)

        text = _IF_CONST_IDIOM.sub(_const_fn, text)

        def _accum_fn(m: "re.Match[str]") -> str:
            a1, a2, step = m.groups()
            if a1 != a2:
                return m.group(0)
            init = _start_val(a1)
            if init == "NULL":
                return "CAST(NULL AS DOUBLE)"
            if (init is not None and step.strip() == "1"
                    and re.fullmatch(r"-?\d+", init)):
                return f"({init} + ROW_NUMBER() OVER (ORDER BY 1))"
            return m.group(0)

        text = _ACCUM_IDIOM.sub(_accum_fn, text)

        def _prev_fn(m: "re.Match[str]") -> str:
            v, col = m.groups()
            if _start_val(v) is not None:
                return f"{col} AS {v}"
            return m.group(0)

        # anchor to select-list positions: a `@v := col` embedded in
        # function arguments or a WHERE clause is NOT the previous-key
        # idiom — rewriting it there emits broken SQL instead of
        # falling through to the survived-site guard.
        # A site qualifies when its nearest enclosing paren level IS a
        # SELECT (statement or derived table) and the preceding token
        # at that level is SELECT[/DISTINCT] or a list comma.
        _pmask = _ANY_STRLIT.sub(
            lambda sm: "'" + " " * (len(sm.group(0)) - 2) + "'", text)

        def _at_select_list(pos: int) -> bool:
            stack = []
            for i, ch in enumerate(_pmask[:pos]):
                if ch == "(":
                    stack.append(i)
                elif ch == ")" and stack:
                    stack.pop()
            seg = _pmask[(stack[-1] + 1 if stack else 0): pos]
            tok = seg.rstrip()
            if not (tok.endswith(",") or re.search(
                    r"(?is)\bSELECT\s*(?:DISTINCT\s*)?$", tok)):
                return False
            # a trailing comma counts only inside a select list (seg's
            # parens are balanced by construction, so the comma is at
            # this level); function-arg levels start with the arg, not
            # SELECT
            return bool(re.match(r"\s*\(?\s*SELECT\b", seg, re.I))

        _pieces, _last = [], 0
        for pm in _PREVCOL_IDIOM.finditer(_pmask):
            if not _at_select_list(pm.start()):
                continue
            _pieces.append(text[_last:pm.start()])
            _pieces.append(_prev_fn(
                _PREVCOL_IDIOM.match(text, pm.start()) or pm))
            _last = pm.end()
        _pieces.append(text[_last:])
        text = "".join(_pieces)

        if re.search(r"@\w+\s*:=", _ANY_STRLIT.sub("''", text)):
            out.append(st)  # a site survived: unsupported shape
        else:
            out.append(Statement(text, st.expect_error))
    return out


def _expand_prepare(stmts: list[Statement]) -> list[Statement]:
    """PREPARE name FROM 'sql' / EXECUTE name (insert.test): splice the
    prepared text at each EXECUTE.  A PREPARE under --error stays a
    statement — the runner validates it (MySQL errors at prepare time,
    e.g. 1110 duplicate insert columns)."""
    if not any(
        re.match(r"^\s*PREPARE\b", st.text, re.I) for st in stmts
    ):
        return stmts
    prepared: dict[str, str] = {}
    out: list[Statement] = []
    for st in stmts:
        pm = re.match(
            r"^\s*PREPARE\s+(\w+)\s+FROM\s+(['\"])(.*)\2\s*$",
            st.text, re.I | re.S,
        )
        if pm:
            body = pm.group(3).replace(pm.group(2) * 2, pm.group(2))
            if st.expect_error:
                out.append(st)  # runner raises the prepare-time analog
            else:
                prepared[pm.group(1).lower()] = body
            continue
        em = re.match(
            r"^\s*(?:EXECUTE|DEALLOCATE\s+PREPARE)\s+(\w+)\s*$",
            st.text, re.I,
        )
        if em:
            if re.match(r"^\s*DEALLOCATE", st.text, re.I):
                prepared.pop(em.group(1).lower(), None)
                continue
            out.append(Statement(prepared[em.group(1).lower()],
                                 st.expect_error))
            continue
        out.append(st)
    return out


_USE_STMT = re.compile(r"^\s*USE\s+(`[^`]+`|\w+)\s*$", re.I)
_CREATE_DB_STMT = re.compile(
    r"^\s*CREATE\s+(?:DATABASE|SCHEMA)\s+(?:IF\s+NOT\s+EXISTS\s+)?"
    r"(`[^`]+`|\w+)", re.I,
)
_CREATE_TBL_STMT = re.compile(
    r"^\s*CREATE\s+(?:TEMPORARY\s+)?TABLE\s+(?:IF\s+NOT\s+EXISTS\s+)?"
    r"(?:(`[^`]+`|\w+)\s*\.\s*)?(`[^`]+`|\w+)", re.I,
)
# keyword sequences a TABLE name follows (bare-name qualification
# contexts; longest-first so "TRUNCATE TABLE t" binds as one unit and
# never leaves the ident stranded behind a consumed "TRUNCATE TABLE")
_TBLPOS_KW = (
    r"CREATE\s+(?:TEMPORARY\s+)?TABLE(?:\s+IF\s+NOT\s+EXISTS)?",
    r"DROP\s+(?:TEMPORARY\s+)?TABLES?(?:\s+IF\s+EXISTS)?",
    r"ALTER\s+TABLE", r"TRUNCATE(?:\s+TABLE)?",
    r"INSERT\s+(?:IGNORE\s+)?INTO", r"REPLACE\s+INTO",
    r"DELETE\s+FROM", r"INTO\s+TABLE", r"RENAME(?:\s+TO)?",
    r"UPDATE", r"FROM", r"JOIN", r"DESCRIBE", r"DESC",
)


def _strip_db_prefixes(stmts: list[Statement]) -> list[Statement]:
    """Database namespaces.  When every table name is unique across the
    script's namespaces, ``dbname.`` qualifiers simply drop (legacy
    single-namespace mode — insert.test's ``insert into
    mysqltest_insert_test.t1 set …``).  When the SAME bare table name
    lives in two databases (show_db_table.test's t1 in show_test1 AND
    show_test2; alter_table_v1.test's cross-db rename target), names
    FLATTEN to ``db__table`` instead, with USE tracking qualifying
    bare references — a db-qualified registry over the unchanged
    single-namespace machinery."""
    dbs = set()
    for st in stmts:
        m = _CREATE_DB_STMT.match(st.text)
        if m:
            dbs.add(_unquote_ident(m.group(1)).lower())
    if not dbs:
        return stmts

    # simultaneity scan: the SAME bare name LIVE in two namespaces at
    # once is what the legacy strip can't represent.  Serial reuse
    # (insert.test drops t1, creates a second db, creates ITS t1) stays
    # in strip mode.  Tracks USE, CREATE/DROP TABLE, DROP DATABASE.
    cur = "test"
    live: dict[str, set[str]] = {}  # bare name -> namespaces alive
    owners: dict[str, set[str]] = {}  # bare name -> every namespace ever
    multi = False
    for st in stmts:
        um = _USE_STMT.match(st.text)
        if um:
            cur = _unquote_ident(um.group(1)).lower()
            continue
        tm = _CREATE_TBL_STMT.match(st.text)
        if tm and not st.expect_error:
            db = _unquote_ident(tm.group(1)).lower() if tm.group(1) else cur
            name = _unquote_ident(tm.group(2)).lower()
            owners.setdefault(name, set()).add(db)
            alive = live.setdefault(name, set())
            alive.add(db)
            if len(alive) > 1:
                multi = True
        dm = re.match(
            r"^\s*DROP\s+(?:TEMPORARY\s+)?TABLES?\s+(?:IF\s+EXISTS\s+)?"
            r"(?:(`[^`]+`|\w+)\s*\.\s*)?(`[^`]+`|\w+)", st.text, re.I,
        )
        if dm:
            db = _unquote_ident(dm.group(1)).lower() if dm.group(1) else cur
            live.get(_unquote_ident(dm.group(2)).lower(), set()).discard(db)
        xm = re.match(
            r"^\s*DROP\s+(?:DATABASE|SCHEMA)\s+(?:IF\s+EXISTS\s+)?"
            r"(`[^`]+`|\w+)", st.text, re.I,
        )
        if xm:
            db = _unquote_ident(xm.group(1)).lower()
            for alive in live.values():
                alive.discard(db)
    multi = multi or any(
        re.match(r"^\s*SHOW\s+TABLES\b", st.text, re.I) for st in stmts
    )

    pat = re.compile(
        r"(?<![\w.`])(" + "|".join(re.escape(d) for d in dbs)
        + r")\s*\.\s*(`[^`]+`|\w+)",
        re.I,
    )
    if not multi:
        out = []
        for st in stmts:
            if re.match(r"^\s*(CREATE|DROP)\s+(DATABASE|SCHEMA)\b",
                        st.text, re.I):
                out.append(st)
                continue
            out.append(Statement(
                _sub_outside_strings(
                    st.text, pat,
                    lambda m: m.group(2)
                    if m.group(1).lower() in dbs else m.group(0),
                ),
                st.expect_error,
            ))
        return out

    # ---- multi-namespace flatten ----
    known = set(owners)  # bare names that are tables somewhere
    kw = "|".join(f"(?:{k})" for k in _TBLPOS_KW)
    bare_pat = re.compile(
        rf"(?i)\b({kw})\s+(`[^`]+`|\w+)(?!\s*\.)"
    )
    cur = "test"
    out = []
    for st in stmts:
        um = _USE_STMT.match(st.text)
        if um:
            cur = _unquote_ident(um.group(1)).lower()
            out.append(st)
            continue
        if re.match(r"^\s*(CREATE|DROP)\s+(DATABASE|SCHEMA)\b",
                    st.text, re.I):
            out.append(st)
            continue
        t = st.text
        stm = re.match(r"^\s*SHOW\s+TABLES\s*$", t, re.I)
        if stm:
            t = f"SHOW TABLES IN {cur}"
            out.append(Statement(t, st.expect_error))
            continue
        if re.match(r"^\s*SHOW\s+TABLES\s+IN\b", t, re.I):
            out.append(st)
            continue
        # db.t → db__t for script-created dbs
        t = _sub_outside_strings(
            t, pat,
            lambda m: f"{m.group(1).lower()}__{_unquote_ident(m.group(2))}"
            if m.group(1).lower() in dbs else m.group(0),
        )

        def brep(m: re.Match, cur=cur) -> str:
            name = _unquote_ident(m.group(2))
            if name.lower() not in known or "__" in name:
                return m.group(0)
            return f"{m.group(1)} {cur}__{name}"

        if cur != "test":
            # the pre-USE default namespace keeps bare names so
            # SHOW CREATE TABLE renderings stay byte-faithful; only
            # script-created namespaces flatten
            t = _sub_outside_strings(t, bare_pat, brep)
        out.append(Statement(t, st.expect_error))
    return out


_INSERT_ONE_COLS = re.compile(
    r"^\s*INSERT\s+INTO\s+(`[^`]+`|\w+)\s*(\([^()]*\)\s*)?"
    r"VALUES\s*(\((?:[^()']|'(?:[^'\\]|\\.)*'|\([^()]*\))*\))\s*$",
    re.I | re.S,
)


def _split_multi_set(stmts: list) -> list:
    """``SET @old=@@SQL_MODE, @@SQL_MODE=''`` splits into sequential
    single-assignment SETs so both engines' SET handlers see one
    target each (issue271)."""
    out = []
    for st in stmts:
        m = re.match(r"(?is)^\s*SET\s+(@.+)$", st.text)
        pieces = _split_top_commas(m.group(1)) if m else []
        if m and len(pieces) > 1 and all(
            re.match(r"\s*@?@[\w.]+\s*:?=", p) for p in pieces
        ):
            out.extend(
                Statement("SET " + p.strip(), st.expect_error)
                for p in pieces
            )
        else:
            out.append(st)
    return out


def _expand_triggers(stmts: list) -> list:
    """Trigger emulation at the statement level (trigger.test,
    issue364, issue581, issue1318): both engines replay plain
    statements, so the semantics stay engine-independent.

    INSERT VALUES unrolls per row with BEFORE SET NEW.* folded into
    the tuples.  UPDATE/DELETE/TRUNCATE/INSERT-SELECT fold triggers
    WITHOUT knowing the rows: NEW.x becomes the assignment expression,
    OLD.x the column itself, and @var side effects become
    aggregate/EXISTS probes over the affected-row set, emitted BEFORE
    the statement — both engines evaluate SET @var eagerly against
    pre-statement state (runner: live tables; oracle: the version
    chain built so far), replaying MySQL's per-row firing
    (tianmu fires per MATCHED row — trigger.test:637-659 shows @a
    grows by 3 even for no-op ``set a= a`` updates).  Cascading
    trigger DML recurses with pre-state-preserving emission order
    (bug580's FK-cascade chain: deepest delete first)."""
    if not any(re.match(r"^\s*(CREATE|DROP)\s+TRIGGER\b", st.text, re.I)
               for st in stmts):
        return stmts
    import copy as _copy

    cur_db = ["test"]
    tables: dict[tuple, TableDef] = {}  # (db, name) -> TableDef
    temps: set[tuple] = set()
    views_: set[tuple] = set()
    trig: dict[tuple, list] = {}  # (db,tbl) -> [(name,timing,event,ops)]
    # a permanent table and its triggers while a TEMPORARY table of its
    # name hides it: (db, name) -> (TableDef, triggers)
    parked: dict[tuple, tuple] = {}
    out: list = []

    _REL = r"(?:(\w+)\s*\.\s*)?(`[^`]+`|\w+)"

    def dbkey(raw: str) -> tuple:
        m = re.match(rf"^\s*{_REL}\s*$", raw.strip())
        if not m:
            return (cur_db[0], raw.strip().lower())
        d = (m.group(1) or cur_db[0]).lower()
        return (d, _unquote_ident(m.group(2)).lower())

    def trigs(key: tuple, event: str, timing: str | None = None):
        return [
            t for t in trig.get(key, ())
            if t[2] == event and (timing is None or t[1] == timing)
        ]

    def _wh(cond: str | None) -> str:
        return f" WHERE {cond}" if cond else ""

    def emit(text: str, err: bool = False) -> None:
        out.append(Statement(text, err))

    def _refs_cols(expr: str, td: TableDef) -> bool:
        masked = _ANY_STRLIT.sub("''", expr)
        return any(
            re.search(rf"(?i)\b{re.escape(c.name)}\b", masked)
            for c in td.columns
        )

    def emit_fold_var(var: str, expr: str, guard: str | None,
                      rowsrc: str, where: str | None,
                      td: TableDef) -> None:
        """One trigger SET @var over the affected-row set, as a single
        eager SET: accumulators (@v + d / CONCAT(@v, …)) aggregate,
        row-independent assignments become EXISTS-guarded flags."""
        am = re.match(
            rf"(?is)^@{re.escape(var)}\s*([+\-])\s*(.+)$", expr)
        if am:
            delta = am.group(2).strip()
            if guard:
                delta = f"IF({guard}, {delta}, 0)"
            emit(
                f"SET @{var} = @{var} {am.group(1)} COALESCE("
                f"(SELECT SUM({delta}) {rowsrc}{_wh(where)}), 0)"
            )
            return
        cm = re.match(
            rf"(?is)^CONCAT\s*\(\s*@{re.escape(var)}\s*,\s*(.+)\)$",
            expr)
        if cm:
            piece = f"CONCAT({cm.group(1).strip()})"
            if guard:
                piece = f"IF({guard}, {piece}, '')"
            emit(
                f"SET @{var} = CONCAT(@{var}, COALESCE((SELECT "
                f"GROUP_CONCAT({piece} SEPARATOR '') "
                f"{rowsrc}{_wh(where)}), ''))"
            )
            return
        if re.search(rf"(?i)@{re.escape(var)}\b", expr):
            raise ValueError(
                f"unsupported trigger accumulator: {expr[:60]}")
        if _refs_cols(expr, td):
            raise ValueError(
                f"row-dependent trigger flag: {expr[:60]}")
        w = _g_and(where, guard)
        emit(
            f"SET @{var} = IF(EXISTS(SELECT 1 {rowsrc}{_wh(w)}), "
            f"{expr}, @{var})"
        )

    def fold_dml_side(text: str, guard: str | None, tname: str,
                      where: str | None, depth: int) -> None:
        """One trigger body DML over the affected-row set."""
        w = _g_and(where, guard)
        im = re.match(
            r"(?is)^\s*INSERT\s+(?:INTO\s+)?(`[^`]+`|[\w.]+)\s*"
            r"(\([^()]*\))?\s*VALUES\s*\((.*)\)\s*$", text)
        if im:
            handle(Statement(
                f"INSERT INTO {im.group(1)} {im.group(2) or ''} "
                f"SELECT {im.group(3)} FROM {tname}{_wh(w)}"
            ), depth + 1)
            return
        dm = re.match(
            r"(?is)^\s*DELETE\s+FROM\s+(`[^`]+`|[\w.]+)\s+"
            r"WHERE\s+(.+)$", text)
        if dm:
            cond = _g_and(w, f"({dm.group(2).strip()})")
            handle(Statement(
                f"DELETE FROM {dm.group(1)} WHERE EXISTS("
                f"SELECT 1 FROM {tname}{_wh(cond)})"
            ), depth + 1)
            return
        raise ValueError(f"unsupported trigger body DML: {text[:60]}")

    def perrow_side(side, depth: int) -> None:
        """Per-row-mode side emission (literal INSERT tuples).
        side is ('var', name, expr, guard) or ('dml', text, _, guard)."""
        kind, a, b, guard = side
        if kind == "var":
            if guard:
                emit(f"SET @{a} = IF({guard}, {b}, @{a})")
            else:
                emit(f"SET @{a} = {b}")
            return
        text = a
        if guard is None:
            handle(Statement(text), depth + 1)
            return
        im = re.match(
            r"(?is)^\s*INSERT\s+(?:INTO\s+)?(`[^`]+`|[\w.]+)\s*"
            r"(\([^()]*\))?\s*VALUES\s*\((.*)\)\s*$", text)
        if not im:
            raise ValueError(
                f"unsupported guarded trigger DML: {text[:60]}")
        handle(Statement(
            f"INSERT INTO {im.group(1)} {im.group(2) or ''} "
            f"SELECT {im.group(3)} FROM (SELECT 1 AS _one) AS _trg1 "
            f"WHERE {guard}"
        ), depth + 1)

    def handle(st, depth: int = 0):  # noqa: C901 — statement dispatch
        if depth > 8:
            raise ValueError("trigger: cascade depth exceeded")
        s = st.text
        um = re.match(r"^\s*USE\s+(`[^`]+`|\w+)\s*$", s, re.I)
        if um:
            cur_db[0] = _unquote_ident(um.group(1)).lower()
            emit(s, st.expect_error)
            return
        ddb = re.match(
            r"^\s*DROP\s+(?:DATABASE|SCHEMA)\s+(?:IF\s+EXISTS\s+)?"
            r"(`[^`]+`|\w+)", s, re.I)
        if ddb:
            d = _unquote_ident(ddb.group(1)).lower()
            for k in [k for k in tables if k[0] == d]:
                tables.pop(k, None)
                trig.pop(k, None)
                parked.pop(k, None)
            temps.difference_update({k for k in temps if k[0] == d})
            views_.difference_update({k for k in views_ if k[0] == d})
            emit(s, st.expect_error)
            return
        cm = re.match(
            r"^\s*CREATE\s+(TEMPORARY\s+)?TABLE\s+(?:IF\s+NOT\s+EXISTS"
            rf"\s+)?{_REL}", s, re.I)
        if cm and "(" in s and not _split_create_select(s):
            d = (cm.group(2) or cur_db[0]).lower()
            nm = _unquote_ident(cm.group(3)).lower()
            try:
                s_bare = (
                    re.sub(rf"(?i)\b{re.escape(cm.group(2))}\s*\.\s*",
                           "", s, count=1)
                    if cm.group(2) else s
                )
                td = parse_create_table(s_bare)
                if cm.group(1) and (d, nm) in tables \
                        and (d, nm) not in temps:
                    parked[(d, nm)] = (tables[(d, nm)],
                                       trig.pop((d, nm), None))
                tables[(d, nm)] = td
                if cm.group(1):
                    temps.add((d, nm))
            except ValueError:
                pass
            emit(s, st.expect_error)
            return
        vm = re.match(
            r"^\s*CREATE\s+(?:OR\s+REPLACE\s+)?"
            rf"(?:ALGORITHM\s*=\s*\w+\s+)?VIEW\s+{_REL}", s, re.I)
        if vm:
            views_.add(((vm.group(1) or cur_db[0]).lower(),
                        _unquote_ident(vm.group(2)).lower()))
            emit(s, st.expect_error)
            return
        if re.match(r"^\s*DROP\s+VIEW\b", s, re.I):
            dvm = re.match(
                r"^\s*DROP\s+VIEW\s+(?:IF\s+EXISTS\s+)?(.*)$",
                s, re.I | re.S)
            for nm in _split_top_commas(dvm.group(1)):
                views_.discard(dbkey(nm))
            emit(s, st.expect_error)
            return
        if re.match(r"^\s*DROP\s+(?:TEMPORARY\s+)?TABLES?\b", s, re.I):
            dm = re.match(
                r"^\s*DROP\s+(?:TEMPORARY\s+)?TABLES?\s+"
                r"(?:IF\s+EXISTS\s+)?(.*)$", s, re.I | re.S)
            for nm in _split_top_commas(dm.group(1)):
                k = dbkey(nm)
                tables.pop(k, None)
                trig.pop(k, None)  # DROP TABLE drops its triggers
                temps.discard(k)
                if k in parked:  # the permanent table is back
                    tables[k], ts = parked.pop(k)
                    if ts:
                        trig[k] = ts
            emit(s, st.expect_error)
            return
        rm = re.match(
            rf"^\s*RENAME\s+TABLE\s+{_REL}\s+TO\s+{_REL}\s*$", s, re.I)
        if rm:  # triggers follow the renamed table
            src = ((rm.group(1) or cur_db[0]).lower(),
                   _unquote_ident(rm.group(2)).lower())
            dst = ((rm.group(3) or cur_db[0]).lower(),
                   _unquote_ident(rm.group(4)).lower())
            if src in tables:
                td = tables.pop(src)
                td.name = _unquote_ident(rm.group(4))
                tables[dst] = td
            if src in trig:
                trig[dst] = trig.pop(src)
            emit(s, st.expect_error)
            return
        tm = _CREATE_TRG.match(s)
        if tm:
            trg_db = (tm.group(1) or cur_db[0]).lower()
            name = _unquote_ident(tm.group(2)).lower()
            timing, event = tm.group(3).upper(), tm.group(4).upper()
            tbl_db = (tm.group(5) or trg_db).lower()
            tbl = _unquote_ident(tm.group(6)).lower()
            key = (tbl_db, tbl)
            body = tm.group(7).strip().rstrip(";")
            bm = re.match(r"(?is)^BEGIN\b(.*)\bEND$", body)
            err = None
            ops = []
            try:
                ops = _trg_nodes(bm.group(1) if bm else body)
            except ValueError:
                err = "unsupported-body"
            dup = any(
                n == name
                for (kd, _kt), ts in trig.items()
                for n, *_ in ts
                if kd == trg_db
            )
            if err is None:
                if trg_db != tbl_db:
                    err = "1435"  # trigger in wrong schema
                elif key in views_:
                    err = "1347"  # subject is a view
                elif key in temps:
                    err = "1361"  # subject is temporary
                elif key not in tables:
                    err = "1146"
                elif dup:
                    err = "1359"
                else:
                    err = _trg_validate(event, timing, ops, tables[key])
            if st.expect_error:
                if err is None:
                    # expected an error but this trigger is valid: let
                    # the runner flag the unmet expectation
                    emit("SET NAMES utf8mb4", True)
                return
            if err is not None:
                raise ValueError(
                    f"trigger {name}: MySQL error {err} analog "
                    f"({s[:80]})")
            trig.setdefault(key, []).append((name, timing, event, ops))
            return
        if re.match(r"^\s*DROP\s+TRIGGER\b", s, re.I):
            dm = re.match(
                r"^\s*DROP\s+TRIGGER\s+(IF\s+EXISTS\s+)?"
                rf"{_REL}", s, re.I)
            d = (dm.group(2) or cur_db[0]).lower()
            name = _unquote_ident(dm.group(3)).lower()
            found = False
            for k, ts in list(trig.items()):
                if k[0] != d:
                    continue
                kept = [t for t in ts if t[0] != name]
                if len(kept) != len(ts):
                    found = True
                    trig[k] = kept
            if st.expect_error:
                if found:
                    emit("SET NAMES utf8mb4", True)
                return
            if not found and not dm.group(1):
                raise ValueError(
                    f"Trigger {name} does not exist "
                    f"(MySQL error 1360 analog)")
            return
        if not st.expect_error:
            if _handle_trigger_dml(st, depth):
                return
        emit(s, st.expect_error)

    def _handle_trigger_dml(st, depth: int) -> bool:
        """Fold trigger firing into DML on a trigger-bearing table.
        Returns True when the statement was handled (emitted)."""
        s = st.text
        # ---- TRUNCATE activates DELETE triggers (tianmu maps it)
        trm = re.match(
            rf"^\s*TRUNCATE\s+(?:TABLE\s+)?{_REL}\s*$", s, re.I)
        if trm:
            key = ((trm.group(1) or cur_db[0]).lower(),
                   _unquote_ident(trm.group(2)).lower())
            if key in tables and (
                trigs(key, "DELETE", "BEFORE")
                or trigs(key, "DELETE", "AFTER")
            ):
                _fold_del_upd(key, None, None, s, depth)
                return True
            return False
        # ---- DELETE FROM t [WHERE w]
        dmm = re.match(
            rf"^\s*DELETE\s+FROM\s+{_REL}\s*"
            r"(?:WHERE\s+(.+?))?\s*$", s, re.I | re.S)
        if dmm and not re.search(r"(?i)\bORDER\s+BY\b|\bLIMIT\b", s):
            key = ((dmm.group(1) or cur_db[0]).lower(),
                   _unquote_ident(dmm.group(2)).lower())
            if key in tables and trig.get(key) and (
                trigs(key, "DELETE", "BEFORE")
                or trigs(key, "DELETE", "AFTER")
            ):
                _fold_del_upd(key, None, dmm.group(3), s, depth)
                return True
            return False
        # ---- multi-table DELETE: DELETE t1, t2 FROM <rel> WHERE w
        mdm = re.match(
            r"^\s*DELETE\s+([\w`.\s,]+?)\s+FROM\s+(.+?)"
            r"(?:\s+WHERE\s+(.+?))?\s*$", s, re.I | re.S)
        if mdm and re.match(r"^\s*DELETE\s+(?!FROM)", s, re.I):
            targets = [dbkey(x) for x in _split_top_commas(mdm.group(1))]
            relsrc = mdm.group(2).strip()
            w = mdm.group(3)
            acted = False
            for key in targets:
                if key in tables and (
                    trigs(key, "DELETE", "BEFORE")
                    or trigs(key, "DELETE", "AFTER")
                ):
                    _fold_sides_multi(key, relsrc, w, "DELETE",
                                      None, depth)
                    acted = True
            if acted:
                emit(s, st.expect_error)
                return True
            return False
        # ---- UPDATE (single- or multi-table)
        upm = re.match(
            r"^\s*UPDATE\s+(?:IGNORE\s+)?(.+?)\s+SET\s+(.+?)"
            r"(?:\s+WHERE\s+(.+?))?\s*$", s, re.I | re.S)
        if upm and not re.search(r"(?i)\bORDER\s+BY\b|\bLIMIT\b", s):
            rels = [r.strip() for r in _split_top_commas(upm.group(1))]
            if any(re.search(r"(?i)\bJOIN\b", r) for r in rels):
                return False
            assigns_raw = _split_top_commas(upm.group(2))
            w = upm.group(3)
            if len(rels) == 1:
                key = dbkey(rels[0])
                if key in tables and (
                    trigs(key, "UPDATE", "BEFORE")
                    or trigs(key, "UPDATE", "AFTER")
                ):
                    assigns = {}
                    for a in assigns_raw:
                        am = re.match(
                            r"(?is)^\s*(?:[\w`]+\s*\.\s*)?"
                            r"(`[^`]+`|\w+)\s*=\s*(.+)$", a)
                        if not am:
                            return False
                        assigns[_unquote_ident(am.group(1)).lower()] = \
                            am.group(2).strip()
                    _fold_del_upd(key, assigns, w, s, depth)
                    return True
                return False
            # multi-table: fold SIDE effects only; NEW mutations in
            # multi-update are unsupported (raise inside)
            keys = [dbkey(r.split()[0]) for r in rels]
            acted = False
            for key in keys:
                if key in tables and (
                    trigs(key, "UPDATE", "BEFORE")
                    or trigs(key, "UPDATE", "AFTER")
                ):
                    owned = {}
                    tdk = tables[key]
                    colset = {c.name.lower() for c in tdk.columns}
                    for a in assigns_raw:
                        am = re.match(
                            r"(?is)^\s*(?:([\w`]+)\s*\.\s*)?"
                            r"(`[^`]+`|\w+)\s*=\s*(.+)$", a)
                        if not am:
                            return False
                        q = am.group(1)
                        cn = _unquote_ident(am.group(2)).lower()
                        if (q and _unquote_ident(q).lower()
                                == key[1]) or (not q and cn in colset):
                            owned[cn] = am.group(3).strip()
                    _fold_sides_multi(
                        key, upm.group(1).strip(), w, "UPDATE",
                        owned, depth)
                    acted = True
            if acted:
                emit(s, st.expect_error)
                return True
            return False
        # ---- INSERT … SELECT on a trigger table
        ism = re.match(
            rf"^\s*INSERT\s+(?:INTO\s+)?{_REL}\s*"
            r"(\([^()]*\)\s*)?(\(?\s*SELECT\b.*)$", s, re.I | re.S)
        if ism:
            key = ((ism.group(1) or cur_db[0]).lower(),
                   _unquote_ident(ism.group(2)).lower())
            if key in tables and (
                trigs(key, "INSERT", "BEFORE")
                or trigs(key, "INSERT", "AFTER")
            ):
                _fold_insert_select(
                    key, ism.group(3), ism.group(4), depth)
                return True
            return False
        # ---- INSERT VALUES (plain / IGNORE / ON DUPLICATE KEY)
        ivm = re.match(
            rf"^\s*INSERT\s+(IGNORE\s+)?(?:INTO\s+)?{_REL}\s*"
            r"(\([^()]*\)\s*)?VALUES?\s*(.+?)\s*"
            r"(?:ON\s+DUPLICATE\s+KEY\s+UPDATE\s+(.+))?$",
            s, re.I | re.S)
        if ivm and not re.search(r"(?i)\bSELECT\b",
                                 _ANY_STRLIT.sub("''", s)):
            key = ((ivm.group(2) or cur_db[0]).lower(),
                   _unquote_ident(ivm.group(3)).lower())
            if key in tables and trig.get(key):
                _fold_insert_values(
                    key, s, ivm, st.expect_error, depth)
                return True
        return False

    def _old_q(key: tuple):
        td = tables[key]
        actual = {c.name.lower(): c.name for c in td.columns}
        return lambda col: (
            f"`{td.name}`.`{actual[col.lower()]}`"
            if col.lower() in actual else None
        )

    def _fold_del_upd(key, assigns, w, orig: str, depth: int) -> None:
        """Single-table UPDATE (assigns != None) or DELETE/TRUNCATE
        (assigns None): fold triggers, emit sides (pre-state probes)
        then the rewritten statement."""
        td = tables[key]
        t = f"`{td.name}`"
        event = "UPDATE" if assigns is not None else "DELETE"
        rowsrc = f"FROM {t}"
        sides: list = []
        if assigns is not None:
            # OLD refs and unassigned NEW refs must be table-qualified:
            # a trigger subquery's relations would otherwise shadow
            # them (issue581's SELECT data FROM t2 WHERE id = new.id)
            oldq = _old_q(key)
            newmap = {
                c.name.lower(): oldq(c.name) for c in td.columns
            }
            for cn, e in assigns.items():
                newmap[cn] = e
            for x in trigs(key, "UPDATE", "BEFORE"):
                _trg_apply(x[3], newmap, oldq, sides)
            for x in trigs(key, "UPDATE", "AFTER"):
                _trg_apply(x[3], newmap, oldq, sides,
                           mutate_new=False)
        else:
            oldq = _old_q(key)
            for x in (trigs(key, "DELETE", "BEFORE")
                      + trigs(key, "DELETE", "AFTER")):
                _trg_apply(x[3], None, oldq, sides)
        for side in sides:
            if side[0] == "var":
                emit_fold_var(side[1], side[2], side[3], rowsrc, w, td)
            else:
                fold_dml_side(side[1], side[3], t, w, depth)
        if assigns is not None:
            changed = [
                (c.name, newmap[c.name.lower()])
                for c in td.columns
                if newmap[c.name.lower()] != oldq(c.name)
            ]
            setc = ", ".join(f"`{n}` = {e}" for n, e in changed)
            emit(f"UPDATE {t} SET {setc}{_wh(w)}")
        else:
            emit(orig)

    def _fold_sides_multi(key, relsrc: str, w, event: str,
                          owned, depth: int) -> None:
        """Multi-table UPDATE/DELETE: per-target-row side effects via
        EXISTS over the other relations (distinct-target semantics,
        trigger.test:343-375)."""
        td = tables[key]
        t = td.name
        others = [
            r.strip() for r in _split_top_commas(relsrc)
            if dbkey(r.strip().split()[0]) != key
        ]
        if others:
            inner = _g_and(w, None)
            exq = (f"EXISTS(SELECT 1 FROM {', '.join(others)}"
                   f"{_wh(inner)})")
        else:
            exq = w
        rowsrc = f"FROM `{t}`"
        sides: list = []
        if event == "UPDATE":
            newmap = {c.name.lower(): f"`{t}`.`{c.name}`"
                      for c in td.columns}
            for cn, e in (owned or {}).items():
                newmap[cn] = e
            before = trigs(key, "UPDATE", "BEFORE")
            after = trigs(key, "UPDATE", "AFTER")
            for x in before:
                _trg_apply(x[3], newmap, _old_q(key), sides)
            snapshot = dict(newmap)
            for x in after:
                _trg_apply(x[3], newmap, _old_q(key), sides,
                           mutate_new=False)
            if any(newmap[k] != v for k, v in snapshot.items()):
                raise ValueError(
                    "trigger: NEW mutation in multi-table UPDATE")
        else:
            oldq = _old_q(key)
            for x in (trigs(key, "DELETE", "BEFORE")
                      + trigs(key, "DELETE", "AFTER")):
                _trg_apply(x[3], None, oldq, sides)
        for side in sides:
            if side[0] == "var":
                emit_fold_var(side[1], side[2], side[3], rowsrc,
                              exq, td)
            else:
                fold_dml_side(side[1], side[3], f"`{t}`", exq, depth)

    def _fold_insert_select(key, collist, sel: str,
                            depth: int) -> None:
        td = tables[key]
        t = td.name
        listed = (
            [_unquote_ident(c).lower()
             for c in _split_top_commas(collist.strip()[1:-1])]
            if collist and collist.strip() else
            [c.name.lower() for c in td.columns]
        )
        sel = sel.strip().rstrip(";")
        src = (f"FROM ({sel}) AS _trgsrc("
               + ", ".join(f"`{c}`" for c in listed) + ")")
        newmap = {}
        for c in td.columns:
            cl = c.name.lower()
            if cl in listed:
                newmap[cl] = f"_trgsrc.`{c.name}`"
            else:
                newmap[cl] = (
                    c.default if c.default is not None else "NULL")
        sides: list = []
        for x in trigs(key, "INSERT", "BEFORE"):
            _trg_apply(x[3], newmap, None, sides)
        for x in trigs(key, "INSERT", "AFTER"):
            _trg_apply(x[3], newmap, None, sides, mutate_new=False)
        proj = ", ".join(newmap[c.name.lower()] for c in td.columns)
        cols = ", ".join(f"`{c.name}`" for c in td.columns)
        emit(f"INSERT INTO `{t}` ({cols}) SELECT {proj} {src}")
        for side in sides:
            if side[0] == "var":
                emit_fold_var(side[1], side[2], side[3], src, None, td)
            else:
                dml = side[1]
                im = re.match(
                    r"(?is)^\s*INSERT\s+(?:INTO\s+)?(`[^`]+`|[\w.]+)"
                    r"\s*(\([^()]*\))?\s*VALUES\s*\((.*)\)\s*$", dml)
                if not im:
                    raise ValueError(
                        f"unsupported trigger DML: {dml[:60]}")
                handle(Statement(
                    f"INSERT INTO {im.group(1)} {im.group(2) or ''} "
                    f"SELECT {im.group(3)} {src}{_wh(side[3])}"
                ), depth + 1)

    def _fold_insert_values(key, s: str, ivm, expect_error: bool,
                            depth: int) -> None:
        td = tables[key]
        ignore = bool(ivm.group(1))
        ondup = ivm.group(6)
        td2 = _copy.deepcopy(td)
        plain = re.sub(r"(?is)\s+ON\s+DUPLICATE\s+KEY\s+UPDATE\s+.+$",
                       "", s)
        plain = re.sub(r"(?is)^(\s*INSERT)\s+IGNORE\b", r"\1", plain)
        _td, rows = _parse_insert_values(
            {key[1]: td2}, _strip_tbl_db(plain, key), strict=False)
        td.next_auto = td2.next_auto
        names = [c.name for c in td.columns]
        t = f"`{td.name}`"
        pk = list(td.pk or ())
        before_i = trigs(key, "INSERT", "BEFORE")
        after_i = trigs(key, "INSERT", "AFTER")
        before_u = trigs(key, "UPDATE", "BEFORE")
        after_u = trigs(key, "UPDATE", "AFTER")
        collist = f"({', '.join(names)})"

        if not ignore and not ondup:
            # plain multi-row insert: transform tuples, sides after
            new_tuples, sides_all = [], []
            for row in rows:
                newmap = {
                    n.lower(): v for n, v in zip(names, row)
                }
                sides: list = []
                for x in before_i:
                    _trg_apply(x[3], newmap, None, sides)
                for x in after_i:
                    _trg_apply(x[3], newmap, None, sides,
                               mutate_new=False)
                new_tuples.append(
                    "(" + ", ".join(
                        newmap[n.lower()] for n in names) + ")")
                sides_all.extend(sides)
            emit(
                f"INSERT INTO {t} {collist} VALUES "
                + ", ".join(new_tuples), expect_error,
            )
            if not expect_error:
                # a failing statement rolls its trigger effects back
                for side in sides_all:
                    perrow_side(side, depth)
            return
        # IGNORE / ON DUPLICATE: per-tuple emission with PK dup probes
        if not pk:
            raise ValueError(
                "trigger: IGNORE/ON DUPLICATE without PRIMARY KEY")
        for row in rows:
            newmap = {n.lower(): v for n, v in zip(names, row)}
            sides: list = []
            for x in before_i:
                _trg_apply(x[3], newmap, None, sides)
            dup = " AND ".join(
                f"`{p}` = ({newmap[p.lower()]})" for p in pk
            )
            dupg = f"EXISTS(SELECT 1 FROM {t} WHERE {dup})"
            if ondup:
                # the duplicate branch fires UPDATE triggers; OLD.*
                # reads the matched row via PK scalar subqueries
                def oldv(col: str) -> str:
                    return (f"(SELECT `{col}` FROM {t} "
                            f"WHERE {dup})")

                umap = {c.name.lower(): oldv(c.name)
                        for c in td.columns}
                for a in _split_top_commas(ondup):
                    am = re.match(
                        r"(?is)^\s*(`[^`]+`|\w+)\s*=\s*(.+)$", a)
                    if not am:
                        raise ValueError(
                            f"trigger: bad ON DUPLICATE {a[:40]}")
                    cn = _unquote_ident(am.group(1)).lower()
                    e = am.group(2).strip()
                    e = re.sub(
                        r"(?i)\bVALUES\s*\(\s*(`[^`]+`|\w+)\s*\)",
                        lambda m: f"({newmap[_unquote_ident(m.group(1)).lower()]})",
                        e)
                    e = re.sub(
                        r"(?<![\w`.])(" + "|".join(
                            re.escape(c.name) for c in td.columns
                        ) + r")(?![\w`(])",
                        lambda m: f"({oldv(m.group(1))})", e)
                    umap[cn] = e
                for x in before_u:
                    _trg_apply(x[3], umap, oldv, sides,
                               guard=dupg)
                for x in after_u:
                    _trg_apply(x[3], umap, oldv, sides,
                               guard=dupg, mutate_new=False)
                for x in after_i:
                    _trg_apply(x[3], newmap, None, sides,
                               guard=_g_not(dupg),
                               mutate_new=False)
            else:  # IGNORE: AFTER INSERT only for actually-new rows
                for x in after_i:
                    _trg_apply(x[3], newmap, None, sides,
                               guard=_g_not(dupg),
                               mutate_new=False)
            if not expect_error:
                for side in sides:
                    perrow_side(side, depth)
            tup = "(" + ", ".join(
                newmap[n.lower()] for n in names) + ")"
            kw = "INSERT IGNORE" if ignore else "INSERT"
            tail = (f" ON DUPLICATE KEY UPDATE {ondup.strip()}"
                    if ondup else "")
            emit(f"{kw} INTO {t} {collist} VALUES {tup}{tail}",
                 expect_error)

    def _strip_tbl_db(stmt: str, key: tuple) -> str:
        # _parse_insert_values resolves by bare name
        return re.sub(
            rf"(?i)\b{re.escape(key[0])}\s*\.\s*", "", stmt, count=1
        ) if f"{key[0]}." in stmt.lower() else stmt

    for st in stmts:
        handle(st)
    return out


def _batch_single_inserts(stmts: list[Statement]) -> list[Statement]:
    """Merge maximal runs of consecutive single-row ``INSERT INTO t
    [(cols)] VALUES (…)`` statements into ONE multi-row INSERT per
    (table, column-list), preserving per-table row order — a
    mysqltest-unrolled generator loop (insert.test: 5600 rows) costs
    three distributed writes, not 5600.  Runs break at any non-insert
    statement or --error leg, so strict-mode duplicate-key semantics
    (statement granularity) are unchanged."""
    out: list[Statement] = []
    i = 0
    while i < len(stmts):
        m = (
            _INSERT_ONE_COLS.match(stmts[i].text)
            if not stmts[i].expect_error else None
        )
        if not m:
            out.append(stmts[i])
            i += 1
            continue
        groups: dict[tuple, list[str]] = {}
        order: list[tuple] = []
        j = i
        while j < len(stmts) and not stmts[j].expect_error:
            mm = _INSERT_ONE_COLS.match(stmts[j].text)
            if not mm:
                break
            # Never merge a tuple holding a scalar subquery (regrouping
            # per-table would let it observe pre/post states that differ
            # from sequential execution) or a bare NULL (synthesizing a
            # multi-row INSERT would downgrade MySQL's hard single-row
            # 1048 to implicit-default storage in non-strict sessions) —
            # break the run so such statements execute standalone
            if re.search(r"(?i)\b(SELECT|NULL)\b", mm.group(3)):
                break
            key = (
                _unquote_ident(mm.group(1)).lower(),
                re.sub(r"\s+", "", (mm.group(2) or "").lower()),
            )
            if key not in groups:
                groups[key] = []
                order.append((key, mm.group(1), (mm.group(2) or "").strip()))
            groups[key].append(mm.group(3))
            j += 1
        if j - i < 2:
            out.append(stmts[i])
            i += 1
            continue
        for key, tname, cols in order:
            head = f"INSERT INTO {tname} {cols} VALUES " if cols else \
                f"INSERT INTO {tname} VALUES "
            out.append(Statement(head + ", ".join(groups[key]), False))
        i = j
    return out


_MTR_LET = re.compile(r"^let\s+\$(\w+)\s*=\s*(.+?)\s*;?\s*$", re.I)
_MTR_DECINC = re.compile(r"^(dec|inc)\s+\$(\w+)\s*;?\s*$", re.I)
_MTR_WHILE = re.compile(r"^while\s*\(\s*\$(\w+)\s*\)\s*(\{)?\s*$", re.I)
_MTR_NOOP = re.compile(
    r"^(disable|enable)_(query_log|result_log|info|warnings|ps_protocol"
    r"|metadata)\s*;?\s*$",
    re.I,
)


def _expand_mysqltest_loops(script: str) -> str:
    """Interpret mysqltest's scripting layer — ``let $v = n;``,
    ``while ($v) { … }``, ``dec/inc $v;``, ``eval STMT`` with $var
    substitution, bare dis/enable_query_log — by unrolling it to plain
    SQL text (insert.test's 5600-row nested generator loops;
    mysqltest source: client/mysqltest.cc do_let/do_loop).  Scripts
    without a while-loop pass through untouched except for dropping
    the bare no-op directives."""
    if not re.search(r"(?im)^\s*(while\s*\(\s*\$|let\s+\$|disable_query_log)",
                     script):
        return script
    lines = script.splitlines()
    out: list[str] = []
    mvars: dict[str, str] = {}

    def subst(text: str) -> str:
        return re.sub(
            r"\$(\w+)",
            lambda m: mvars.get(m.group(1), m.group(0)),
            text,
        )

    def run_lines(seg: list[str], guard: list[int]) -> None:
        i = 0
        while i < len(seg):
            st = seg[i].strip()
            m = _MTR_LET.match(st)
            if m:
                mvars[m.group(1)] = subst(m.group(2))
                i += 1
                continue
            m = _MTR_DECINC.match(st)
            if m:
                delta = 1 if m.group(1).lower() == "inc" else -1
                mvars[m.group(2)] = str(int(mvars[m.group(2)]) + delta)
                i += 1
                continue
            m = _MTR_WHILE.match(st)
            if m:
                j = i + 1
                if not m.group(2):  # '{' on its own next line
                    while j < len(seg) and seg[j].strip() != "{":
                        j += 1
                    j += 1
                # body bounds within seg
                depth, k = 1, j
                while k < len(seg) and depth:
                    s2 = seg[k].strip()
                    depth += s2.count("{") - s2.count("}")
                    if depth == 0:
                        break
                    k += 1
                body = seg[j:k]
                while int(float(mvars.get(m.group(1), "0") or "0")):
                    guard[0] += 1
                    if guard[0] > 1_000_000:
                        raise ValueError("mysqltest while guard exceeded")
                    run_lines(list(body), guard)
                i = k + 1
                continue
            if _MTR_NOOP.match(st):
                i += 1
                continue
            em = re.match(r"^eval\s+(.*)$", st, re.I)
            out.append(subst(em.group(1)) if em else seg[i])
            i += 1

    run_lines(lines, [0])
    return "\n".join(out)


def _norm_eval(text: str) -> str:
    """MTR ``eval STMT`` prefix: strip it and substitute the standard
    $MYSQL_TEST_DIR variable (the only MTR variable the corpus's
    LOAD DATA fixtures use) so the statement is plain SQL."""
    m = re.match(r"^eval\s+(.*)$", text, re.I | re.S)
    if m:
        text = m.group(1).replace("$MYSQL_TEST_DIR", MYSQL_TEST_DIR)
    return text


# ---------------------------------------------------------------------------
# CREATE TABLE parsing

_INT_TYPES = {"tinyint", "smallint", "mediumint", "int", "integer", "bigint"}

# MySQL type → (Spark DDL type, DuckDB cast type)
_TYPE_MAP = {
    "tinyint": ("TINYINT", "TINYINT"),
    "smallint": ("SMALLINT", "SMALLINT"),
    "mediumint": ("INT", "INTEGER"),
    "int": ("INT", "INTEGER"),
    "integer": ("INT", "INTEGER"),
    "bigint": ("BIGINT", "BIGINT"),
    "double": ("DOUBLE", "DOUBLE"),
    "real": ("DOUBLE", "DOUBLE"),
    "float": ("FLOAT", "FLOAT"),
    "char": ("STRING", "VARCHAR"),  # MySQL CHAR strips pad spaces on read
    "varchar": ("STRING", "VARCHAR"),
    "tinytext": ("STRING", "VARCHAR"),
    "text": ("STRING", "VARCHAR"),
    "mediumtext": ("STRING", "VARCHAR"),
    "longtext": ("STRING", "VARCHAR"),
    "enum": ("STRING", "VARCHAR"),
    "set": ("STRING", "VARCHAR"),
    "datetime": ("TIMESTAMP", "TIMESTAMP"),
    "timestamp": ("TIMESTAMP", "TIMESTAMP"),
    "date": ("DATE", "DATE"),
    # MySQL TIME is a duration (up to ±838h); neither engine has a
    # matching type — store the literal text
    "time": ("STRING", "VARCHAR"),
    "year": ("SMALLINT", "SMALLINT"),
    # MySQL BIT(n) is an n-bit unsigned value; both engines store the
    # numeric value (the corpus reads it as bit+0; b'…' literals fold
    # to integers in the recode pass)
    "bit": ("BIGINT", "BIGINT"),
    "blob": ("BINARY", "BLOB"),
    "tinyblob": ("BINARY", "BLOB"),
    "mediumblob": ("BINARY", "BLOB"),
    "longblob": ("BINARY", "BLOB"),
    "varbinary": ("BINARY", "BLOB"),
    "binary": ("BINARY", "BLOB"),
    "decimal": ("DECIMAL", "DECIMAL"),
    "dec": ("DECIMAL", "DECIMAL"),
    "numeric": ("DECIMAL", "DECIMAL"),
    # MySQL INTn byte-width aliases (integer_range.test uses them)
    "int1": ("TINYINT", "TINYINT"),
    "int2": ("SMALLINT", "SMALLINT"),
    "int3": ("INT", "INTEGER"),
    "int4": ("INT", "INTEGER"),
    "int8": ("BIGINT", "BIGINT"),
    "bool": ("TINYINT", "TINYINT"),
    "boolean": ("TINYINT", "TINYINT"),
}

_INT_ALIAS = {  # canonical base type for range checks
    "int1": "tinyint", "int2": "smallint", "int3": "mediumint",
    "int4": "int", "int8": "bigint", "integer": "int",
    "bool": "tinyint", "boolean": "tinyint",
}

_UNSIGNED_WIDEN = {  # MySQL unsigned → next-wider signed type
    "tinyint": ("SMALLINT", "SMALLINT"),
    "smallint": ("INT", "INTEGER"),
    "mediumint": ("INT", "INTEGER"),
    "int": ("BIGINT", "BIGINT"),
    "integer": ("BIGINT", "BIGINT"),
    "bigint": ("DECIMAL(20,0)", "DECIMAL(20,0)"),
}


@dataclass
class ColumnDef:
    name: str
    spark_type: str
    duck_type: str
    default: str | None  # literal text, or None (implicit NULL)
    fsp: int = 0  # DATETIME/TIMESTAMP fractional-seconds precision
    mysql_type: str = ""  # lowercased declared base type ('time', …)
    autoinc: bool = False
    unsigned: bool = False
    zerofill: int = 0  # display width when ZEROFILL declared, else 0
    notnull: bool = False
    char_width: int = 0  # declared CHAR/VARCHAR width (0 = unlimited)
    charset: str = ""  # column charset ('' = utf8mb4, accepts all)
    decl: str = ""  # normalized declared MySQL type (SHOW CREATE)
    on_update_ts: bool = False  # ON UPDATE CURRENT_TIMESTAMP


@dataclass
class TableDef:
    name: str
    columns: list[ColumnDef]
    pk: list[str] = field(default_factory=list)
    next_auto: int = 1  # AUTO_INCREMENT counter (resets with the table)
    engine: str = "tianmu"  # integer domains differ vs innodb/myisam
    temporary: bool = False
    # literal-PK tuples seen so far, for the 1062 duplicate-key analog;
    # None once a DELETE/UPDATE makes the python-side view stale
    seen_pk: set | None = field(default_factory=set)
    charset: str = ""  # table DEFAULT CHARSET ('' = server latin1)
    # lower-cased temporal columns holding a stored zero date (the
    # 0001-01-01 sentinel): under strict + NO_ZERO_DATE, DML whose
    # WHERE touches such a column re-validates the zero date and
    # raises 1292 (issue682 NZD section)
    zero_temporal: set = field(default_factory=set)


_CONSTRAINT_PREFIX = re.compile(
    r"^\s*(PRIMARY\s+KEY|UNIQUE\s+KEY|UNIQUE\s+INDEX|UNIQUE(?=\s*\()|"
    r"KEY|INDEX|CONSTRAINT|FOREIGN\s+KEY|FULLTEXT|CHECK)\b",
    re.I,
)


def _split_top_commas(text: str) -> list[str]:
    parts, depth, buf, in_str = [], 0, [], None
    for ch in text:
        if in_str:
            buf.append(ch)
            if ch == in_str:
                in_str = None
        elif ch in ("'", '"'):
            in_str = ch
            buf.append(ch)
        elif ch == "(":
            depth += 1
            buf.append(ch)
        elif ch == ")":
            depth -= 1
            buf.append(ch)
        elif ch == "," and depth == 0:
            parts.append("".join(buf).strip())
            buf = []
        else:
            buf.append(ch)
    last = "".join(buf).strip()
    if last:
        parts.append(last)
    return parts


def _unquote_ident(tok: str) -> str:
    tok = tok.strip()
    if tok.startswith("`") and tok.endswith("`"):
        return tok[1:-1]
    return tok


_INT_DISPLAY = {  # MySQL implicit display widths (signed, unsigned)
    "tinyint": (4, 3), "smallint": (6, 5), "mediumint": (9, 8),
    "int": (11, 10), "bigint": (20, 20),
}


def _mysql_decl_text(
    base: str, canon: str, args: str, unsigned: bool, zerofill: bool
) -> str:
    """The normalized declared type MySQL prints in SHOW CREATE TABLE
    / DESCRIBE (sql/field.cc Field::sql_type): implicit int display
    widths, decimal(10,0) default, year(4), char(1)."""
    a = re.sub(r"\s+", "", args or "")
    t = canon
    if canon in _INT_DISPLAY:
        wm = re.match(r"\((\d+)\)", a)
        w = int(wm.group(1)) if wm else _INT_DISPLAY[canon][1 if unsigned else 0]
        t = f"{canon}({w})"
    elif canon in ("decimal",):
        t = f"decimal{a or '(10,0)'}"
    elif canon == "year":
        t = f"year{a or '(4)'}"
    elif canon == "char" and not a:
        t = "char(1)"
    elif canon == "bit":
        t = f"bit{a or '(1)'}"
    elif a:
        t = f"{canon}{a}"
    if unsigned:
        t += " unsigned"
    if zerofill:
        t += " zerofill"
    return t


def _col_decl(c: ColumnDef) -> str:
    """Declared type of a column, derived from the recorded fields when
    the CREATE-time text was not captured (ALTER-added / CTAS
    columns)."""
    if c.decl:
        return c.decl
    canon = c.mysql_type or c.spark_type.lower()
    args = ""
    dm = re.match(r"DECIMAL(\(.*\))", c.spark_type, re.I)
    if dm:
        canon, args = "decimal", dm.group(1)
    elif canon in ("char", "varchar") and c.char_width:
        args = f"({c.char_width})"
    elif canon == "bit":
        args = f"({c.char_width or 1})"
    elif not c.mysql_type:
        canon = {
            "INT": "int", "BIGINT": "bigint", "SMALLINT": "smallint",
            "TINYINT": "tinyint", "DOUBLE": "double", "FLOAT": "float",
            "STRING": "text", "DATE": "date", "TIMESTAMP": "datetime",
            "BINARY": "blob",
        }.get(c.spark_type.upper(), c.spark_type.lower())
    return _mysql_decl_text(canon, canon, args, c.unsigned,
                            bool(c.zerofill))


def _show_create_text(td: TableDef) -> str:
    """MySQL's SHOW CREATE TABLE rendering (create_table.result,
    alter_table.result shapes)."""
    lines = []
    for c in td.columns:
        ln = f"  `{c.name}` {_col_decl(c)}"
        if c.charset and c.charset != (td.charset or "latin1"):
            ln += f" CHARACTER SET {c.charset}"
        if c.notnull:
            ln += " NOT NULL"
        elif c.default is None and not c.autoinc:
            ln += " DEFAULT NULL"
        if c.default is not None:
            dv = c.default
            if dv.upper() in ("CURRENT_TIMESTAMP",):
                ln += " DEFAULT CURRENT_TIMESTAMP"
            else:
                if not (dv.startswith("'") or dv.startswith('"')):
                    dv = f"'{dv}'"
                ln += f" DEFAULT {_dquote_to_squote(dv)}"
        if c.on_update_ts:
            ln += " ON UPDATE CURRENT_TIMESTAMP"
        if c.autoinc:
            ln += " AUTO_INCREMENT"
        lines.append(ln)
    if td.pk:
        lines.append(
            "  PRIMARY KEY (" + ",".join(f"`{k}`" for k in td.pk) + ")"
        )
    return (
        f"CREATE TABLE `{td.name}` (\n" + ",\n".join(lines) +
        f"\n) ENGINE={td.engine.upper()} "
        f"DEFAULT CHARSET={td.charset or 'latin1'}"
    )


def _describe_rows(td: TableDef) -> list[tuple]:
    """DESCRIBE / SHOW COLUMNS rows: Field, Type, Null, Key, Default,
    Extra."""
    rows = []
    for c in td.columns:
        extra = "auto_increment" if c.autoinc else (
            "on update CURRENT_TIMESTAMP" if c.on_update_ts else ""
        )
        dv = c.default
        if dv is not None:
            dv = _unquote_strlit(dv)
        rows.append((
            c.name, _col_decl(c),
            "NO" if c.notnull else "YES",
            "PRI" if c.name in td.pk else "",
            dv, extra,
        ))
    return rows


def _unquote_strlit(v: str) -> str:
    s = v.strip()
    if len(s) >= 2 and s[0] in "'\"" and s[-1] == s[0]:
        return s[1:-1].replace(s[0] * 2, s[0])
    return s


def _creates_temporary(stmt: str) -> bool:
    return bool(re.match(r"\s*CREATE\s+TEMPORARY\b", stmt, re.I))


def parse_create_table(stmt: str) -> TableDef:
    m = re.match(
        r"CREATE\s+(?:TEMPORARY\s+)?TABLE\s+(?:IF\s+NOT\s+EXISTS\s+)?"
        r"(`[^`]+`|\w+)\s*\((.*)\)\s*(\w.*)?$",
        stmt.strip(),
        re.I | re.S,
    )
    if not m:
        raise ValueError(f"unparsable CREATE TABLE: {stmt[:120]}")
    name = _unquote_ident(m.group(1))
    if len(name) > 64:
        raise ValueError(
            f"Identifier name '{name[:40]}…' is too long "
            f"(MySQL error 1059 analog)"
        )
    if not name:
        raise ValueError(
            "Incorrect table name '' (MySQL error 1103 analog)"
        )
    if name.startswith("#mysql50#"):
        # the pre-5.1 escape prefix: tianmu's handler refuses it with
        # "Got error from storage engine" (issue487)
        raise ValueError(
            f"Got error 1 from storage engine creating '{name[:30]}' "
            f"(MySQL error 1030 analog)"
        )
    if name != name.strip():
        raise ValueError(
            f"Incorrect table name '{name}' (MySQL error 1103 analog)"
        )
    body = m.group(2)
    cols: list[ColumnDef] = []
    pk: list[str] = []
    keycols: list[str] = []
    for part in _split_top_commas(body):
        if _CONSTRAINT_PREFIX.match(part):
            pm = re.match(r"\s*PRIMARY\s+KEY\s*\(([^)]*)\)", part, re.I)
            if pm:
                pk = [
                    _unquote_ident(c) for c in _split_top_commas(pm.group(1))
                ]
            km = re.match(
                r"\s*(?:UNIQUE\s+)?(?:KEY|INDEX)\s*\w*\s*\(([^)]*)\)",
                part, re.I,
            )
            if km:
                keycols += [
                    _unquote_ident(c).lower()
                    for c in _split_top_commas(km.group(1))
                ]
            continue
        cm = re.match(r"\s*(`[^`]+`|\w+)\s+(\w+)(\s*\([^)]*\))?(.*)$", part, re.S)
        if not cm:
            raise ValueError(f"unparsable column def: {part!r}")
        cname = _unquote_ident(cm.group(1))
        if len(cname) > 64:
            raise ValueError(
                f"Identifier name '{cname[:40]}…' is too long "
                f"(MySQL error 1059 analog)"
            )
        if not cname:
            raise ValueError(
                "Incorrect column name '' (MySQL error 1166 analog)"
            )
        base = cm.group(2).lower()
        args = (cm.group(3) or "").strip()
        rest = cm.group(4) or ""
        unsigned = bool(re.search(r"\bUNSIGNED\b", rest, re.I))
        if base not in _TYPE_MAP:
            raise ValueError(f"unsupported MySQL type: {base}")
        canon = _INT_ALIAS.get(base, base)
        zerofill = 0
        if re.search(r"\bZEROFILL\b", rest, re.I):
            unsigned = True  # MySQL: ZEROFILL implies UNSIGNED
            wm = re.match(r"\(\s*(\d+)\s*\)", args)
            # declared display width (N) wins; else the type's default
            # unsigned width (ref: MySQL 5.7 numeric type attributes)
            zerofill = int(wm.group(1)) if wm else {
                "tinyint": 3, "smallint": 5, "mediumint": 8,
                "int": 10, "bigint": 20,
            }.get(canon, 10)
        if unsigned and canon in _UNSIGNED_WIDEN:
            stype, dtype = _UNSIGNED_WIDEN[canon]
        else:
            stype, dtype = _TYPE_MAP[base]
        if stype == "DECIMAL":  # keep (p,s); MySQL default is (10,0)
            args = args if args else "(10,0)"
            stype, dtype = f"DECIMAL{args}", f"DECIMAL{args}"
        dm = re.search(
            # bit-literal defaults first: DEFAULT b'10' must not lex as
            # the word 'b' (bit.test's SHOW CREATE + DEFAULT leg)
            r"\bDEFAULT\s+([bB]'[01]*'|[xX]'[0-9A-Fa-f]*'"
            r"|'(?:[^']|'')*'|\"(?:[^\"]|\"\")*\"|[\w.+-]+)",
            rest,
            re.I,
        )
        default = None
        if dm and dm.group(1).upper() != "NULL":
            default = dm.group(1)
        if re.search(r"\bPRIMARY\s+KEY\b", rest, re.I):
            pk = [cname]
        fsp = 0
        if base in ("datetime", "timestamp", "time") and args:
            fm = re.match(r"\(\s*(\d+)\s*\)", args)
            if fm:
                fsp = int(fm.group(1))
        cw = 0
        if canon in ("char", "varchar") and args:
            wm2 = re.match(r"\(\s*(\d+)\s*\)", args)
            if wm2:
                cw = int(wm2.group(1))
        if canon == "bit":
            wm2 = re.match(r"\(\s*(\d+)\s*\)", args or "")
            cw = int(wm2.group(1)) if wm2 else 1  # BIT defaults to (1)
            if cw > 64 or cw < 1:
                raise ValueError(
                    f"Display width out of range for column "
                    f"'{cname}' (BIT range 1..64; MySQL error 1439 "
                    f"analog)"
                )
        csm = re.search(
            r"\bCHARACTER\s+SET\s+(\w+)|\bCHARSET\s+(\w+)", rest, re.I
        )
        _autoinc_ = bool(re.search(r"\bAUTO_INCREMENT\b", rest, re.I))
        if default is not None:
            # MySQL 1067: invalid DEFAULT — AUTO_INCREMENT cols take no
            # default; numeric defaults must fit the declared range;
            # string defaults must fit the declared width
            # (create_table.test)
            bad = _autoinc_
            dlit = _decode_strlit(default)
            canon_base = _INT_ALIAS.get(base, base)
            if not bad and canon_base in _STRICT_INT_RANGES and \
                    re.fullmatch(r"[+-]?\d+", default.strip()):
                lo, hi = (
                    _STRICT_UINT_RANGES if unsigned else _STRICT_INT_RANGES
                )[canon_base]
                bad = not (lo <= int(default) <= hi)
            if not bad and cw and dlit is not None and len(dlit) > cw:
                bad = True
            if bad:
                raise ValueError(
                    f"Invalid default value for '{cname}' "
                    f"(MySQL error 1067 analog)"
                )
        cols.append(
            ColumnDef(
                cname, stype, dtype, default, fsp, canon,
                bool(re.search(r"\bAUTO_INCREMENT\b", rest, re.I)),
                unsigned, zerofill,
                bool(re.search(r"\bNOT\s+NULL\b", rest, re.I)),
                cw,
                (csm.group(1) or csm.group(2)).lower() if csm else "",
                _mysql_decl_text(base, canon, args, unsigned,
                                 bool(re.search(r"\bZEROFILL\b", rest, re.I))),
                bool(re.search(
                    r"\bON\s+UPDATE\s+CURRENT_TIMESTAMP\b", rest, re.I
                )),
            )
        )
    td = TableDef(name, cols, pk)
    td.temporary = _creates_temporary(stmt)
    am = re.search(r"\bAUTO_INCREMENT\s*=\s*(\d+)", stmt, re.I)
    if am:  # table option seeds the counter (init_auto_increment_value)
        td.next_auto = int(am.group(1))
    em = re.search(r"\bENGINE\s*=\s*(\w+)", stmt, re.I)
    if em:
        td.engine = em.group(1).lower()
    # table DEFAULT CHARACTER SET fills columns with no explicit one
    # (different_charsets_a.test's per-section tables); the tail regex
    # must not re-match a COLUMN-level clause, so scan the text after
    # the closing paren of the column list
    tail_cs = re.search(
        r"\)\s*[^()]*?(?:DEFAULT\s+)?(?:CHARACTER\s+SET|CHARSET)\s*=?\s*"
        r"(\w+)[^()]*$",
        stmt, re.I | re.S,
    )
    if tail_cs:
        td.charset = tail_cs.group(1).lower()
        for c in cols:
            if not c.charset and c.mysql_type in (
                "char", "varchar", "text", "tinytext", "mediumtext",
                "longtext", "enum", "set",
            ):
                c.charset = tail_cs.group(1).lower()
    if td.engine == "tianmu" and not td.temporary:
        # TEMPORARY tables live outside the tianmu core (create_tmp.test
        # accepts DECIMAL(38,10) there) — the 18-digit cap is engine-side
        for c in cols:
            _check_tianmu_decimal(c)
        by_name = {c.name.lower(): c for c in cols}
        for kc in keycols:
            if kc in by_name and by_name[kc].mysql_type == "bit":
                # tianmu rejects secondary keys over BIT (bit.test's
                # --error CREATE TABLE (a BIT(13), KEY(a)))
                raise ValueError(
                    f"BIT column '{kc}' used in key specification "
                    f"(tianmu engine restriction analog)"
                )
    return td


def _check_tianmu_decimal(c: ColumnDef) -> None:
    """The reference caps DECIMAL precision at 18 digits (its decimal
    lives in the int64 core) — DDL beyond that errors (alter_column.test
    '--error 6' on numeric(20,10))."""
    if c.mysql_type not in ("decimal", "dec", "numeric"):
        return  # unsigned-bigint widening uses DECIMAL(20,0) internally
    dm = re.match(r"DECIMAL\((\d+)", c.spark_type, re.I)
    if dm and int(dm.group(1)) > 18:
        raise ValueError(
            f"DECIMAL precision {dm.group(1)} exceeds the tianmu "
            f"18-digit cap for column '{c.name}' (engine error 6 analog)"
        )


# ---------------------------------------------------------------------------
# expression-level rewrites shared by SELECT / INSERT..SELECT / WHERE text

_MYSQL_DATEFMT = [  # order matters: %% first
    ("%%", "\x00"),
    ("%Y", "yyyy"), ("%y", "yy"), ("%M", "MMMM"), ("%b", "MMM"),
    ("%m", "MM"), ("%c", "M"), ("%d", "dd"), ("%e", "d"),
    ("%H", "HH"), ("%k", "H"), ("%h", "hh"), ("%I", "hh"),
    ("%i", "mm"), ("%S", "ss"), ("%s", "ss"), ("%f", "SSSSSS"),
    ("%p", "a"), ("%W", "EEEE"), ("%a", "EEE"), ("%j", "DDD"),
    ("%r", "hh:mm:ss a"), ("%T", "HH:mm:ss"),
]


def _mysql_datefmt_to_java(fmt: str) -> str:
    out = fmt
    for k, v in _MYSQL_DATEFMT:
        out = out.replace(k, v)
    return out.replace("\x00", "%")


def _rewrite_group_concat(sql: str, engine: str) -> str:
    """GROUP_CONCAT([DISTINCT] expr [ORDER BY …] [SEPARATOR 'x']) →
    Spark listagg / DuckDB string_agg."""
    out = []
    i = 0
    pat = re.compile(r"\bGROUP_CONCAT\s*\(", re.I)
    while True:
        m = pat.search(sql, i)
        if not m:
            out.append(sql[i:])
            break
        out.append(sql[i : m.start()])
        # find matching close paren
        depth, j, in_str = 1, m.end(), None
        while j < len(sql) and depth:
            ch = sql[j]
            if in_str:
                if ch == in_str:
                    in_str = None
            elif ch in ("'", '"'):
                in_str = ch
            elif ch == "(":
                depth += 1
            elif ch == ")":
                depth -= 1
            j += 1
        inner = sql[m.end() : j - 1]
        sep = ","
        sm = re.search(r"\s+SEPARATOR\s+('(?:[^']|'')*'|\"(?:[^\"]|\"\")*\")\s*$",
                       inner, re.I)
        if sm:
            sep = sm.group(1).strip("\"'")
            inner = inner[: sm.start()]
        order = ""
        om = re.search(r"\s+ORDER\s+BY\s+(.+)$", inner, re.I | re.S)
        if om:
            order = om.group(1).strip()
            inner = inner[: om.start()]
        distinct = ""
        dmm = re.match(r"\s*DISTINCT\s+", inner, re.I)
        if dmm:
            distinct = "DISTINCT "
            inner = inner[dmm.end() :]
        inner = inner.strip()
        if not order and not distinct:
            # MySQL's GROUP_CONCAT order without ORDER BY is storage
            # order — nondeterministic on a distributed engine.
            # Canonicalize: both engines sort by the concatenated
            # expression (issue1848; delta from the reference noted in
            # COVERAGE.md — its own order is storage-dependent).
            # DISTINCT keeps the engine default: Spark's listagg
            # rejects WITHIN GROUP alongside DISTINCT unless the
            # expressions are the same resolved instance.
            order = inner
        if engine == "spark":
            call = f"listagg({distinct}{inner}, '{sep}')"
            if order:
                call += f" WITHIN GROUP (ORDER BY {order})"
        else:
            if order:
                call = f"string_agg({distinct}{inner}, '{sep}' ORDER BY {order})"
            else:
                call = f"string_agg({distinct}{inner}, '{sep}')"
        out.append(call)
        i = j
    return "".join(out)


def _rewrite_div(sql: str, engine: str) -> str:
    """MySQL ``x DIV y`` (integer division, NULL on /0) per engine."""
    operand = r"(\((?:[^()]|\([^()]*\))*\)|'[^']*'|[\w.]+)"
    pat = re.compile(operand + r"\s+DIV\s+" + operand, re.I)

    def rep(m: re.Match) -> str:
        x, y = m.group(1), m.group(2)
        if engine == "spark":
            return (
                f"CAST(TRY_DIVIDE(CAST({x} AS DECIMAL(30,10)), {y}) AS BIGINT)"
            )
        return (
            f"CAST(TRUNC(CAST({x} AS DECIMAL(30,10)) / NULLIF({y}, 0)) AS BIGINT)"
        )

    prev = None
    while prev != sql:  # chained `a DIV b DIV c` resolves left-to-right
        prev = sql
        sql = pat.sub(rep, sql, count=1)
    return sql


def _rewrite_limit_comma(sql: str) -> str:
    return re.sub(
        r"\bLIMIT\s+(\d+)\s*,\s*(\d+)", r"LIMIT \2 OFFSET \1", sql, flags=re.I
    )


_ALIAS_STOPWORDS = {
    # a string literal after one of these is an operand, not an alias
    "LIKE", "RLIKE", "REGEXP", "IN", "BETWEEN", "AND", "OR", "NOT", "IS",
    "THEN", "ELSE", "WHEN", "ESCAPE", "SEPARATOR", "XOR", "BY", "VALUES",
    "WHERE", "HAVING", "ON", "SET", "RETURN", "CONTAINS", "DEFAULT",
    # a string right after these is a literal SELECT item, not an alias
    "SELECT", "DISTINCT", "ALL", "UNION", "EXCEPT", "INTERSECT",
}


def _rewrite_quoted_alias(sql: str, engine: str) -> str:
    """MySQL allows string-literal aliases (``AS 'Total Rows'`` and the
    implicit ``expr 'alias'`` before , / FROM).  Quote for the engine."""
    q = ("`", "`") if engine == "spark" else ('"', '"')
    sql = re.sub(
        r"\bAS\s+'([^']*)'", lambda m: f"AS {q[0]}{m.group(1)}{q[1]}", sql, flags=re.I
    )
    # ANSI_QUOTES-style double-quoted aliases (AS "x").  The duck path
    # already turned double quotes into single quotes above, so this
    # only fires for Spark, where "x" would parse as a string literal.
    sql = re.sub(
        r'\bAS\s+"([^"]*)"', lambda m: f"AS {q[0]}{m.group(1)}{q[1]}", sql, flags=re.I
    )
    pat = re.compile(r"([\w.)])[ \t]+'([^']*)'(?=\s*(?:,|FROM\b))", re.I)

    def rep(m: re.Match) -> str:
        wm = re.search(r"(\w+)$", sql[: m.start(1) + 1])
        if wm and wm.group(1).upper() in _ALIAS_STOPWORDS:
            return m.group(0)
        return f"{m.group(1)} {q[0]}{m.group(2)}{q[1]}"

    return pat.sub(rep, sql)


def _mysql_str_to_num(lit: str) -> str:
    m = re.match(r"\s*-?\d+(\.\d+)?([eE][+-]?\d+)?", lit)
    return m.group(0).strip() if m and m.group(0).strip() else "0"


def _decorrelate_on_subqueries(sql: str) -> str:
    """Spark refuses correlated scalar subqueries inside JOIN ON
    conditions (issue538's stored functions expanded in ON position:
    `LEFT JOIN employees b ON a.sal = (SELECT sal FROM employees
    WHERE id = b.id)`).  Pre-materialize each such subquery as a
    projected column of the joined relation — `LEFT JOIN (SELECT x.*,
    (SELECT … WHERE id = x.id) AS _dcN FROM employees x) b ON a.sal =
    b._dcN` — a projection-position correlation Catalyst decorrelates
    into a plain join."""
    if not re.search(r"(?i)\bJOIN\b", sql) or not re.search(
            r"(?i)\(\s*SELECT\b", sql):
        return sql
    jp = re.compile(
        r"(?i)\b((?:LEFT|RIGHT|INNER|CROSS)\s+(?:OUTER\s+)?)?"
        r"JOIN\s+(`?\w+`?)\s+(?:AS\s+)?(\w+)\s+ON\s+")
    out = sql
    for _ in range(4):  # several joins converge quickly
        changed = False
        for m in jp.finditer(out):
            alias = m.group(3)
            if alias.upper() in ("SELECT",):
                continue
            # span of the ON condition: to the next top-level keyword
            start = m.end()
            kw = _scan_token(
                out, start, 0,
                ("WHERE", "GROUP", "ORDER", "LIMIT", "JOIN", "LEFT",
                 "RIGHT", "INNER", "CROSS", "UNION", "HAVING"))
            end = kw if kw >= 0 else len(out)
            cond = out[start:end]
            # correlated scalar subqueries referencing ONLY this alias
            subs: list[str] = []
            newcond = cond
            i2 = 0
            while True:
                sm = re.search(r"\(\s*SELECT\b", newcond[i2:], re.I)
                if not sm:
                    break
                a0 = i2 + sm.start()
                depth, j2, in_str = 0, a0, None
                while j2 < len(newcond):
                    ch = newcond[j2]
                    if in_str:
                        if ch == in_str:
                            in_str = None
                    elif ch in ("'", '"'):
                        in_str = ch
                    elif ch == "(":
                        depth += 1
                    elif ch == ")":
                        depth -= 1
                        if depth == 0:
                            break
                    j2 += 1
                sub = newcond[a0:j2 + 1]
                quals = {
                    q.lower() for q in re.findall(
                        r"\b(\w+)\s*\.", _ANY_STRLIT.sub("''", sub))
                }
                if quals == {alias.lower()}:
                    subs.append(sub)
                    col = f"_dc{len(subs)}"
                    newcond = (newcond[:a0] + f"{alias}.{col}"
                               + newcond[j2 + 1:])
                    i2 = a0 + len(alias) + len(col) + 1
                else:
                    i2 = a0 + 2
            if not subs:
                continue
            projs = ", ".join(
                re.sub(rf"(?i)\b{re.escape(alias)}\s*\.", "_x.", s)
                + f" AS _dc{k + 1}"
                for k, s in enumerate(subs)
            )
            rel = (f"(SELECT _x.*, {projs} FROM {m.group(2)} _x) "
                   f"{alias}")
            out = (
                out[:m.start()]
                + (m.group(1) or "") + f"JOIN {rel} ON "
                + newcond
                + out[end:]
            )
            changed = True
            break  # restart scanning on the modified text
        if not changed:
            break
    return out


def _peel_join_operand_parens(sql: str) -> str:
    """MySQL accepts a parenthesized joined-table — ``JOIN ((SELECT …)
    AS ta) ON …`` (issue538); DuckDB wants ``JOIN (SELECT …) AS ta``.
    Peel the redundant outer parens when the operand is exactly one
    aliased derived table."""
    pat = re.compile(r"(?i)\bJOIN\s*\(")
    i = 0
    while True:
        m = pat.search(sql, i)
        if not m:
            return sql
        depth, j, in_str = 1, m.end(), None
        while j < len(sql) and depth:
            ch = sql[j]
            if in_str:
                if ch == in_str:
                    in_str = None
            elif ch in ("'", '"'):
                in_str = ch
            elif ch == "(":
                depth += 1
            elif ch == ")":
                depth -= 1
            j += 1
        inner = sql[m.end():j - 1].strip()
        im = re.fullmatch(
            r"(\((?:.|\n)*\))\s+(?:AS\s+)?(`[^`]+`|\w+)", inner, re.I)
        if im:
            # the captured group must itself be balanced (greedy
            # capture could otherwise split a paren pair)
            grp = im.group(1)
            bal, ins = 0, None
            ok = True
            for k2, ch in enumerate(grp):
                if ins:
                    if ch == ins:
                        ins = None
                elif ch in ("'", '"'):
                    ins = ch
                elif ch == "(":
                    bal += 1
                elif ch == ")":
                    bal -= 1
                    if bal == 0 and k2 != len(grp) - 1:
                        ok = False
                        break
            if ok and bal == 0:
                sql = (sql[:m.end() - 1] + grp + " AS "
                       + im.group(2) + sql[j:])
                i = m.end()
                continue
        i = m.end()
    return sql


def _rewrite_between_mix_duck(sql: str) -> str:
    """``X BETWEEN '<digits>' AND Y`` with a non-string Y → numeric
    comparison (MySQL's one-numeric-operand rule); string Y keeps
    MySQL's string comparison and is left alone (is_id_card)."""
    atom = (r"(\((?:[^()]|\([^()]*\))*\)|[\w.`]+"
            r"(?:\s*\((?:[^()]|\([^()]*\))*\))?)")
    pat = re.compile(atom + r"\s+BETWEEN\s+'(\d+)'\s+AND\s+", re.I)
    out, i = [], 0
    while True:
        m = pat.search(sql, i)
        if not m:
            out.append(sql[i:])
            break
        j = m.end()
        if j < len(sql) and sql[j] == "'":
            # string high bound → MySQL string comparison; skip past
            out.append(sql[i:j])
            i = j
            continue
        hm = re.match(r"[\w.`]+\s*\(", sql[j:])
        if hm:
            depth, k, in_str = 1, j + hm.end(), None
            while k < len(sql) and depth:
                ch = sql[k]
                if in_str:
                    if ch == in_str:
                        in_str = None
                elif ch in ("'", '"'):
                    in_str = ch
                elif ch == "(":
                    depth += 1
                elif ch == ")":
                    depth -= 1
                k += 1
            high = sql[j:k]
        else:
            hm2 = re.match(r"[\w.`]+", sql[j:])
            if not hm2:
                out.append(sql[i:j])
                i = j
                continue
            high = hm2.group(0)
            k = j + len(high)
        out.append(sql[i:m.start()])
        out.append(
            f"TRY_CAST({m.group(1)} AS DOUBLE) BETWEEN "
            f"{int(m.group(2))} AND ({high})"
        )
        i = k
    return "".join(out)


def _rewrite_str_num_compare(sql: str) -> str:
    """MySQL coerces a string compared to a number to its leading
    numeric prefix ('Decimal' >= -300 → 0 >= -300).  Spark ANSI would
    fault; substitute the MySQL coercion when BOTH sides are literals
    of mixed type."""
    num = r"-?\d+(?:\.\d+)?"

    def rep(m: re.Match) -> str:
        return f"{_mysql_str_to_num(m.group(1))} {m.group(2)} {m.group(3)}"

    sql = re.sub(
        rf"'([^']*)'\s*(>=|<=|<>|!=|=|<|>)\s*({num})\b", rep, sql
    )

    def rep2(m: re.Match) -> str:
        return f"{m.group(1)} {m.group(2)} {_mysql_str_to_num(m.group(3))}"

    sql = re.sub(
        rf"\b({num})\s*(>=|<=|<>|!=|=|<|>)\s*'([^']*)'", rep2, sql
    )
    return sql


def _rewrite_date_format(sql: str, engine: str) -> str:
    pat = re.compile(r"\bDATE_FORMAT\s*\(", re.I)
    out, i = [], 0
    while True:
        m = pat.search(sql, i)
        if not m:
            out.append(sql[i:])
            break
        out.append(sql[i : m.start()])
        depth, j, in_str = 1, m.end(), None
        while j < len(sql) and depth:
            ch = sql[j]
            if in_str:
                if ch == in_str:
                    in_str = None
            elif ch in ("'", '"'):
                in_str = ch
            elif ch == "(":
                depth += 1
            elif ch == ")":
                depth -= 1
            j += 1
        inner = sql[m.end() : j - 1]
        parts = _split_top_commas(inner)
        if len(parts) != 2:
            raise ValueError(f"DATE_FORMAT needs 2 args: {inner!r}")
        expr, fmt = parts
        flit = fmt.strip().strip("'\"")
        if engine == "spark":
            out.append(
                f"date_format(CAST({expr} AS TIMESTAMP), "
                f"'{_mysql_datefmt_to_java(flit)}')"
            )
        else:
            out.append(
                f"strftime(CAST({expr} AS TIMESTAMP), "
                f"'{_mysql_datefmt_to_strftime(flit)}')"
            )
        i = j
    return "".join(out)


# MySQL DATE_FORMAT codes whose C-strftime spelling DIFFERS — the rest
# (%Y %y %m %d %H %S %p %b %a %j %w %%) coincide and pass through.
# date_formats.test's ORDER BY date_format(f1, "%M") needs month NAME
# (%B in strftime), not minutes.
_MYSQL_TO_STRFTIME = {
    "M": "%B", "W": "%A", "i": "%M", "s": "%S", "c": "%-m", "e": "%-d",
    "k": "%-H", "h": "%I", "I": "%I", "l": "%-I", "f": "%f",
    "T": "%H:%M:%S", "r": "%I:%M:%S %p",
}


def _mysql_datefmt_to_strftime(fmt: str) -> str:
    return re.sub(
        r"%(.)",
        lambda m: _MYSQL_TO_STRFTIME.get(m.group(1), "%" + m.group(1)),
        fmt,
    )


_SUBDAY_UNITS = {"HOUR", "MINUTE", "SECOND", "MICROSECOND"}


def _rewrite_date_arith(sql: str, engine: str) -> str:
    """MySQL DATE_ADD/DATE_SUB(x, INTERVAL n UNIT) and the
    ADDDATE/SUBDATE(x, days) bare-integer form (mapped to this spelling
    upstream).  MySQL's result keeps the input's time-of-day: a
    datetime input (or datetime string) plus a day-coarse interval is
    still a DATETIME ('2020-02-02 22:22:22' + 1 → '2020-02-03
    22:22:22', AddDate_function.test:20).  Only a provably date-only
    string literal stays DATE; everything else computes in TIMESTAMP
    domain (a pure-DATE column then yields midnight timestamps, which
    the comparison canon treats as equal to DATE — value parity with
    MySQL is exact either way).  Invalid dates ('2017-02-29') yield
    NULL — TRY_CAST on both engines.  The interval is spelled
    ``(n) * INTERVAL 1 UNIT`` so negative n works on DuckDB (its
    INTERVAL literal parser rejects a unary minus inside the
    literal)."""
    pat = re.compile(r"\bDATE_(ADD|SUB)\s*\(", re.I)
    out, i = [], 0
    while True:
        m = pat.search(sql, i)
        if not m:
            out.append(sql[i:])
            break
        out.append(sql[i : m.start()])
        depth, j, in_str = 1, m.end(), None
        while j < len(sql) and depth:
            ch = sql[j]
            if in_str:
                if ch == in_str:
                    in_str = None
            elif ch in ("'", '"'):
                in_str = ch
            elif ch == "(":
                depth += 1
            elif ch == ")":
                depth -= 1
            j += 1
        inner = sql[m.end() : j - 1]
        parts = _split_top_commas(inner)
        if len(parts) != 2:
            raise ValueError(f"DATE_{m.group(1)} needs 2 args: {inner!r}")
        im = re.match(
            r"\s*INTERVAL\s+(.+?)\s+(\w+)\s*$", parts[1], re.I | re.S
        )
        if im:
            n, unit = im.group(1), im.group(2).upper()
        else:
            # ADDDATE/SUBDATE(x, days): bare second arg = days
            n, unit = parts[1].strip(), "DAY"
        expr = parts[0]
        sign = "-" if m.group(1).upper() == "SUB" else "+"
        if "_" in unit:
            # composite units (INTERVAL '12 10:11:12' DAY_SECOND,
            # issue464): the literal's numbers map onto the unit's
            # field span, rightmost = finest; fold to seconds/months
            lit = _decode_strlit(n)
            if lit is None:
                raise ValueError(f"composite INTERVAL needs a literal: {n}")
            nums = [int(x) for x in re.findall(r"\d+", lit)]
            fields = {
                "DAY_SECOND": (86400, 3600, 60, 1),
                "DAY_MINUTE": (86400, 3600, 60),
                "DAY_HOUR": (86400, 3600),
                "HOUR_SECOND": (3600, 60, 1),
                "HOUR_MINUTE": (3600, 60),
                "MINUTE_SECOND": (60, 1),
            }.get(unit)
            neg = "-" in lit.split(nums and str(nums[0]) or "")[0]
            if unit == "YEAR_MONTH":
                months = nums[0] * 12 + (nums[1] if len(nums) > 1 else 0)
                shift = f"{sign} ({'-' if neg else ''}{months})" \
                        f" * INTERVAL 1 MONTH"
            elif fields is None or len(nums) > len(fields):
                raise ValueError(f"unsupported INTERVAL unit {unit}")
            else:
                # fewer numbers than fields → rightmost (finest) units
                mul = fields[len(fields) - len(nums):]
                secs = sum(v * f for v, f in zip(nums, mul))
                shift = f"{sign} ({'-' if neg else ''}{secs})" \
                        f" * INTERVAL 1 SECOND"
        else:
            shift = f"{sign} ({n}) * INTERVAL 1 {unit}"
        dlit = re.match(r"\s*'([^']*)'\s*$", expr)
        if unit not in _SUBDAY_UNITS and dlit and not re.search(
            r"\d{1,2}:\d{1,2}", dlit.group(1)
        ):
            out.append(
                f"CAST(TRY_CAST({expr} AS DATE) {shift} AS DATE)"
            )
        else:
            out.append(f"(TRY_CAST({expr} AS TIMESTAMP) {shift})")
        i = j
    return "".join(out)


def _rewrite_cast_signed(sql: str) -> str:
    sql = re.sub(r"\bAS\s+SIGNED(\s+INTEGER)?\b", "AS BIGINT", sql, flags=re.I)
    sql = re.sub(
        r"\bAS\s+UNSIGNED(\s+INTEGER)?\b", "AS DECIMAL(20,0)", sql, flags=re.I
    )
    return sql


def _lenient_num(expr: str, engine: str, scale: int = 6) -> tuple[str, str, str]:
    """MySQL's lenient string→number reader as SQL: S = the text
    rendering, P = its leading numeric prefix ('' when none), N = the
    prefix as DECIMAL(38,scale) (NULL when it overflows 38 digits).
    ``[.]`` avoids backslashes so the pattern survives both engines'
    string-literal escaping rules."""
    vtype = "STRING" if engine == "spark" else "VARCHAR"
    s = f"TRIM(CAST(({expr}) AS {vtype}))"
    p = f"regexp_extract({s}, '^[+-]?[0-9]+([.][0-9]+)?', 0)"
    n = f"TRY_CAST({p} AS DECIMAL(38,{scale}))"
    return s, p, n


def _format_fn(inner: str, engine: str) -> str:
    """MySQL FORMAT(x, d) → thousands-grouped d-decimal string
    (func_math.test).  Spark's FORMAT_NUMBER is exact over DECIMAL;
    DuckDB lacks grouping, so group via reverse + regexp (RE2 has no
    lookahead) over the exact DECIMAL(38,d) rendering."""
    p = _split_top_commas(inner)
    if len(p) != 2 or not re.fullmatch(r"\d+", p[1].strip()):
        raise ValueError(f"FORMAT needs (x, literal d): {inner!r}")
    x, d = p[0].strip(), int(p[1])
    if engine == "spark":
        return f"FORMAT_NUMBER({x}, {d})"
    # TRY_CAST, not CAST: the later MySQL-CAST rewrite pass must not
    # reinterpret this generated cast as MySQL-lenient DECIMAL clamping
    t = f"TRY_CAST(TRY_CAST(({x}) AS DECIMAL(38,{d})) AS VARCHAR)"
    digits = f"(CASE WHEN {t} LIKE '-%' THEN SUBSTR({t}, 2) ELSE {t} END)"
    ip = (
        f"split_part({digits}, '.', 1)" if d else digits
    )
    grouped = (
        f"reverse(rtrim(regexp_replace(reverse({ip}), "
        f"'([0-9][0-9][0-9])', '\\1,', 'g'), ','))"
    )
    frac = f" || '.' || split_part({digits}, '.', 2)" if d else ""
    return (
        f"(CASE WHEN ({x}) IS NULL THEN NULL ELSE "
        f"(CASE WHEN {t} LIKE '-%' THEN '-' ELSE '' END)"
        f" || {grouped}{frac} END)"
    )


def _cast_mysql(inner: str, engine: str) -> str:
    """CAST(expr AS type) with MySQL 5.7 semantics (CastDataTypes.test):

    * AS SIGNED over a string never errors: '' / non-numeric prefix
      reads 0, fractional prefixes round half-away ('86.722'→87), and
      digit strings beyond int64 follow strtoull — reinterpreted as
      signed, saturating at ULLONG_MAX, hence the reference's
      CAST('111…1'×50 AS SIGNED) = -1 (tianmu result; MySQL's
      Item_func_signed over my_strtoll10).
    * AS CHAR(n) truncates to n characters (warning 1292 analog:
      silent here; values match).
    * AS DECIMAL(p,s) clamps out-of-range values to ±(10^(p-s)-10^-s)
      (warning 1264) and reads strings leniently; the (M<D), p>65 and
      s>30 declarations are hard errors 1427/1426/1425.
    Other target types pass through (the AS SIGNED→BIGINT fallback
    still runs later for forms this parser skips)."""
    m = re.match(r"^(.*\S)\s+AS\s+(\w+)\s*(?:\(\s*([^)]*?)\s*\))?\s*$",
                 inner, re.I | re.S)
    if not m:
        return f"CAST({inner})"
    # inner CASTs are already converted — _wrap_calls recurses into
    # argument text before invoking the wrapper
    expr = m.group(1)
    ttype = m.group(2).upper()
    targ = m.group(3)
    if ttype == "SIGNED":
        s, p, n = _lenient_num(expr, engine)
        return (
            f"(CASE"
            f" WHEN {s} IS NULL THEN CAST(NULL AS BIGINT)"
            f" WHEN {p} = '' OR {p} IS NULL THEN CAST(0 AS BIGINT)"
            f" WHEN {n} IS NULL THEN (CASE WHEN {p} LIKE '-%'"
            f"  THEN CAST(-9223372036854775808 AS BIGINT)"
            f"  ELSE CAST(-1 AS BIGINT) END)"
            f" WHEN {n} > 18446744073709551615 THEN CAST(-1 AS BIGINT)"
            f" WHEN {n} > 9223372036854775807"
            f"  THEN CAST({n} - 18446744073709551616 AS BIGINT)"
            f" WHEN {n} < -9223372036854775808"
            f"  THEN CAST(-9223372036854775808 AS BIGINT)"
            f" ELSE CAST(ROUND({n}, 0) AS BIGINT) END)"
        )
    if ttype == "UNSIGNED":
        if _is_bool_shaped(expr):
            # boolean → 0/1 (issue1942's CAST((c0 IS NULL) AS UNSIGNED))
            return f"CAST(CAST(({expr}) AS INT) AS DECIMAL(20,0))"
        # MySQL reinterprets negatives as two's-complement u64:
        # CAST(-2 AS UNSIGNED) = 18446744073709551614 (func_math.test).
        # The 2^64 literal rides inside a CAST so the 1690 guard's
        # adjacent-operator check never re-matches it when this
        # generated fragment re-enters rewrite_expr
        return (
            f"CAST((CASE WHEN ({expr}) < 0"
            f" THEN CAST(18446744073709551616 AS DECIMAL(21,0)) + ({expr})"
            f" ELSE ({expr}) END) AS DECIMAL(20,0))"
        )
    if ttype == "DATETIME":
        # Spark has no DATETIME spelling; TIMESTAMP is the analog on
        # both engines (type_timestamp.test's CAST(LEAST(…) AS DATETIME))
        return f"CAST(({expr}) AS TIMESTAMP)"
    if ttype == "CHAR" and targ and re.fullmatch(r"\d+", targ):
        vtype = "STRING" if engine == "spark" else "VARCHAR"
        return f"SUBSTR(CAST(({expr}) AS {vtype}), 1, {int(targ)})"
    if ttype in ("DECIMAL", "NUMERIC", "DEC"):
        if targ:
            parts = [t.strip() for t in targ.split(",")]
            prec = int(parts[0]) if parts[0] else 10
            scale = int(parts[1]) if len(parts) > 1 and parts[1] else 0
        else:
            prec, scale = 10, 0
        if prec > 65:
            raise ValueError(
                f"Too-big precision {prec} specified; maximum is 65 "
                f"(MySQL error 1426 analog)"
            )
        if scale > 30:
            raise ValueError(
                f"Too big scale {scale} specified; maximum is 30 "
                f"(MySQL error 1425 analog)"
            )
        if scale > prec:
            raise ValueError(
                f"For decimal(M,D), M ({prec}) must be >= D ({scale}) "
                f"(MySQL error 1427 analog)"
            )
        mx = ("9" * (prec - scale) or "0") + (
            "." + "9" * scale if scale else ""
        )
        s, p, n = _lenient_num(expr, engine, min(30, scale + 2))
        return (
            f"CAST((CASE"
            f" WHEN {s} IS NULL THEN NULL"
            f" WHEN {p} = '' OR {p} IS NULL THEN 0"
            f" WHEN {n} IS NULL THEN (CASE WHEN {p} LIKE '-%'"
            f"  THEN -{mx} ELSE {mx} END)"
            f" WHEN {n} > {mx} THEN {mx}"
            f" WHEN {n} < -{mx} THEN -{mx}"
            f" ELSE {n} END) AS DECIMAL({prec},{scale}))"
        )
    ttext = f"{m.group(2)}({targ})" if targ is not None else m.group(2)
    return f"CAST({expr} AS {ttext})"


def _duck_order_nulls(sql: str) -> str:
    """MySQL (and Spark) sort NULLs FIRST on ASC and LAST on DESC;
    DuckDB defaults to NULLS LAST everywhere.  Spell the MySQL rule
    into every ORDER BY key (matters whenever LIMIT/OFFSET truncates)."""
    out, i = [], 0
    pat = re.compile(r"\bORDER\s+BY\s+", re.I)
    while True:
        m = pat.search(sql, i)
        if not m:
            out.append(sql[i:])
            break
        out.append(sql[i : m.end()])
        # scan the key list to its end (LIMIT/OFFSET/closing paren/EOS)
        j, depth, in_str = m.end(), 0, None
        while j < len(sql):
            ch = sql[j]
            if in_str:
                if ch == in_str:
                    in_str = None
            elif ch in ("'", '"'):
                in_str = ch
            elif ch == "(":
                depth += 1
            elif ch == ")":
                if depth == 0:
                    break
                depth -= 1
            elif depth == 0 and re.match(
                r"(LIMIT|OFFSET|FOR)\b", sql[j:], re.I
            ) and (j == 0 or not sql[j - 1].isalnum()):
                break
            j += 1
        keys = _split_top_commas(sql[m.end() : j])
        fixed = []
        for k in keys:
            ks = k.strip()
            if re.search(r"\bNULLS\s+(FIRST|LAST)\b", ks, re.I):
                fixed.append(ks)
            elif re.search(r"\bDESC\b", ks, re.I):
                fixed.append(ks + " NULLS LAST")
            else:
                fixed.append(ks + " NULLS FIRST")
        out.append(", ".join(fixed) + " ")
        i = j
    return "".join(out)


def _replace_outside_strings(sql: str, pairs: list[tuple[str, str]]) -> str:
    """Literal token replacement that never touches string literals."""
    out, i, in_str = [], 0, None
    while i < len(sql):
        ch = sql[i]
        if in_str:
            out.append(ch)
            if ch == in_str:
                in_str = None
            i += 1
            continue
        if ch in ("'", '"'):
            in_str = ch
            out.append(ch)
            i += 1
            continue
        for old, new in pairs:
            if sql.startswith(old, i):
                out.append(new)
                i += len(old)
                break
        else:
            out.append(ch)
            i += 1
    return "".join(out)


def _rewrite_logical_ops(sql: str) -> str:
    """MySQL's default sql_mode reads ``||`` as OR and ``&&`` as AND
    (PIPES_AS_CONCAT off); both engines read ``||`` as concat."""
    return _replace_outside_strings(sql, [("||", " OR "), ("&&", " AND ")])


def _fold_time_literal(s: str) -> str | None:
    """Tianmu's TIME('literal') quirks (time_function.result):
    digits-only parses HHMMSS right-to-left; a leading bare integer in
    an otherwise-unparsable string does the same (1811/2/2 → 00:18:11);
    fractional seconds keep their digit count but are ZEROED."""
    t = s.strip()
    m = re.match(
        r"^(?:\d{1,4}[-/.]\d{1,2}[-/.]\d{1,2}[ T])?"
        r"(\d{1,3}):(\d{1,2})(?::(\d{1,2}))?(\.\d+)?$",
        t,
    )
    if m:  # explicit hh:mm[:ss][.frac] (with optional date prefix)
        h, mi, sec = int(m.group(1)), int(m.group(2)), int(m.group(3) or 0)
        out = f"{h:02d}:{mi:02d}:{sec:02d}"
        if m.group(4):
            out += "." + "0" * (len(m.group(4)) - 1)
        return out
    dm = re.match(r"^(\d+)", t)
    if dm:
        digits = dm.group(1)[-6:]
        digits = digits.zfill(6) if len(digits) > 4 else digits.zfill(6)
        h, mi, sec = digits[0:2], digits[2:4], digits[4:6]
        return f"{int(h):02d}:{int(mi):02d}:{int(sec):02d}"
    return None


def _time_fn(inner: str, engine: str) -> str:
    """MySQL TIME(x): literal args fold in Python (tianmu quirks);
    column args extract the time part — TIME-typed columns are stored
    as text (leading digits+colon) and pass through."""
    lit = _decode_strlit(inner)
    if lit is not None:
        folded = _fold_time_literal(lit)
        return _mysql_str_encode(folded) if folded is not None else "NULL"
    if engine == "spark":
        return (
            f"CASE WHEN CAST(({inner}) AS STRING) RLIKE '^[0-9]{{1,3}}:' "
            f"THEN CAST(({inner}) AS STRING) "
            f"ELSE date_format(CAST(({inner}) AS TIMESTAMP), 'HH:mm:ss') END"
        )
    return (
        f"CASE WHEN regexp_matches(CAST(({inner}) AS VARCHAR), "
        f"'^[0-9]{{1,3}}:') THEN CAST(({inner}) AS VARCHAR) "
        f"ELSE strftime(CAST(({inner}) AS TIMESTAMP), '%H:%M:%S') END"
    )


def _sec_to_time(inner: str, engine: str) -> str:
    """MySQL SEC_TO_TIME over a DOUBLE: '[-]HH…:MM:SS.ffffff' text with
    a 6-digit fraction (func_sec_to_time.result), clamped at MySQL's
    ±838:59:59 TIME bound.  Emitted with CONCAT so the duck pass's
    NULL-propagating ||-chain rewrite applies downstream."""
    istr = "STRING" if engine == "spark" else "VARCHAR"
    x = f"({inner})"
    a = f"LEAST(ABS(CAST({x} AS DOUBLE)), 3020399.0)"
    tot = f"CAST(FLOOR({a}) AS BIGINT)"
    # FLOOR before the cast: DuckDB CAST(double AS BIGINT) rounds while
    # Spark truncates
    th = f"CAST(FLOOR(({tot}) / 3600.0) AS BIGINT)"
    tm = f"CAST(FLOOR((({tot}) % 3600) / 60.0) AS BIGINT)"
    ts = f"({tot}) % 60"
    frac = f"LPAD(CAST(CAST(ROUND(({a} - {tot}) * 1000000) AS BIGINT) AS {istr}), 6, '0')"
    hh = (
        f"CASE WHEN {th} < 10 THEN CONCAT('0', CAST({th} AS {istr})) "
        f"ELSE CAST({th} AS {istr}) END"
    )
    sign = f"CASE WHEN CAST({x} AS DOUBLE) < 0 THEN '-' ELSE '' END"
    return (
        f"CONCAT({sign}, {hh}, ':', LPAD(CAST({tm} AS {istr}), 2, '0'), "
        f"':', LPAD(CAST({ts} AS {istr}), 2, '0'), '.', {frac})"
    )


def _parse_time_delta(s: str) -> tuple[float, int] | None:
    """Parse a MySQL time-delta literal ('2 1:1:1', '-100:11:12',
    '100:11', '100', '2:2:2.1111') → (seconds, frac_digit_count)."""
    t = s.strip()
    m = re.match(
        r"^([+-]?)(?:(\d+)\s+)?(\d{1,3}):(\d{1,2})(?::(\d{1,2}))?"
        r"(\.\d+)?$",
        t,
    )
    if m:
        sign = -1 if m.group(1) == "-" else 1
        days = int(m.group(2) or 0)
        h, mi = int(m.group(3)), int(m.group(4))
        sec = int(m.group(5) or 0)
        frac = m.group(6) or ""
        total = days * 86400 + h * 3600 + mi * 60 + sec + (
            float(frac) if frac else 0.0
        )
        return sign * total, len(frac) - 1 if frac else 0
    m = re.match(r"^([+-]?)(\d+)(\.\d+)?$", t)
    if m:  # digits-only reads right-to-left HHMMSS (like TIME())
        folded = _fold_time_literal(m.group(2))
        h, mi, sec = (int(x) for x in folded.split(":"))
        sign = -1 if m.group(1) == "-" else 1
        frac = m.group(3) or ""
        total = h * 3600 + mi * 60 + sec + (float(frac) if frac else 0.0)
        return sign * total, len(frac) - 1 if frac else 0
    return None


def _addtime_fn(inner: str, engine: str, sub: bool = False) -> str:
    """MySQL ADDTIME/SUBTIME: literal+literal folds in Python; a
    datetime expression gets interval arithmetic (AddTime_function)."""
    parts = _split_top_commas(inner)
    if len(parts) != 2:
        return f"ADDTIME({inner})"  # let the engine reject
    base, delta = parts[0].strip(), parts[1].strip()
    dl = _decode_strlit(delta)
    pd_ = _parse_time_delta(dl) if dl is not None else None
    if pd_ is None:
        # non-literal delta: TIME-string ± TIME-string arithmetic
        # entirely engine-side (issue464's ADDTIME(time_test,
        # time_test) — TIME columns are stored as their text)
        vt = "STRING" if engine == "spark" else "VARCHAR"

        def secs_of(x: str) -> str:
            t = f"TRIM(CAST(({x}) AS {vt}))"
            neg = f"(CASE WHEN {t} LIKE '-%' THEN -1 ELSE 1 END)"
            core = (
                f"(CAST(regexp_extract({t}, '([0-9]+):', 1) AS BIGINT)"
                f" * 3600 + CAST(regexp_extract({t}, ':([0-9]+):', 1)"
                f" AS BIGINT) * 60 + CAST(regexp_extract({t},"
                f" ':([0-9]+)([.][0-9]+)?$', 1) AS BIGINT))"
            )
            return f"({neg} * {core})"

        op = "-" if sub else "+"
        tot = f"({secs_of(base)} {op} {secs_of(delta)})"
        a = f"ABS({tot})"
        return (
            f"CONCAT(CASE WHEN {tot} < 0 THEN '-' ELSE '' END,"
            f" LPAD(CAST(CAST({a} / 3600 AS BIGINT) AS {vt}), 2, '0'),"
            f" ':', LPAD(CAST(CAST(({a} % 3600) / 60 AS BIGINT)"
            f" AS {vt}), 2, '0'),"
            f" ':', LPAD(CAST({a} % 60 AS {vt}), 2, '0'))"
        )
    secs, fdigits = pd_
    if sub:
        secs = -secs
    bl = _decode_strlit(base)
    if bl is not None:  # fold fully in Python
        import datetime as _dt

        tm = re.match(
            r"^(\d{1,4})-(\d{1,2})-(\d{1,2})[ T]"
            r"(\d{1,2}):(\d{1,2}):(\d{1,2})(\.\d+)?$",
            bl.strip(),
        )
        if tm:
            t0 = _dt.datetime(*(int(tm.group(i)) for i in range(1, 7)))
            t1 = t0 + _dt.timedelta(seconds=secs)
            out = f"{t1:%Y-%m-%d %H:%M:%S}"
            micro = t1.microsecond
            if fdigits or tm.group(7):
                nd = max(fdigits, len(tm.group(7) or ".") - 1)
                out += ("{:.%df}" % nd).format(micro / 1e6)[1:]
            return _mysql_str_encode(out)
        # lenient temporal string read: trailing garbage truncates with
        # a warning (date_formats.test's '-01:01:01.01 GGG')
        lm = re.match(
            r"\s*([+-]?(?:\d+\s+)?\d{1,3}:\d{1,2}(?::\d{1,2})?(?:\.\d+)?"
            r"|[+-]?\d+(?:\.\d+)?)", bl,
        )
        tparsed = _parse_time_delta(lm.group(1)) if lm else None
        if tparsed is not None:  # TIME + delta stays a TIME string
            tot = round(tparsed[0] + secs, 6)
            sign = "-" if tot < 0 else ""
            tot = abs(tot)
            h = int(tot // 3600)
            mi = int((tot % 3600) // 60)
            sec = int(tot % 60)
            out = f"{sign}{h:02d}:{mi:02d}:{sec:02d}"
            if fdigits or tparsed[1]:
                # string temporal operands carry fsp 6 in MySQL's TIME
                # arithmetic rendering (-25:01:00.110000)
                out += f".{round((tot % 1) * 1e6):06d}"
            return _mysql_str_encode(out)
        return "NULL"
    whole = int(secs)
    micros = round((secs - whole) * 1e6)
    op = "-" if secs < 0 else "+"
    out = f"(CAST(({base}) AS TIMESTAMP) {op} INTERVAL {abs(whole)} SECOND"
    if micros:
        # fractional delta over an expression (issue475's
        # ADDTIME(date_col, '1 1:1:1.00002'))
        if engine == "spark":
            out += f" {op} INTERVAL {abs(micros)} MICROSECOND"
        else:
            out += f" {op} to_microseconds({abs(micros)})"
    return out + ")"


def _convert_to_cast(inner: str, engine: str = "spark") -> str:
    um = re.match(r"(.*)\s+USING\s+\w+\s*$", inner, re.I | re.S)
    if um:  # charset conversion: engines are utf-8 throughout
        return f"({um.group(1)})"
    parts = _split_top_commas(inner)
    if len(parts) == 2:
        t = parts[1].strip()
        base = re.match(r"(\w+)", t).group(1).lower()
        if base == "time":  # TIME has no engine analog: extract text
            return f"({_time_fn(parts[0], engine)})"
        mapped = {"signed": "BIGINT", "unsigned": "DECIMAL(20,0)",
                  "integer": "BIGINT", "char": "STRING",
                  "datetime": "TIMESTAMP",
                  "binary": "BINARY" if engine == "spark" else "BLOB",
                  }.get(base)
        return f"CAST({parts[0]} AS {mapped or t})"
    return f"CONVERT({inner})"


def _conv_fn(inner: str, engine: str) -> str:
    """MySQL CONV(n, from_base, to_base): literals fold in Python;
    expressions use conv() on Spark and to_base() on DuckDB (base-10
    source only — the MTR corpus uses literal sources otherwise)."""
    parts = _split_top_commas(inner)
    if len(parts) != 3:
        return f"CONV({inner})"
    x, f, t = (p.strip() for p in parts)
    if not (f.isdigit() and t.isdigit()):
        return f"CONV({inner})"
    fb, tb = int(f), int(t)

    def to_base(n: int, b: int) -> str:
        if n == 0:
            return "0"
        digs = "0123456789ABCDEFGHIJKLMNOPQRSTUVWXYZ"
        out = []
        while n:
            out.append(digs[n % b])
            n //= b
        return "".join(reversed(out))

    lit = _decode_strlit(x)
    if lit is None and re.fullmatch(r"\d+", x):
        lit = x
    if lit is not None:
        try:
            return _mysql_str_encode(to_base(int(lit.strip(), fb), tb))
        except ValueError:
            return "NULL"
    if engine == "spark":
        # Spark's conv() parses the string in from_base natively
        # (CONV(a, 16, 2) over a column, bit_type.test)
        return f"upper(conv(CAST(({x}) AS STRING), {fb}, {tb}))"
    if fb != 10:
        raise ValueError("CONV with non-literal non-base-10 source")
    return f"upper(to_base(CAST(({x}) AS BIGINT), {tb}))"


def _strcmp_case(inner: str) -> str:
    a, b = _split_top_commas(inner)
    return (
        f"(CASE WHEN ({a}) IS NULL OR ({b}) IS NULL THEN NULL "
        f"WHEN ({a}) < ({b}) THEN -1 "
        f"WHEN ({a}) = ({b}) THEN 0 ELSE 1 END)"
    )


_AGG_FUNCS_RE = re.compile(
    r"\b(COUNT|SUM|AVG|MIN|MAX|GROUP_CONCAT|STD|STDDEV|VARIANCE|"
    r"VAR_POP|VAR_SAMP|STDDEV_POP|STDDEV_SAMP|BIT_AND|BIT_OR|BIT_XOR|"
    r"ANY_VALUE)\s*\(",
    re.I,
)
_IDENT_RE = re.compile(r"\b([A-Za-z_][\w$]*(?:\s*\.\s*[A-Za-z_][\w$]*)*)\b")
_NONGROUP_KEYWORDS = {
    "CASE", "WHEN", "THEN", "ELSE", "END", "AND", "OR", "NOT", "NULL",
    "TRUE", "FALSE", "IN", "IS", "LIKE", "BETWEEN", "AS", "DISTINCT",
    "INTERVAL", "DIV", "MOD", "XOR", "BINARY", "ASC", "DESC",
}


def _scan_token(sql: str, start: int, depth0: int, words: tuple) -> int:
    """Index of the first occurrence of any ``words`` token at paren
    depth ``depth0`` scanning from ``start`` (strings skipped); -1 when
    the depth drops below depth0 or the string ends first."""
    i, depth, in_str, n = start, depth0, None, len(sql)
    while i < n:
        ch = sql[i]
        if in_str:
            if ch == in_str:
                in_str = None
            i += 1
            continue
        if ch in ("'", '"'):
            in_str = ch
        elif ch == "(":
            depth += 1
        elif ch == ")":
            depth -= 1
            if depth < depth0:
                return -1
        elif depth == depth0 and (ch.isalpha() or ch == "_"):
            m = re.match(r"[A-Za-z_]\w*", sql[i:])
            tok = m.group(0).upper()
            if tok in words:
                return i
            i += len(m.group(0))
            continue
        i += 1
    return -1


def _wrap_nongrouped_any_value(
    sql: str, equality_dependent_only: bool = False
) -> str:
    """MySQL with ONLY_FULL_GROUP_BY disabled accepts non-aggregated
    select items absent from GROUP BY and returns a value from the
    group (issue790.test/issue1107.test run exactly such queries after
    clearing the mode; sql/sql_resolver.cc only enforces the check
    under the flag).  Spark and DuckDB both reject that — wrap the
    offending items in MIN(), aliased to their MySQL implicit output
    name.  MIN (not ANY_VALUE) because MySQL's contract is 'some value
    from the group', and MIN is the same deterministic member on every
    engine, whereas Spark's any_value takes the first value
    positionally and DuckDB's skips NULLs.  Every SELECT block (incl.
    derived tables) is handled; blocks whose GROUP BY keys aren't
    simple identifiers, or whose select list uses * or DISTINCT, are
    left alone."""
    positions = [
        m.start() for m in re.finditer(r"\bSELECT\b", sql, re.I)
    ]
    for p in reversed(positions):  # innermost-safe: rewrite right-first
        # depth of this SELECT
        depth0, in_str = 0, None
        for ch in sql[:p]:
            if in_str:
                if ch == in_str:
                    in_str = None
            elif ch in ("'", '"'):
                in_str = ch
            elif ch == "(":
                depth0 += 1
            elif ch == ")":
                depth0 -= 1
        if in_str:
            continue  # 'SELECT' inside a string literal
        list_start = p + len("SELECT")
        from_i = _scan_token(sql, list_start, depth0, ("FROM",))
        if from_i < 0:
            continue
        gb_i = _scan_token(
            sql, from_i, depth0,
            ("GROUP", "UNION", "EXCEPT", "INTERSECT"),
        )
        if gb_i < 0 or not re.match(r"GROUP\s+BY\b", sql[gb_i:], re.I):
            # no GROUP BY: MySQL still allows mixing aggregates with
            # bare columns as ONE implicit group (issue1784.test's
            # 'select age, sum(age) from t1') — wrap the bare items
            # when the list carries an aggregate at all
            if _AGG_FUNCS_RE.search(sql[list_start:from_i]):
                keys_start = keys_end = from_i  # empty key list
            else:
                continue
        else:
            keys_start = gb_i + len(
                re.match(r"GROUP\s+BY", sql[gb_i:], re.I).group(0)
            )
        keys_end = keys_start if keys_start == from_i else _scan_token(
            sql, keys_start, depth0,
            ("HAVING", "ORDER", "LIMIT", "UNION", "EXCEPT", "INTERSECT"),
        )
        if keys_end < 0:
            # ended by depth drop or EOS: recompute the span end
            i, depth, in_str2 = keys_start, depth0, None
            while i < len(sql):
                ch = sql[i]
                if in_str2:
                    if ch == in_str2:
                        in_str2 = None
                elif ch in ("'", '"'):
                    in_str2 = ch
                elif ch == "(":
                    depth += 1
                elif ch == ")":
                    depth -= 1
                    if depth < depth0:
                        break
                i += 1
            keys_end = i
        keys = []
        simple = True
        for k in _split_top_commas(sql[keys_start:keys_end]):
            km = re.fullmatch(
                r"\s*((?:[A-Za-z_][\w$]*|`[^`]+`)"
                r"(?:\s*\.\s*(?:[A-Za-z_][\w$]*|`[^`]+`))*)\s*", k,
            )
            if not km:
                simple = False
                break
            keys.append(
                _unquote_ident(km.group(1).split(".")[-1].strip()).lower()
            )
        if not simple:
            continue
        keyset = set(keys)
        if re.match(r"\s*DISTINCT\b", sql[list_start:from_i], re.I):
            continue
        items = _split_top_commas(sql[list_start:from_i])
        new_items, changed = [], False
        for item in items:
            body = item.strip()
            if body == "*" or body.endswith(".*") or not body:
                new_items.append(item)
                continue
            if _AGG_FUNCS_RE.search(body):
                new_items.append(item)
                continue
            am = re.match(
                r"^(.*?)(\s+AS\s+(`[^`]+`|'[^']*'|\"[^\"]*\"|[A-Za-z_]\w*))$",
                body, re.I | re.S,
            )
            expr = am.group(1) if am else body
            alias = am.group(2) if am else ""
            refs = set()
            tmp = re.sub(r"'(?:[^'\\]|\\.)*'", " ", expr)
            for im in _IDENT_RE.finditer(tmp):
                name = im.group(1)
                if tmp[im.end():].lstrip().startswith("("):
                    continue  # function call
                last = name.split(".")[-1].strip().lower()
                if last.upper() in _NONGROUP_KEYWORDS or last.upper() in (
                    "SELECT", "FROM", "WHERE",
                ):
                    continue
                refs.add(last)
            if not refs or refs <= keyset:
                new_items.append(item)
                continue
            if equality_dependent_only:
                # ONLY_FULL_GROUP_BY is ON: MySQL 5.7 still accepts a
                # non-grouped column that is functionally dependent on
                # a key via an equality in ON/WHERE (bit.test's
                # ``select sum(a1), b1+0, b2+0 … on b1 = b2 group by
                # b1``; sql/aggregate_check.cc).  Wrap only such items;
                # anything else must keep erroring like MySQL.
                masked = re.sub(r"'(?:[^'\\]|\\.)*'", " ", sql)

                def _eqlinked(ref: str) -> bool:
                    for em in re.finditer(
                        rf"(?i)(?:[\w`]+\s*\.\s*)?`?({ref})`?\s*=\s*"
                        rf"(?:[\w`]+\s*\.\s*)?`?(\w+)`?", masked
                    ):
                        if em.group(2).lower() in keyset:
                            return True
                    for em in re.finditer(
                        rf"(?i)(?:[\w`]+\s*\.\s*)?`?(\w+)`?\s*=\s*"
                        rf"(?:[\w`]+\s*\.\s*)?`?({ref})`?", masked
                    ):
                        if em.group(1).lower() in keyset:
                            return True
                    return False

                if not all(_eqlinked(r) for r in refs - keyset):
                    new_items.append(item)
                    continue
            if not alias:
                bare = re.fullmatch(
                    r"\s*(?:[A-Za-z_][\w$]*\s*\.\s*)?"
                    r"([A-Za-z_][\w$]*|`[^`]+`)\s*", expr,
                )
                if bare:
                    alias = f" AS {bare.group(1)}"
            new_items.append(f" MIN({expr.strip()}){alias}")
            changed = True
        if changed:
            sql = (
                sql[:list_start] + " "
                + ", ".join(i.strip() for i in new_items)
                + " " + sql[from_i:]
            )
    return sql


def _huge_int_arith_guard(sql: str) -> None:
    """A bare integer literal beyond the BIGINT domain used directly in
    arithmetic errors in the reference: MySQL raises 1690 (BIGINT value
    is out of range) on unsigned-bigint overflow and tianmu raises 1105
    for results beyond its DECIMAL(18) engine cap unless explicitly
    CAST (unsigned_support_issue1267.test).  Spark would silently widen
    the literal to DECIMAL instead — so raise the analog at rewrite
    time.  Literals inside CAST(...) are NOT adjacent to an operator
    and pass through (the documented escape hatch)."""
    stripped = re.sub(
        r"'(?:[^'\\]|\\.)*'", lambda m: " " * len(m.group(0)), sql
    )
    for m in re.finditer(r"\b\d{19,}\b", stripped):
        if int(m.group(0)) <= 2**63:  # 2^63 itself = |int64 min|
            continue
        pre = stripped[: m.start()].rstrip()[-1:]
        post = stripped[m.end():].lstrip()[:1]
        if (pre and pre in "*+/%") or (post and post in "*+/%-"):
            raise ValueError(
                f"numeric result with literal {m.group(0)} is out of "
                f"BIGINT range (MySQL error 1690 / tianmu 1105 analog; "
                f"use an explicit CAST)"
            )


# NO_UNSIGNED_SUBTRACTION session flag for the constant-fold 1690
# checker below.  Module-level because rewrite_expr is a pure function
# called from both translators; scripts execute single-threaded and
# run_script / build_oracle_sql reset it at entry.
_NUS_MODE = [False]
# NO_ZERO_DATE: on under the 5.7 default strict mode; an explicit
# sql_mode list WITHOUT it (issue682) stores zero dates even in
# strict mode
_NZD_MODE = [True]
# MySQL's zero date '0000-00-00' has no engine value on Spark or
# DuckDB.  Modeled as NULL it would merge with true NULL in NULLABLE
# columns (issue682 lines 29-42: `is null` must see 2 of 4 rows, not
# all 4), so the zero date is stored as the SENTINEL 0001-01-01 (a
# value MySQL accepts but the 5.7 test corpus never uses: real MySQL
# data starts at '1000-01-01'); IS NULL over
# NOT NULL temporal columns and numeric-0 compares rewrite against the
# sentinel (MySQL's documented IS-NULL-matches-zero-date quirk), and
# designated SELECTs render it back as '0000-00-00' where an entry
# opts in (zerodate_render).
_ZD_DATE = "0001-01-01"
_ZD_TS = "0001-01-01 00:00:00"
# session time_zone offset in minutes (SET time_zone='-5:00'); MySQL
# TIMESTAMP columns store UTC and render in the statement's session
# offset — frozen per statement in BOTH translators (type_timestamp)
_TZ_OFFSET_MIN = [0]

_SET_TIMEZONE = re.compile(
    r"^\s*SET\s+(?:SESSION\s+)?time_zone\s*=\s*'([+-])(\d{1,2}):(\d{2})'\s*$",
    re.I,
)


class _EvalAbort(Exception):
    """Constant evaluation hit a non-constant construct — no check."""


_U64 = 2**64
_I64MAX = 2**63 - 1
_I64MIN = -(2**63)


def _overflow_1690(what: str) -> ValueError:
    return ValueError(
        f"value is out of range in '{what}' (MySQL error 1690 analog)"
    )


def _const_tokens(expr: str) -> list:
    toks, i, n = [], 0, len(expr)
    while i < n:
        ch = expr[i]
        if ch.isspace():
            i += 1
        elif ch in "()+-*/%,":
            toks.append(ch)
            i += 1
        elif ch in ("'", '"'):
            j = i + 1
            while j < n and expr[j] != ch:
                j += 2 if expr[j] == "\\" else 1
            toks.append(("str", expr[i + 1 : j]))
            i = j + 1
        elif ch.isdigit() or (ch == "." and i + 1 < n and expr[i + 1].isdigit()):
            m = re.match(r"\d*\.?\d+([eE][+-]?\d+)?", expr[i:])
            toks.append(("num", m.group(0)))
            i += m.end()
        elif ch.isalpha() or ch == "_":
            m = re.match(r"[A-Za-z_]\w*", expr[i:])
            toks.append(("word", m.group(0).upper()))
            i += m.end()
        else:
            raise _EvalAbort()
    return toks


def _const_eval_item(expr: str):
    """Evaluate a literal-only numeric SELECT item with MySQL 5.7
    arithmetic semantics and raise the 1690 analog on overflow
    (func_math.test's error battery; reference sql/item_func.cc
    raise_integer_overflow / check_float_overflow).  Value model:
    ('int', v, unsigned) — BIGINT [UNSIGNED]; ('dec', Decimal) —
    DECIMAL(65); ('float', f) — DOUBLE.  Aborts (returning None, no
    check) on any identifier or unsupported construct."""
    import math

    toks = _const_tokens(expr)
    pos = [0]

    def peek():
        return toks[pos[0]] if pos[0] < len(toks) else None

    def take():
        t = peek()
        pos[0] += 1
        return t

    def as_num(v):
        """Coerce a string operand to its numeric value (MySQL reads
        numeric strings in arithmetic); abort on non-numeric."""
        if v[0] == "str":
            try:
                return (
                    ("dec", decimal.Decimal(v[1]))
                    if re.fullmatch(r"\s*-?\d+(\.\d+)?\s*", v[1])
                    else ("float", float(v[1]))
                )
            except Exception:
                raise _EvalAbort()
        return v

    def ck_float(f, what):
        if math.isinf(f) or math.isnan(f):
            raise _overflow_1690(what)
        return ("float", f)

    def ck_dec(d, what):
        sign, digits, exp = d.as_tuple()
        if len(digits) + max(exp, 0) > 65 or -exp > 30:
            raise _overflow_1690(what)
        return ("dec", d)

    def ck_int(v, unsigned, what):
        if unsigned:
            if v < 0 or v >= _U64:
                raise _overflow_1690(what)
        elif v > _I64MAX or v < _I64MIN:
            raise _overflow_1690(what)
        return ("int", v, unsigned)

    def binop(a, op, b, what):
        a, b = as_num(a), as_num(b)
        if a[0] == "float" or b[0] == "float":
            fa = float(a[1]), float(b[1])
            if op == "/":
                if fa[1] == 0:
                    return ("float", 0.0)  # NULL in MySQL: no error
                return ck_float(fa[0] / fa[1], what)
            if op == "DIV":
                if fa[1] == 0:
                    return ("float", 0.0)
                q = decimal.Decimal(fa[0]) // decimal.Decimal(fa[1])
                return ck_int(int(q), False, what)
            f = {"+": fa[0] + fa[1], "-": fa[0] - fa[1],
                 "*": fa[0] * fa[1],
                 "MOD": math.fmod(fa[0], fa[1]) if fa[1] else 0.0,
                 "%": math.fmod(fa[0], fa[1]) if fa[1] else 0.0}[op]
            return ck_float(f, what)
        if a[0] == "dec" or b[0] == "dec":
            da = decimal.Decimal(a[1]), decimal.Decimal(b[1])
            with decimal.localcontext() as ctx:
                ctx.prec = 80
                if op == "/":
                    if da[1] == 0:
                        return ("dec", decimal.Decimal(0))
                    return ck_dec(da[0] / da[1], what)
                if op == "DIV":
                    # integer division: result must fit BIGINT
                    if da[1] == 0:
                        return ("dec", decimal.Decimal(0))
                    uns = (a[0] == "int" and a[2]) or (b[0] == "int" and b[2])
                    return ck_int(int(da[0] / da[1]), uns, what)
                if op in ("MOD", "%"):
                    if da[1] == 0:
                        return ("dec", decimal.Decimal(0))
                    return ("dec", da[0] % da[1] if da[0] >= 0
                            else -((-da[0]) % abs(da[1])))
                d = {"+": da[0] + da[1], "-": da[0] - da[1],
                     "*": da[0] * da[1]}[op]
                return ck_dec(d, what)
        va, vb = a[1], b[1]
        unsigned = a[2] or b[2]
        if op == "-" and _NUS_MODE[0]:
            unsigned = False  # NO_UNSIGNED_SUBTRACTION
        if op == "/":
            if vb == 0:
                return ("dec", decimal.Decimal(0))
            return ck_dec(
                decimal.Decimal(va) / decimal.Decimal(vb), what
            )
        if op == "DIV":
            if vb == 0:
                return ("int", 0, unsigned)
            v = abs(va) // abs(vb)
            if (va < 0) != (vb < 0):
                v = -v
            return ck_int(v, unsigned, what)
        if op in ("MOD", "%"):
            if vb == 0:
                return ("int", 0, unsigned)
            v = abs(va) % abs(vb)
            return ck_int(-v if va < 0 else v, unsigned, what)
        v = {"+": va + vb, "-": va - vb, "*": va * vb}[op]
        return ck_int(v, unsigned, what)

    def primary():
        t = take()
        if t is None:
            raise _EvalAbort()
        if t == "(":
            v = expr_rule()
            if take() != ")":
                raise _EvalAbort()
            return v
        if t == "-":
            v = as_num(primary())
            if v[0] == "int":
                nv = -v[1]
                if v[2] and nv < _I64MIN:  # -(huge unsigned) → DECIMAL
                    return ("dec", decimal.Decimal(nv))
                return ("int", nv, False)
            return (v[0], -v[1])
        if t == "+":
            return primary()
        if isinstance(t, tuple) and t[0] == "num":
            text = t[1]
            if re.search(r"[eE]", text):
                return ("float", float(text))
            if "." in text:
                return ("dec", decimal.Decimal(text))
            v = int(text)
            if v <= _I64MAX:
                return ("int", v, False)
            if v < _U64:
                return ("int", v, True)
            return ("dec", decimal.Decimal(v))
        if isinstance(t, tuple) and t[0] == "str":
            return t
        if isinstance(t, tuple) and t[0] == "word":
            w = t[1]
            if w == "CAST" and peek() == "(":
                take()
                v = as_num(expr_rule())
                nxt = take()
                if not (isinstance(nxt, tuple) and nxt[0] == "word"
                        and nxt[1] == "AS"):
                    raise _EvalAbort()
                ty = take()
                if not isinstance(ty, tuple) or ty[0] != "word":
                    raise _EvalAbort()
                while peek() not in (")", None):  # DECIMAL(p,s) tail
                    take()
                if take() != ")":
                    raise _EvalAbort()
                iv = int(v[1])
                if ty[1] == "UNSIGNED":
                    return ("int", iv % _U64, True)
                if ty[1] == "SIGNED":
                    iv %= _U64
                    return ("int", iv - _U64 if iv > _I64MAX else iv, False)
                if ty[1] == "DECIMAL":
                    return ("dec", decimal.Decimal(v[1]))
                raise _EvalAbort()
            if peek() == "(" and w in (
                "EXP", "POW", "POWER", "COT", "DEGREES", "RADIANS",
                "ABS", "CEIL", "CEILING", "FLOOR", "SQRT", "LN", "LOG",
            ):
                take()
                args = [expr_rule()]
                while peek() == ",":
                    take()
                    args.append(expr_rule())
                if take() != ")":
                    raise _EvalAbort()
                a0 = as_num(args[0])
                what = f"{w}(...)"
                if w == "ABS":
                    if a0[0] == "int":
                        return ck_int(abs(a0[1]), a0[2], what)
                    return (a0[0], abs(a0[1]))
                if w in ("CEIL", "CEILING", "FLOOR"):
                    fn = math.ceil if w != "FLOOR" else math.floor
                    if a0[0] == "int":
                        return a0
                    if a0[0] == "dec":
                        return ("dec", decimal.Decimal(fn(a0[1])))
                    return ck_int(fn(a0[1]), False, what)
                f0 = float(a0[1])
                try:
                    if w == "EXP":
                        return ck_float(math.exp(f0), what)
                    if w in ("POW", "POWER"):
                        f1 = float(as_num(args[1])[1])
                        return ck_float(math.pow(f0, f1), what)
                    if w == "COT":
                        tn = math.tan(f0)
                        if tn == 0:
                            raise _overflow_1690(what)
                        return ck_float(1.0 / tn, what)
                    if w == "DEGREES":
                        return ck_float(math.degrees(f0), what)
                    if w == "RADIANS":
                        return ck_float(math.radians(f0), what)
                    if w == "SQRT":
                        if f0 < 0:
                            return ("float", 0.0)  # NULL, no error
                        return ck_float(math.sqrt(f0), what)
                    if w in ("LN", "LOG"):
                        if f0 <= 0:
                            return ("float", 0.0)
                        return ck_float(math.log(f0), what)
                except OverflowError:
                    raise _overflow_1690(what)
            raise _EvalAbort()
        raise _EvalAbort()

    def term():
        v = primary()
        while True:
            t = peek()
            op = None
            if t in ("*", "/", "%"):
                op = t
            elif isinstance(t, tuple) and t[0] == "word" and \
                    t[1] in ("DIV", "MOD"):
                op = t[1]
            if op is None:
                return v
            take()
            v = binop(v, op, term_rhs(), expr)

    def term_rhs():
        return primary()

    def expr_rule():
        v = term()
        while peek() in ("+", "-"):
            op = take()
            v = binop(v, op, term(), expr)
        return v

    v = expr_rule()
    if pos[0] != len(toks):
        raise _EvalAbort()
    return v


def _const_1690_guard(sql: str) -> None:
    """Evaluate literal-only SELECT items and raise MySQL's 1690 on
    arithmetic overflow (func_math.test): unsigned context when either
    operand is unsigned (negative result → error), BIGINT range on
    signed ops and DIV, DOUBLE overflow on float math and
    EXP/POW/COT/DEGREES, DECIMAL(65) overflow.  Items containing any
    column reference abort unchecked — this is a constant-folding
    analog of the reference's check_float_overflow path, not an
    evaluator for real data."""
    m = re.match(r"^\s*\(?\s*SELECT\s+(?:DISTINCT\s+)?", sql, re.I)
    if not m:
        return
    start = m.end()
    from_i = _scan_token(sql, start, 0, ("FROM",))
    body = sql[start:] if from_i < 0 else sql[start:from_i]
    for item in _split_top_commas(body):
        item = re.sub(
            r"\s+AS\s+(`[^`]+`|\w+)\s*$", "", item.strip(),
            flags=re.I,
        )
        if not item or re.match(r"^\s*@", item):
            continue
        try:
            _const_eval_item(item)
        except _EvalAbort:
            continue


_IDENT_PAIR_MINUS = re.compile(
    r"(?<![\w.`])((?:`\w+`|\w+)(?:\.(?:`\w+`|\w+))?)\s*-\s*"
    r"((?:`\w+`|\w+)(?:\.(?:`\w+`|\w+))?|\d+(?:\.\d+)?)(?![\w.(])"
)


def _guard_unsigned_arith(s: str, tables: dict) -> str:
    """MySQL errors 1690 when subtraction involving an UNSIGNED column
    yields a negative value (func_math.test's zerofill tail) — a
    runtime, per-row condition Spark computes happily.  Wrap bare
    ``x - y`` pairs where either side is an unsigned column in a
    RAISE_ERROR guard; the value passes through unchanged when
    non-negative, so non-error selects keep their results.  Runner
    (Spark) side only: the oracle compiler skips --error statements.
    Only columns of tables the statement actually references count —
    an unsigned 'a' in some OTHER table must not poison 'a - y' here —
    and NO_UNSIGNED_SUBTRACTION legalizes negatives."""
    if _NUS_MODE[0]:
        return s
    referenced = {
        _unquote_ident(m.group(1)).lower()
        for m in re.finditer(
            r"\b(?:FROM|JOIN|INTO|UPDATE)\s+(`[^`]+`|\w+)", s, re.I
        )
    }
    unsigned_cols = {
        c.name.lower()
        for t, td in tables.items()
        if t in referenced
        for c in td.columns
        if c.unsigned
    }
    if not unsigned_cols:
        return s

    def rep(m: re.Match) -> str:
        names = []
        for g in (m.group(1), m.group(2)):
            last = g.split(".")[-1].strip("`").lower()
            names.append(last)
        if not any(n in unsigned_cols for n in names):
            return m.group(0)
        x, y = m.group(1), m.group(2)
        return (
            f"(CASE WHEN ({x} - {y}) < 0 THEN RAISE_ERROR("
            f"'BIGINT UNSIGNED value is out of range in ({x} - {y}) "
            f"(MySQL error 1690 analog)') ELSE ({x} - {y}) END)"
        )

    return _sub_outside_strings(s, _IDENT_PAIR_MINUS, rep)


def _check_db_name(nm: str) -> None:
    """CREATE/DROP DATABASE name validation analogs (create_db.test):
    a double/single-quoted token is a string literal, not a name
    (1064 without ANSI_QUOTES); digits-only unquoted names don't lex
    as identifiers (1064); names beyond 64 chars are 1059."""
    if nm[:1] in ("'", '"'):
        raise ValueError(
            f"syntax error near {nm[:30]!r}: a string literal is not a "
            f"database name (MySQL error 1064 analog)"
        )
    name = _unquote_ident(nm)
    if re.fullmatch(r"\d+", name):
        raise ValueError(
            f"syntax error near '{name[:30]}': all-digit identifier "
            f"(MySQL error 1064 analog)"
        )
    if len(name) > 64:
        raise ValueError(
            f"Identifier name '{name[:40]}…' is too long "
            f"(MySQL error 1059 analog)"
        )


def _check_insert_shape(s: str) -> None:
    """MySQL's prepare-time INSERT shape errors (insert.test):
    1136 value-count-vs-column-count mismatch, then 1110 column
    specified twice."""
    m = re.match(
        r"^\s*(?:INSERT|REPLACE)\s+(?:IGNORE\s+)?(?:INTO\s+)?"
        r"(`[^`]+`|\w+)\s*\(([^()]*)\)\s*(VALUES?\s*\(|SELECT\b)",
        s, re.I | re.S,
    )
    if not m:
        return
    cols = [
        _unquote_ident(c).lower() for c in _split_top_commas(m.group(2))
    ]
    if m.group(3).upper().startswith("VALUE"):
        vm = re.search(r"\bVALUES?\s*\(", s, re.I)
        # balanced-paren extraction of the FIRST tuple (nested calls,
        # quoted commas)
        depth, i, in_str = 1, vm.end(), None
        start = vm.end()
        while i < len(s) and depth:
            ch = s[i]
            if in_str:
                if ch == "\\":
                    i += 1
                elif ch == in_str:
                    in_str = None
            elif ch in ("'", '"'):
                in_str = ch
            elif ch == "(":
                depth += 1
            elif ch == ")":
                depth -= 1
            i += 1
        arity = len(_split_top_commas(s[start : i - 1]))
        if arity != len(cols):
            raise ValueError(
                "Column count doesn't match value count "
                "(MySQL error 1136 analog)"
            )
    dups = {c for c in cols if cols.count(c) > 1}
    if dups:
        raise ValueError(
            f"Column '{sorted(dups)[0]}' specified twice "
            f"(MySQL error 1110 analog)"
        )


def _dup_clause_idents(stmt: str) -> list[str]:
    """Identifiers in an ON DUPLICATE KEY UPDATE clause — every column
    it touches (targets AND expression reads) counts toward the
    one-base-table rule for inserts through a join view (insert.test's
    1393 legs vs issue502-2's legal single-table upsert)."""
    m = re.search(r"(?is)\bON\s+DUPLICATE\s+KEY\s+UPDATE\s+(.*)$", stmt)
    if not m:
        return []
    body = re.sub(r"'(?:[^'\\]|\\.)*'", " ", m.group(1))
    return [
        w for w in re.findall(r"[A-Za-z_][\w$]*", body)
        if w.upper() not in ("VALUES", "AND", "OR", "NOT", "NULL",
                             "CASE", "WHEN", "THEN", "ELSE", "END", "IF")
    ]


def _view_insert_target(
    name: str, viewdefs: dict, tables: dict | None = None,
    cols: list[str] | None = None,
) -> str:
    """Resolve a view to its single updatable base table (MySQL
    insert-through-view, insert.test).  A JOIN view accepts the insert
    when every listed column belongs to exactly ONE base table
    (issue502-2's insert into a t1-join-t2 view targeting t1's
    columns); otherwise error 1393."""
    cur, seen = name.lower(), set()
    while cur in viewdefs:
        if cur in seen:
            raise ValueError(f"circular view {name}")
        seen.add(cur)
        fm = re.search(r"\bFROM\s+(.*)$", viewdefs[cur], re.I | re.S)
        if not fm:
            raise ValueError(f"view {cur} has no FROM clause")
        frm = re.split(r"\bWHERE\b|\bON\b", fm.group(1), flags=re.I)[0]
        rels = re.split(r",|\bJOIN\b", frm, flags=re.I)
        if len(rels) > 1:
            bases = [
                _unquote_ident(re.match(r"\s*(`[^`]+`|\w+)", r).group(1))
                .lower()
                for r in rels
            ]
            owners = set()
            if tables is not None and cols:
                colsets = {
                    b: {c.name.lower() for c in tables[b].columns}
                    for b in bases if b in tables
                }
                anycol = set().union(*colsets.values()) if colsets else set()
                # only identifiers that ARE columns of some base count
                # (function names / keywords in an ON DUPLICATE expr
                # aren't modification targets)
                want = {c.lower() for c in cols} & anycol
                for b, cset in colsets.items():
                    if want and want <= cset:
                        owners.add(b)
            if len(owners) != 1:
                raise ValueError(
                    f"Can not modify more than one base table through a "
                    f"join view '{name}' (MySQL error 1393 analog)"
                )
            cur = owners.pop()
            continue
        rm = re.match(r"\s*(`[^`]+`|\w+)", rels[0])
        cur = _unquote_ident(rm.group(1)).lower()
    return cur


def _bind_literal_uservar(expr: str):
    """SET @v = <bare numeric literal> binds without an engine
    round-trip — MySQL saturates beyond-DECIMAL(65) literals to the
    65-digit maximum with a truncation warning (func_math.test's
    81-digit @a), which no engine literal can represent."""
    fm = re.fullmatch(r"-?\d+(?:\.\d+)?[eE][+-]?\d+", expr.strip())
    if fm:
        import math

        if math.isinf(float(fm.group(0))):
            raise ValueError(
                f"Illegal double '{fm.group(0)[:40]}' value "
                f"(MySQL error 1367 analog)"
            )
        return fm.group(0)
    m = re.fullmatch(r"(-?)(\d+)(?:\.(\d+))?", expr.strip())
    if not m:
        return None
    sign, ip, fp = m.group(1), m.group(2), m.group(3) or ""
    if len(ip) > 65:
        # the INTEGER part alone overflows DECIMAL(65) — saturate
        ip, fp = "9" * 65, ""
    elif len(ip) + len(fp) > 65:
        # only the fraction overflows: MySQL keeps the integer part
        # and ROUNDS the fraction to what fits — at most 30 digits
        # (DECIMAL(65,30)), fewer when the integer part is long
        import decimal

        keep = min(30, 65 - len(ip))
        with decimal.localcontext() as ctx:
            ctx.prec = len(ip) + len(fp) + 2
            d = decimal.Decimal(f"{ip}.{fp}").quantize(
                decimal.Decimal(1).scaleb(-keep),
                rounding=decimal.ROUND_HALF_UP,
            )
        ip, _, fp = format(d, "f").partition(".")
    return sign + ip + ("." + fp if fp else "")


def _is_infoschema(s: str) -> bool:
    """information_schema probes are metadata introspection (charset
    octet lengths etc., different_charsets_a.test) — deployment-
    specific in MySQL and not modeled here; they are skipped like SHOW
    statements and excluded from designated-SELECT numbering."""
    return bool(
        re.match(r"^\s*\(?\s*SELECT\b", s, re.I)
        and re.search(r"\binformation_schema\s*\.", s, re.I)
    )


_INTRODUCER = re.compile(
    r"(?<![\w$])_(utf8mb4|utf8mb3|utf8|latin1|gbk|binary|ascii)\s*"
    r"(0x[0-9A-Fa-f]+|0b[01]+|(?=['\"]))",
    re.I,
)

# quoted-literal forms (_latin1 b'1000001' / _utf8 x'41'): the whole
# literal is part of the match, so they substitute directly — the
# outside-strings scanner would refuse to rewrite across the quotes
_INTRODUCER_QUOTED = re.compile(
    r"(?<![\w$])_(utf8mb4|utf8mb3|utf8|latin1|gbk|binary|ascii)\s*"
    r"([bB]'[01]*'|[xX]'[0-9A-Fa-f]*')",
)


def _decode_introducers(sql: str) -> str:
    """MySQL charset introducers (_utf8mb4 0xE1B482, _latin1 b'…',
    _utf8 'str'): the literal's BYTES read in the named charset
    (different_charsets_a.test).  Hex/binary forms decode to a plain
    string literal; before a quoted literal the introducer just
    drops (the corpus text is already UTF-8)."""

    def rep(m: re.Match) -> str:
        cs, lit = m.group(1).lower(), m.group(2)
        if not lit:
            return ""  # introducer before a quoted literal: drop it
        if lit[0] in "bBxX" and lit[1] == "'":
            # quoted b'0101' / x'41' literal forms (bit_type.test's
            # _latin1 b'1000001')
            digits = lit[2:-1]
            if lit[0] in "xX":
                b = bytes.fromhex(digits or "00")
            else:
                n = int(digits, 2) if digits else 0
                b = n.to_bytes(max(1, (n.bit_length() + 7) // 8), "big")
        elif lit[1] in "xX":
            b = bytes.fromhex(lit[2:])
        else:
            n = int(lit[2:], 2)
            b = n.to_bytes(max(1, (n.bit_length() + 7) // 8), "big")
        return _decoded(cs, b)

    def _decoded(cs: str, b: bytes) -> str:
        enc = {
            "latin1": "latin-1", "gbk": "gbk",
            "binary": "latin-1", "ascii": "ascii",
        }.get(cs, "utf-8")
        s = b.decode(enc, "replace")
        return "'" + s.replace("\\", "\\\\").replace("'", "''") + "'"

    sql = _INTRODUCER_QUOTED.sub(
        lambda m: rep(m), sql
    )  # whole literal inside the match: safe as a direct sub
    return _sub_outside_strings(sql, _INTRODUCER, rep)


_TRUTH_ATOM = (
    r"(?:(?:[A-Za-z_][\w$]*\s*\.\s*)?[A-Za-z_][\w$]*|`[^`]+`"
    r"|\d+(?:\.\d+)?|\((?:[^()]|\([^()]*\))*\))"
)

_IS_TRUTH = re.compile(
    rf"({_TRUTH_ATOM})\s+IS\s+(NOT\s+)?(TRUE|FALSE)\b", re.I
)


# Generated boolean literals.  Generators must NEVER emit the bare
# TRUE/FALSE keywords: compiled fragments can re-enter rewrite_expr
# (the UPDATE…WHERE path does), where the MySQL TRUE/FALSE→1/0
# literalization pass would re-match a generated keyword and produce
# coalesce(BOOLEAN, INT) type mismatches.  CAST(n AS BOOLEAN) is
# idempotent under every pass on both engines.
_BTRUE = "CAST(1 AS BOOLEAN)"
_BFALSE = "CAST(0 AS BOOLEAN)"


def _rewrite_is_truth(sql: str) -> str:
    """MySQL ``x IS [NOT] TRUE/FALSE`` over NUMERIC x (bit_type.test's
    ``a is true`` over BIT): truthiness is x <> 0, and — unlike plain
    comparisons — IS TRUE is never NULL (NULL IS TRUE = 0,
    NULL IS NOT TRUE = 1).  Both engines only accept IS TRUE on
    booleans, so spell it out; result is MySQL's 1/0 int."""

    def rep(m: re.Match) -> str:
        x, neg, which = m.group(1), m.group(2), m.group(3).upper()
        if _is_bool_shaped(x):
            # the operand is already boolean ((c0 IS NULL) IS TRUE,
            # issue1942): no numeric truthiness needed.  For IS FALSE
            # the NOT must sit INSIDE the COALESCE so a NULL operand
            # maps to 0 first (NULL IS FALSE = 0 in MySQL, not 1)
            if which == "TRUE":
                inner = f"COALESCE(({x}), {_BFALSE})"
            else:
                inner = f"COALESCE(NOT ({x}), {_BFALSE})"
        else:
            op = "<>" if which == "TRUE" else "="
            inner = f"COALESCE(({x}) {op} 0, {_BFALSE})"
        if neg:
            inner = f"NOT {inner}"
        return f"CAST({inner} AS INT)"

    return _sub_outside_strings(sql, _IS_TRUTH, rep)


def _is_bool_shaped(expr: str) -> bool:
    """True when the expression (after stripping balanced outer
    parens) is boolean at its top level."""
    t = expr.strip()
    while t.startswith("(") and t.endswith(")"):
        inner = t[1:-1]
        if _split_top_commas(inner) != [inner]:
            break
        t = inner.strip()
    return _is_toplevel_bool(t)


_BANG_NOT = re.compile(rf"(?<![!<>=])!(?!=)\s*({_TRUTH_ATOM})")


def _rewrite_bang_not(sql: str) -> str:
    """MySQL's high-precedence ``!x`` operator (bit_type.test's
    ``!(a+b)``): 1 when x = 0, 0 when x <> 0, NULL on NULL — which is
    exactly ``(x) = 0`` as MySQL's 1/0 int."""
    return _sub_outside_strings(
        sql, _BANG_NOT, lambda m: f"CAST((({m.group(1)}) = 0) AS INT)"
    )


_TRUTHY_ITEM = re.compile(
    rf"^(?:NOT\s+)*{_TRUTH_ATOM}"
    rf"(?:\s+(?:AND|OR|XOR)\s+(?:NOT\s+)*{_TRUTH_ATOM})+$"
    rf"|^(?:NOT\s+)+{_TRUTH_ATOM}$",
    re.I,
)

_TRUTHY_SPLIT = re.compile(r"\s+(AND|OR|XOR)\s+", re.I)


def _truthy_term(term: str) -> str:
    """One operand of a numeric logical op → boolean with MySQL
    truthiness (nonzero = true, NULL = unknown)."""
    nots = 0
    t = term.strip()
    while True:
        nm = re.match(r"NOT\s+", t, re.I)
        if not nm:
            break
        nots += 1
        t = t[nm.end():]
    if t.upper() == "NULL":
        b = "CAST(NULL AS BOOLEAN)"
    else:
        # MySQL x/0 is NULL; Spark ANSI throws — NULLIF the zero
        # divisor (insert.test's ``where 1/0 or 1``)
        t = re.sub(r"/\s*(0+(?:\.0*)?)(?![\w.])", r"/ NULLIF(\1, 0)", t)
        b = f"(({t}) <> 0)"
    for _ in range(nots):
        b = f"(NOT {b})"
    return b


def _rewrite_truthy_logic_items(sql: str) -> str:
    """MySQL applies AND/OR/XOR/NOT to NUMBERS (nonzero = true;
    bit_type.test's ``select not a, a and b, a xor 1 … from bit2``);
    both engines demand booleans.  Rewrite SELECT-list items that are
    pure logical combinations of simple atoms (identifiers, literals,
    NULL, parenthesized arithmetic) into explicit truthy form, cast to
    MySQL's 1/0 int.  Items with any other shape (comparisons,
    BETWEEN…AND, function calls) pass through untouched — their AND/OR
    operands are already boolean.  Single-precedence left-assoc is
    fine for the corpus's two-term items; XOR is <> on booleans
    (NULL-propagating, like MySQL)."""
    m = re.match(r"^\s*SELECT\s+(?:DISTINCT\s+)?", sql, re.I)
    if not m:
        return sql
    list_start = m.end()
    from_i = _scan_token(sql, list_start, 0, ("FROM",))
    if from_i < 0:
        return sql
    items = _split_top_commas(sql[list_start:from_i])
    changed = False
    out_items = []
    for item in items:
        body = item.strip()
        # peel "( core ) AS alias" — other_bit's (v || b) AS concat
        # arrives here as (v OR b) AS concat after the logical-op pass
        alias = ""
        pm = re.fullmatch(
            r"(?is)\(([^()']*)\)\s+AS\s+(`[^`]+`|\w+)", body
        )
        if pm and _TRUTHY_ITEM.match(pm.group(1).strip()):
            body, alias = pm.group(1).strip(), f" AS {pm.group(2)}"
        if _TRUTHY_ITEM.match(body) and re.search(
            r"\b(AND|OR|XOR|NOT)\b", body, re.I
        ):
            parts = _TRUTHY_SPLIT.split(body)
            expr = _truthy_term(parts[0])
            for op, term in zip(parts[1::2], parts[2::2]):
                op = op.upper()
                rhs = _truthy_term(term)
                expr = f"({expr} {'<>' if op == 'XOR' else op} {rhs})"
            out_items.append(f"CAST({expr} AS INT){alias}")
            changed = True
        else:
            out_items.append(item.strip())
    if not changed:
        return sql
    return (
        sql[:list_start] + ", ".join(out_items) + " " + sql[from_i:]
    )


_WTRUTH_ATOM = (
    r"(?:\d+(?:\.\d+)?(?:\s*[*/%+-]\s*\d+(?:\.\d+)?)*"
    r"|(?:[A-Za-z_][\w$]*\s*\.\s*)?[A-Za-z_][\w$]*|`[^`]+`"
    r"|\((?:[^()]|\([^()]*\))*\))"
)

_WTRUTH = re.compile(
    rf"\bWHERE\s+((?:NOT\s+)*{_WTRUTH_ATOM}"
    rf"(?:\s+(?:AND|OR|XOR)\s+(?:NOT\s+)*{_WTRUTH_ATOM})+)\s*"
    rf"(?=$|ORDER\b|GROUP\b|LIMIT\b|HAVING\b)",
    re.I,
)


_WTRUTH_BODY = re.compile(
    rf"(?:NOT\s+)*{_WTRUTH_ATOM}"
    rf"(?:\s+(?:AND|OR|XOR)\s+(?:NOT\s+)*{_WTRUTH_ATOM})+",
    re.I,
)


def _truthy_condition_text(expr: str) -> str:
    """A bare condition whose atoms are identifiers or literal
    arithmetic (``1/0 or 1``) gets MySQL numeric truthiness; anything
    comparison-shaped passes through unchanged."""
    body = expr.strip()
    if re.search(
        r"(?i)[<>=!]|\b(BETWEEN|IS|LIKE|IN|EXISTS|SELECT)\b", body
    ):
        # comparison-shaped predicates (possibly inside parenthesized
        # "atoms") are already boolean — never rewrite them
        return expr
    if not _WTRUTH_BODY.fullmatch(body):
        return expr
    parts = _TRUTHY_SPLIT.split(body)
    out = _truthy_term(parts[0])
    for op, term in zip(parts[1::2], parts[2::2]):
        rhs = _truthy_term(term)
        out = f"({out} {'<>' if op.upper() == 'XOR' else op} {rhs})"
    return f"COALESCE({out}, {_BFALSE})"


def _rewrite_truthy_where(sql: str) -> str:
    """MySQL WHERE over numeric truthiness (insert.test's ``update …
    where 1/0 or 1``): atoms that are identifiers or literal
    arithmetic become ``<atom> <> 0`` booleans.  Comparison-shaped
    predicates don't match the atom grammar and pass through."""

    def rep(m: re.Match) -> str:
        return f"WHERE {_truthy_condition_text(m.group(1))} "

    return _sub_outside_strings(sql, _WTRUTH, rep)


_COND_TOK = re.compile(
    r"\s*(?:"
    r"(?P<str>'(?:[^'\\]|\\.)*'|\"(?:[^\"\\]|\\.)*\")"
    r"|(?P<num>\d+(?:\.\d+)?(?:[eE][+-]?\d+)?)"
    r"|(?P<ident>(?:`[^`]+`|[A-Za-z_@][\w$]*)(?:\s*\.\s*(?:`[^`]+`|[A-Za-z_][\w$]*))*)"
    r"|(?P<op><=>|<>|!=|>=|<=|=|<|>|\|\||&&|[-+*/%&|^!~])"
    r"|(?P<lp>\()|(?P<rp>\))|(?P<comma>,)"
    r")"
)

_LOGICAL_WORDS = {"AND", "OR", "XOR"}
_LEAF_BLOCK_NEXT = {"IS", "LIKE", "BETWEEN", "IN", "NOT", "REGEXP",
                    "RLIKE", "SOUNDS", "ESCAPE", "COLLATE", "DIV", "MOD"}


def _cond_tokens(text: str):
    toks, i = [], 0
    while i < len(text):
        m = _COND_TOK.match(text, i)
        if not m or m.end() == i:
            if not text[i:].strip():
                break  # trailing whitespace
            return None  # unknown char: bail, leave text untouched
        kind = m.lastgroup
        toks.append((kind, m.group(m.lastgroup), m.start(m.lastgroup),
                     m.end(m.lastgroup)))
        i = m.end()
    return toks


def _wrap_truthy_leaves(cond: str) -> str:
    """MySQL boolean context over numeric leaves (issue431/468/469:
    ``(b = 5 AND a > 2 OR 0)``, ``e1 AND (e2 AND e3)``): wrap bare
    numeric literals and identifiers that sit directly between logical
    operators / parens in ``(x <> 0)``.  Leaves adjacent to
    comparisons, arithmetic, function calls, or BETWEEN's AND keep
    their numeric role."""
    toks = _cond_tokens(cond)
    if toks is None:
        return cond
    n = len(toks)
    # classify each AND as logical vs BETWEEN-consuming
    between_and = set()
    depth_pending: list[int] = []  # paren depth at each open BETWEEN
    depth = 0
    for idx, (kind, text, _s, _e) in enumerate(toks):
        if kind == "lp":
            depth += 1
        elif kind == "rp":
            depth -= 1
            while depth_pending and depth_pending[-1] > depth:
                depth_pending.pop()
        elif kind == "ident" and text.upper() == "BETWEEN":
            depth_pending.append(depth)
        elif kind == "ident" and text.upper() == "AND" and depth_pending \
                and depth_pending[-1] == depth:
            depth_pending.pop()
            between_and.add(idx)

    def is_logical(idx: int) -> bool:
        k, t, _s, _e = toks[idx]
        return (
            k == "ident" and t.upper() in _LOGICAL_WORDS
            and idx not in between_and
        )

    # Paren pairs + per-pair boolean-context flag.  A leaf adjacent to
    # a paren is in boolean context only when the ENCLOSING GROUP is —
    # both what precedes the '(' AND what follows the matching ')'
    # must be logical.  Without the rp-side check, `((t) <> 0)` and
    # `a <> (b)` re-wrap their inner leaf (an idempotence break:
    # compiled fragments re-enter this pass via UPDATE…WHERE).
    lp_of, rp_of = {}, {}
    stack: list[int] = []
    for idx, (kind, _t, _s, _e) in enumerate(toks):
        if kind == "lp":
            stack.append(idx)
        elif kind == "rp" and stack:
            li = stack.pop()
            lp_of[idx], rp_of[li] = li, idx
    bool_pair: dict[int, bool] = {}
    for li in sorted(rp_of):  # parents (smaller lp index) first
        ri = rp_of[li]
        if li == 0:
            before = True
        else:
            pk, pt = toks[li - 1][0], toks[li - 1][1].upper()
            before = (
                (pk == "ident" and (pt in _LOGICAL_WORDS or pt in (
                    "NOT", "WHERE", "HAVING", "WHEN", "THEN", "ELSE",
                    "ON")))
                or (pk == "lp" and bool_pair.get(li - 1, False))
            )
        if ri + 1 >= len(toks):
            after = True
        else:
            nk, nt = toks[ri + 1][0], toks[ri + 1][1].upper()
            after = (
                (nk == "ident" and (nt in _LOGICAL_WORDS or nt in (
                    "THEN", "ELSE", "END", "GROUP", "ORDER", "LIMIT")))
                or (nk == "rp" and bool_pair.get(lp_of.get(ri + 1, -1),
                                                 False))
            )
        bool_pair[li] = before and after

    out = []
    last = 0
    for idx, (kind, text, s, e) in enumerate(toks):
        if kind not in ("num", "ident"):
            continue
        up = text.upper()
        if kind == "ident" and (
            up in _LOGICAL_WORDS or up in _LEAF_BLOCK_NEXT
            or up in ("TRUE", "FALSE", "NULL", "EXISTS", "SELECT",
                      "CASE", "WHEN", "THEN", "ELSE", "END", "ASC",
                      "DESC", "INTERVAL", "BINARY", "DISTINCT")
        ):
            continue
        prev_ok = (
            idx == 0 or is_logical(idx - 1)
            or (toks[idx - 1][0] == "ident"
                and toks[idx - 1][1].upper() == "NOT")
            or (toks[idx - 1][0] == "lp"
                and bool_pair.get(idx - 1, False))
        )
        if not prev_ok:
            continue
        next_ok = (
            idx + 1 >= n or is_logical(idx + 1)
            or (toks[idx + 1][0] == "rp"
                and bool_pair.get(lp_of.get(idx + 1, -1), False))
        )
        if not next_ok:
            continue
        out.append(cond[last:s])
        out.append(f"(({text}) <> 0)")
        last = e
    if not out:
        return cond
    out.append(cond[last:])
    return "".join(out)


def _xor_to_neq(cond: str) -> str:
    """Top-level ``X XOR Y`` between boolean operands (issue446):
    neither engine has XOR — booleans differ exactly when <>.  Only
    rewrites when no top-level OR competes (AND binds tighter than
    XOR, so splitting on XOR keeps MySQL precedence)."""
    toks = _cond_tokens(cond)
    if toks is None:
        return cond
    depth = 0
    cuts = []
    for kind, text, s, e in toks:
        if kind == "lp":
            depth += 1
        elif kind == "rp":
            depth -= 1
        elif kind == "ident" and depth == 0:
            if text.upper() == "OR":
                return cond
            if text.upper() == "XOR":
                cuts.append((s, e))
    if not cuts:
        return cond
    parts, last = [], 0
    for s, e in cuts:
        parts.append(cond[last:s])
        last = e
    parts.append(cond[last:])
    return " <> ".join(f"COALESCE(({p.strip()}), NULL)" for p in parts)


_CLAUSE_KW = re.compile(r"(?i)\b(WHERE|HAVING)\b")
_CLAUSE_END = re.compile(
    r"(?i)\bGROUP\s+BY\b|\bORDER\s+BY\b|\bLIMIT\b|\bHAVING\b|\bUNION\b"
)


def _truthy_bool_clauses(sql: str) -> str:
    """Apply the truthy-leaf / XOR normalizations to WHERE and HAVING
    clause bodies.  Matching runs on a string-literal-masked copy so a
    WHERE inside a literal never starts a rewrite, and the body is
    bounded at the SAME paren depth as the clause keyword so an inner
    subquery's GROUP BY/ORDER BY never truncates it."""
    mask = _ANY_STRLIT.sub(lambda m: "\x00" * len(m.group(0)), sql)
    out, pos = [], 0
    for m in _CLAUSE_KW.finditer(mask):
        if m.start() < pos:
            continue  # keyword inside an already-consumed body
        i, end = m.end(), len(mask)
        while i < end:
            ch = mask[i]
            if ch == "(":  # skip a whole balanced subexpression
                depth = 1
                j = i + 1
                while j < end and depth:
                    if mask[j] == "(":
                        depth += 1
                    elif mask[j] == ")":
                        depth -= 1
                    j += 1
                if depth:  # unbalanced tail: clause owns the rest
                    i = end
                    break
                i = j
                continue
            if ch == ")":
                break  # clause's enclosing subquery closes
            km = _CLAUSE_END.match(mask, i)
            if km:
                break
            i += 1
        out.append(sql[pos:m.start()])
        body = _xor_to_neq(_wrap_truthy_leaves(sql[m.end():i]))
        out.append(f"{m.group(1)} {body.strip()} ")
        pos = i
    out.append(sql[pos:])
    return "".join(out)


def _charset_introspect(inner: str, which: str) -> str:
    """MySQL CHARSET(x)/COLLATION(x) (bit_type.test): ``BINARY x`` has
    charset and collation 'binary'; a plain string literal carries the
    connection charset (the suite runs utf8mb4).  Other argument
    shapes would need live column-charset tracking — raise so nothing
    silently returns the wrong catalog string."""
    s = inner.strip()
    if re.match(r"(?i)^BINARY\b", s):
        return "'binary'"
    if re.match(r"^'(?:[^'\\]|\\.)*'$", s):
        return "'utf8mb4'" if which == "cs" else "'utf8mb4_general_ci'"
    raise ValueError(f"CHARSET()/COLLATION() over unsupported arg: {inner!r}")


def _is_toplevel_bool(expr: str) -> bool:
    """True when an aggregate argument is boolean-valued at its top
    level — a comparison, IS [NOT] NULL, LIKE, or BETWEEN outside any
    parentheses, string, or CASE…END (whose internal comparisons
    don't make the CASE boolean).  Drives MySQL's bool→0/1 coercion
    under SUM/AVG (insert_into_select.test's SUM(a IS NULL))."""
    depth = case_depth = 0
    in_str = None
    i, n = 0, len(expr)
    while i < n:
        ch = expr[i]
        if in_str:
            if ch == "\\":
                i += 1
            elif ch == in_str:
                in_str = None
        elif ch in ("'", '"'):
            in_str = ch
        elif ch == "(":
            depth += 1
        elif ch == ")":
            depth -= 1
        elif depth == 0 and ch.isalpha():
            m = re.match(r"[A-Za-z_]\w*", expr[i:])
            word = m.group(0).upper()
            if word == "CASE":
                case_depth += 1
            elif word == "END" and case_depth:
                case_depth -= 1
            elif case_depth == 0 and word in (
                "IS", "LIKE", "BETWEEN", "EXISTS",
            ):
                # EXISTS(SELECT …) is boolean at its top level —
                # trigger-fold guards wrap it in IF(…)
                return True
            i += len(word)
            continue
        elif depth == 0 and case_depth == 0 and ch in "=<>":
            return True
        elif depth == 0 and case_depth == 0 and ch == "!" and \
                i + 1 < n and expr[i + 1] == "=":
            return True
        i += 1
    return False


# ---------------------------------------------------------------------
# STR_TO_DATE (date_formats.test) — %-spec parsing.  The compiler in
# strtodate_sql.py emits pure, backslash-free SQL portable across both
# engines; results are MySQL textual renderings (STRING) because zero
# dates and >24h TIME values aren't representable natively.  With a
# non-constant format (a format COLUMN), MySQL types the result
# DATETIME(6) and we dispatch over the %-spec-looking string literals
# collected from the whole script (single-threaded, like _NUS_MODE).
_STR_FMT_POOL: list[str] = []

_STD_SPEC_RE = re.compile(r"%[YymcdeHkhIlisSfjUuVvXxwWabprTD#.@]")

_GET_FORMAT_CALL = re.compile(
    r"(?i)\bGET_FORMAT\s*\(\s*(\w+)\s*,\s*['\"](\w+)['\"]\s*\)"
)


def _fold_get_format(text: str) -> str:
    """GET_FORMAT(DATE,'USA') → its constant %-spec literal (MySQL 5.7
    table; date_formats.test feeds it into an INSERT VALUES tuple).
    Plain .sub, not _sub_outside_strings: the call's own quoted second
    argument is part of the match."""
    from stonedb_spark.strtodate_sql import GET_FORMAT

    def rep(m: re.Match) -> str:
        v = GET_FORMAT.get((m.group(1).upper(), m.group(2).upper()))
        if v is None:
            raise ValueError(
                f"unknown GET_FORMAT({m.group(1)}, {m.group(2)!r})"
            )
        return f"'{v}'"

    return _GET_FORMAT_CALL.sub(rep, text)


def _collect_std_formats(script: str) -> list[str]:
    """Every string literal in the script that looks like a %-spec
    format — candidates for the non-constant-format CASE dispatch."""
    out = set()
    for m in re.finditer(
        r"'((?:[^'\\]|\\.)*)'|\"((?:[^\"\\]|\\.)*)\"", script
    ):
        s = m.group(1) if m.group(1) is not None else m.group(2)
        if s and _STD_SPEC_RE.search(s):
            out.add(s)
    return sorted(out)


def _fmt_literal(expr: str) -> str | None:
    """The format text when the expression is a string literal or a
    CONCAT of string literals (MySQL const-folds the concat before
    deriving the result type — date_formats.test line 17)."""
    t = expr.strip()
    m = re.fullmatch(r"'((?:[^'\\]|\\.)*)'|\"((?:[^\"\\]|\\.)*)\"", t)
    if m:
        return m.group(1) if m.group(1) is not None else m.group(2)
    cm = re.fullmatch(r"(?is)CONCAT\s*\((.*)\)", t)
    if cm:
        parts = [_fmt_literal(p) for p in _split_top_commas(cm.group(1))]
        if all(p is not None for p in parts):
            return "".join(parts)  # type: ignore[arg-type]
    return None


def _std_compile(args: str, engine: str) -> str:
    from stonedb_spark.strtodate_sql import (
        compile_str_to_date, str_to_date_case,
    )

    parts = _split_top_commas(args)
    if len(parts) != 2:
        raise ValueError(f"STR_TO_DATE needs 2 args: {args[:80]!r}")
    val, fmt = parts[0].strip(), parts[1].strip()
    lit = _fmt_literal(fmt)
    if lit is not None:
        return compile_str_to_date(f"({val})", lit, engine, dynamic=False)
    if engine == "spark":
        # non-constant format: the Arrow-batched pandas UDF (registered
        # by run_script) — the pure-SQL CASE over every candidate
        # format explodes Catalyst analysis; the UDF and the oracle's
        # SQL CASE are independent implementations cross-validated by
        # the oracle comparison itself
        return f"mysql_str_to_date(CAST(({val}) AS STRING), ({fmt}))"
    return str_to_date_case(f"({val})", f"({fmt})", _STR_FMT_POOL, engine)


_STD_CALL = re.compile(r"(?is)^\s*STR_TO_DATE\s*\((.*)\)\s*$")

_STD_UDF_SESSIONS: set[int] = set()


def _register_str_to_date_udf(spark) -> None:
    """Arrow-batched pandas UDF for dynamic-format STR_TO_DATE —
    registered once per SparkSession, map-only projection (linear at
    any scale, no shuffle)."""
    if id(spark) in _STD_UDF_SESSIONS:
        return
    import pandas as pd
    from pyspark.sql.functions import pandas_udf

    from stonedb_spark.strtodate_sql import py_str_to_date

    def _std(v, f):  # no annotations: __future__ strings break resolution
        return pd.Series(
            [py_str_to_date(a, b) for a, b in zip(v, f)], dtype=object
        )

    spark.udf.register("mysql_str_to_date", pandas_udf(_std, "string"))
    _STD_UDF_SESSIONS.add(id(spark))


def _rewrite_str_to_date(sql: str, engine: str) -> str:
    """STR_TO_DATE and the downstream shapes date_formats.test applies
    to its STRING result: CAST(… AS DATETIME) strips the fractional
    part (DATETIME(0) truncation), DATE(…) is the first 10 chars,
    TIME(…) everything after the date+space prefix.  These must
    intercept the textual form BEFORE the generic CAST/TIME/DATE
    handlers (which expect real temporal values)."""
    if not re.search(r"(?i)STR_TO_DATE", sql):
        return sql

    def cast_fn(inner: str) -> str:
        m = re.fullmatch(
            r"(?is)\s*(STR_TO_DATE\s*\(.*\))\s+AS\s+DATETIME\s*", inner
        )
        if not m:
            return f"CAST({inner})"
        call = _STD_CALL.match(m.group(1))
        x = _std_compile(call.group(1), engine)
        return f"regexp_replace({x}, '[.][0-9]*$', '')"

    sql = _wrap_calls(sql, "CAST", cast_fn)

    def date_fn(inner: str) -> str:
        m = _STD_CALL.match(inner)
        if not m:
            return f"DATE({inner})"
        return f"SUBSTR({_std_compile(m.group(1), engine)}, 1, 10)"

    sql = _wrap_calls(sql, "DATE", date_fn)

    def time_fn(inner: str) -> str:
        m = _STD_CALL.match(inner)
        if not m:
            return f"TIME({inner})"
        return f"SUBSTR({_std_compile(m.group(1), engine)}, 12)"

    sql = _wrap_calls(sql, "TIME", time_fn)
    return _wrap_calls(sql, "STR_TO_DATE",
                       lambda i: _std_compile(i, engine))


def rewrite_expr(sql: str, engine: str) -> str:
    """The shared MySQL→(Spark|DuckDB) expression/text rewriter.

    Memoised: scripts repeat the same texts (bare INSERT values above
    all).  Besides the text and the engine, the rewrite reads two pieces
    of per-script state — the NO_UNSIGNED_SUBTRACTION flag and the
    STR_TO_DATE format pool — so both are part of the key.  A raised
    error is not cached; the next call raises it again."""
    return _rewrite_expr(sql, engine, _NUS_MODE[0], tuple(_STR_FMT_POOL))


@functools.lru_cache(maxsize=1 << 14)
def _rewrite_expr(sql: str, engine: str, _nus: bool,
                  _fmt_pool: tuple[str, ...]) -> str:
    _huge_int_arith_guard(sql)
    _const_1690_guard(sql)

    # MySQL's dummy relation: SELECT … FROM dual ≡ FROM-less SELECT
    # (issue1860); neither engine has a dual table
    sql = _sub_outside_strings(
        sql, _FROM_DUAL, lambda m: " "
    )
    if engine == "spark":
        # correlated scalar subqueries in JOIN ON positions
        # pre-materialize as projected columns (issue538)
        sql = _decorrelate_on_subqueries(sql)
    # MySQL ROUND(DECIMAL(p,s) expr, n) yields scale-n DECIMAL (renders
    # trailing zeros — tohanzi's ROUND(money, 2) = '123123.00'); both
    # engines keep the input scale.  Narrow pattern: an explicit
    # CAST…AS DECIMAL(p,s) argument with a literal non-negative scale.
    def _round_dec_fn(inner: str) -> str:
        p2 = _split_top_commas(inner)
        if len(p2) == 2:
            dm_ = re.search(
                r"(?is)AS\s+DECIMAL\s*\(\s*(\d+)\s*,\s*(\d+)\s*\)"
                r"(?:\s*\))+\s*$",
                p2[0].strip())
            nm_ = re.fullmatch(r"\s*(\d+)\s*", p2[1])
            if dm_ and nm_:
                prec, sc = int(dm_.group(1)), int(dm_.group(2))
                n = int(nm_.group(1))
                if n >= 0:
                    return (
                        f"CAST(ROUND({inner}) AS "
                        f"DECIMAL({max(prec - sc + n, 1)}, {n}))"
                    )
        return f"ROUND({inner})"

    sql = _wrap_calls(sql, "ROUND", _round_dec_fn)
    if engine == "duck":
        # parenthesized joined-table operands (issue538)
        sql = _peel_join_operand_parens(sql)
    if engine == "duck":
        # MySQL compares a string BETWEEN numeric bounds numerically
        # (is_id_card's substr(…) BETWEEN '1900' AND year(now()));
        # DuckDB refuses the VARCHAR/number mix.  Runs on the RAW text
        # (before substr/case expansion): when the low bound is a
        # digit-string literal and the high bound is not a string,
        # coerce subject + low to numbers (the high bound is captured
        # with a depth scan — DAY(LAST_DAY(CONCAT(…))) nests deeper
        # than a bounded regex).
        sql = _rewrite_between_mix_duck(sql)
    # MySQL `x IN (NOT NULL)` evaluates NOT NULL → NULL (issue1332's
    # boundary battery); Spark's coercion refuses BIGINT-vs-BOOLEAN
    sql = re.sub(r"(?i)\bIN\s*\(\s*NOT\s+NULL\s*\)", "IN (NULL)", sql)
    # MySQL reads 1- and 3-digit years in temporal literals literally
    # ('111-11-10' = year 111) but PIVOTS 2-digit years (00-69 → 20yy,
    # 70-99 → 19yy, sql-common/my_time.c); both engines want 4 digits
    # (issue1332's BETWEEN, timestampdiff_function's '09-02-11').
    # Literals inside STRING-function arguments are plain strings, not
    # temporal values — SUBSTR('15-01-20', 1, 2) must stay '15' — so
    # those call bodies are masked out of the pad.
    def _pad_year_fn(m: "re.Match[str]") -> str:
        ytxt = m.group(1)
        y = int(ytxt)
        if len(ytxt) == 2:
            y = 2000 + y if y <= 69 else 1900 + y
        return (f"'{y:04d}-{int(m.group(2)):02d}-"
                f"{int(m.group(3)):02d}{m.group(4)}'")

    _shortdate = re.compile(
        r"'(\d{1,3})-(\d{1,2})-(\d{1,2})((?: [\d:.]+)?)'")
    if _shortdate.search(sql):
        _protected: list[str] = []

        def _prot(m: "re.Match[str]") -> str:
            _protected.append(m.group(0))
            return f"\x05{len(_protected) - 1}\x05"

        for _sfn in _DATEPAD_STRFNS:
            sql = _wrap_calls(
                sql, _sfn,
                lambda inner, f=_sfn:
                f"{f}({_shortdate.sub(_prot, inner)})",
            )
        sql = _shortdate.sub(_pad_year_fn, sql)
        sql = re.sub(r"\x05(\d+)\x05",
                     lambda m: _protected[int(m.group(1))], sql)
    # VERSION(): the reference server reports 5.7.36-StoneDB-vX.Y.Z
    # (sql/mysqld.cc:8106; X.Y.Z is stamped at build time — issue1251
    # only regexp-checks the shape)
    sql = _sub_outside_strings(
        sql, _VERSION_CALL, lambda m: "'5.7.36-StoneDB-v1.0.0'"
    )

    # tianmu 1105: CEILING/FLOOR over a BARE beyond-DECIMAL(18) integer
    # literal errors (func_math.test); the CAST form is the documented
    # escape hatch and passes through
    def _ceilfloor_fn(inner: str, fname: str) -> str:
        if re.fullmatch(r"\d{19,}", inner.strip()) and \
                int(inner.strip()) > 10**18:
            raise ValueError(
                f"numeric result of {fname}({inner.strip()[:25]}…) is too "
                f"large for tianmu's DECIMAL(18) cap (error 1105 analog; "
                f"use an explicit CAST)"
            )
        return f"{fname}({inner})"

    for _cf in ("CEILING", "CEIL", "FLOOR"):
        sql = _wrap_calls(sql, _cf, lambda i, f=_cf: _ceilfloor_fn(i, f))

    # ROUND/TRUNCATE scale arguments: MySQL clamps huge/unsigned-cast
    # scales (round(4, 18446744073709551614) = 4); Spark's round needs
    # a foldable int32 — fold literal scales driver-side
    def _fold_scale(args: str, fname: str) -> str:
        p = _split_top_commas(args)
        if len(p) != 2:
            return f"{fname}({args})"
        t = p[1].strip()
        um = re.fullmatch(
            r"(?is)CAST\s*\(\s*(-?\d+)\s+AS\s+UNSIGNED(\s+INTEGER)?\s*\)", t
        )
        if um:
            v = int(um.group(1)) % _U64
        elif re.fullmatch(r"-?\d+", t):
            v = int(t)
        else:
            return f"{fname}({args})"
        return f"{fname}({p[0]}, {max(-30, min(30, v))})"

    for _rf in ("ROUND", "TRUNCATE"):
        sql = _wrap_calls(sql, _rf, lambda i, f=_rf: _fold_scale(i, f))

    # MySQL's TRUE/FALSE are integer literals 1/0 (bit.test's
    # ``b = true`` against a numeric column; SELECT TRUE prints 1).
    # IS [NOT] TRUE/FALSE keeps the keyword for its dedicated rewrite;
    # later passes' generated booleans are unaffected (this runs on
    # the input text only).
    sql = _sub_outside_strings(
        sql,
        # ON TRUE stays a boolean join condition (issue502-2's
        # CREATE VIEW ... JOIN ... ON TRUE); IS [NOT] TRUE keeps its
        # dedicated rewrite
        re.compile(r"(?i)(?<!IS )(?<!NOT )(?<!ON )\b(TRUE|FALSE)\b"),
        lambda m: "1" if m.group(1).upper() == "TRUE" else "0",
    )
    sql = _decode_introducers(sql)
    # `expr COLLATE name` — collation annotation; comparisons follow
    # the collation machinery elsewhere, the annotation itself drops
    sql = _sub_outside_strings(
        sql, re.compile(r"\s+COLLATE\s+[A-Za-z0-9_]+", re.I), lambda m: ""
    )
    # index hints are physical-plan advice to MySQL's optimizer; the
    # engines plan for themselves (date_formats.test's IGNORE
    # INDEX(PRIMARY) join leg)
    sql = _sub_outside_strings(
        sql,
        re.compile(r"\s+(?:IGNORE|USE|FORCE)\s+INDEX\s*\([^()]*\)", re.I),
        lambda m: "",
    )
    # MySQL nested-join syntax `A LEFT JOIN B LEFT JOIN C ON c2 ON c1`
    # binds the SECOND ON to the outer join (B joins C first) —
    # issue887; both engines need the grouping parenthesized
    sql = _sub_outside_strings(
        sql,
        re.compile(
            r"(?is)\b(LEFT|RIGHT|INNER|CROSS)\s+JOIN\s+(`[^`]+`|\w+)\s+"
            r"(LEFT|RIGHT|INNER|CROSS)\s+JOIN\s+(`[^`]+`|\w+)\s+"
            r"ON\s+(.+?)\s+ON\s+"
        ),
        lambda m: (
            f"{m.group(1)} JOIN ({m.group(2)} {m.group(3)} JOIN "
            f"{m.group(4)} ON {m.group(5)}) ON "
        ),
    )
    # single-ON variant: `A INNER JOIN B INNER JOIN C ON c` — MySQL
    # binds the ON to the NEAREST (B×C) join and leaves A×B bare, i.e.
    # a cross join (issue887's inner legs)
    sql = _sub_outside_strings(
        sql,
        re.compile(
            r"(?is)(?<!LEFT )(?<!RIGHT )(?<!OUTER )(?<!NATURAL )"
            r"\b(?:(?:INNER|CROSS)\s+)?JOIN\s+(`[^`]+`|\w+)\s+"
            r"(?:(?:INNER|CROSS)\s+)?"
            r"(?<!LEFT )(?<!RIGHT )(?<!OUTER )(?<!NATURAL )"
            r"JOIN\s+(`[^`]+`|\w+)\s+ON\s+"
            r"(.+?)(?=\s+(?:WHERE|ORDER|GROUP|LIMIT)\b|\s*$)"
        ),
        lambda m: (
            f"CROSS JOIN ({m.group(1)} JOIN {m.group(2)} "
            f"ON {m.group(3).strip()})"
        ),
    )
    # LIKE canonicalization reads raw MySQL literals, so it runs before
    # the engine re-encode of every string literal
    sql = _rewrite_like_patterns(sql)
    # POSITION(B'…' IN B'…') — bit literals in a STRING context are
    # their big-endian bytes (ceil(nbits/8), leading zeros implicit);
    # POSITION finds the byte offset (other_bit.test's boundary
    # battery).  Both args are literals in the corpus — fold in Python.
    def _position_fn(inner: str) -> str:
        pm = re.fullmatch(
            r"(?is)\s*[bB]'([01]*)'\s+IN\s+[bB]'([01]*)'\s*", inner
        )
        if not pm:
            return f"POSITION({inner})"

        def as_bytes(bits: str) -> bytes:
            if not bits:
                return b""
            return int(bits, 2).to_bytes((len(bits) + 7) // 8, "big")

        return str(as_bytes(pm.group(2)).find(as_bytes(pm.group(1))) + 1)

    sql = _wrap_calls(sql, "POSITION", _position_fn)
    if engine == "duck":
        # MySQL DAYOFWEEK is ODBC-style 1=Sunday; DuckDB's is 0=Sunday.
        # Runs BEFORE the STR_TO_DATE/WEEKDAY passes whose GENERATED
        # dayofweek calls are already engine-correct (their inners are
        # CAST/MAKE_DATE forms, skipped by the guard).
        def _dow_fn(inner: str) -> str:
            t = inner.strip()
            if re.match(r"(?i)^(CAST|MAKE_DATE)\s*\(", t):
                return f"DAYOFWEEK({inner})"
            return f"(DAYOFWEEK(CAST(({inner}) AS DATE)) + 1)"

        sql = _wrap_calls(sql, "DAYOFWEEK", _dow_fn)
    sql = _rewrite_str_to_date(sql, engine)
    sql = _wrap_calls(sql, "TIME", lambda i: _time_fn(i, engine))
    sql = _wrap_calls(sql, "SEC_TO_TIME", lambda i: _sec_to_time(i, engine))
    sql = _wrap_calls(sql, "ADDTIME", lambda i: _addtime_fn(i, engine))
    sql = _wrap_calls(
        sql, "SUBTIME", lambda i: _addtime_fn(i, engine, sub=True)
    )

    def _timestamp_fn(inner: str) -> str:
        # MySQL TIMESTAMP(x[, t]): a bare TIME value converts using the
        # CURRENT date (issue429's DATE(TIMESTAMP(val)) = CURDATE());
        # the 2-arg form then adds t as a time delta
        parts = _split_top_commas(inner)
        st_ = "STRING" if engine == "spark" else "VARCHAR"
        x = parts[0].strip()
        base = (
            f"COALESCE(TRY_CAST(({x}) AS TIMESTAMP), "
            f"CAST(CONCAT(CAST(CURRENT_DATE AS {st_}), ' ', "
            f"CAST(({x}) AS {st_})) AS TIMESTAMP))"
        )
        if len(parts) == 1:
            return base
        if len(parts) != 2:
            return f"TIMESTAMP({inner})"
        b = f"CAST(({parts[1].strip()}) AS {st_})"
        secs = (
            f"(CAST(regexp_extract({b}, '^-?([0-9]+):', 1) AS BIGINT) "
            f"* 3600 + CAST(regexp_extract({b}, ':([0-9]+):', 1) "
            f"AS BIGINT) * 60 + CAST(regexp_extract({b}, "
            f"':([0-9]+)([.][0-9]+)?$', 1) AS BIGINT))"
        )
        if engine == "spark":
            return f"({base} + MAKE_INTERVAL(0, 0, 0, 0, 0, 0, {secs}))"
        # interval arithmetic, NOT duckdb's to_seconds() helper — the
        # MySQL TO_SECONDS wrap would re-match it
        return f"({base} + ({secs}) * INTERVAL 1 SECOND)"

    sql = _wrap_calls(sql, "TIMESTAMP", _timestamp_fn)
    sql = _sub_outside_strings(
        sql, re.compile(r"(?i)\bCURDATE\s*\(\s*\)"),
        lambda m: "CURRENT_DATE",
    )
    sql = _rewrite_hex_literals(sql)
    # infix 'a MOD b' (MySQL keyword form) → '%' — same dividend-sign
    # semantics on Spark and DuckDB; MOD(a,b) call form stays
    sql = _sub_outside_strings(
        sql, re.compile(r"\bMOD\b(?!\s*\()", re.I), lambda m: "%"
    )
    sql = _recode_string_literals(sql, engine)
    # MySQL synonyms: ADDDATE/SUBDATE → DATE_ADD/DATE_SUB (call form),
    # CONVERT(x, type) → CAST, CONVERT(x USING cs) → bare expr
    sql = _sub_outside_strings(
        sql, re.compile(r"\bADDDATE\s*\(", re.I), lambda m: "DATE_ADD("
    )
    sql = _sub_outside_strings(
        sql, re.compile(r"\bSUBDATE\s*\(", re.I), lambda m: "DATE_SUB("
    )
    sql = _wrap_calls(
        sql, "CONVERT", lambda i: _convert_to_cast(i, engine)
    )
    sql = _wrap_calls(sql, "CONV", lambda i: _conv_fn(i, engine))
    # MySQL TRUNCATE(x, d): truncate toward zero at d decimal places
    # (d may be negative); neither engine has the two-arg form
    def _truncate_fn(inner: str) -> str:
        p = _split_top_commas(inner)
        if len(p) != 2:
            raise ValueError(f"TRUNCATE needs 2 args: {inner!r}")
        x, d = p
        dl = d.strip()
        if re.fullmatch(r"-?\d+", dl):
            # exact decimal power literal: POWER() returns DOUBLE, and
            # decimal*double → double whose FLOOR saturates at int64
            # (func_math.test's truncate(18446744073709551614, 1))
            di = int(dl)
            pw = "1" + "0" * di if di >= 0 else "0." + "0" * (-di - 1) + "1"
            return (
                f"(CASE WHEN ({x}) >= 0"
                f" THEN FLOOR(({x}) * {pw})"
                f" ELSE CEIL(({x}) * {pw}) END"
                f" / {pw})"
            )
        return (
            f"(CASE WHEN ({x}) >= 0"
            f" THEN FLOOR(({x}) * POWER(10, {d}))"
            f" ELSE CEIL(({x}) * POWER(10, {d})) END"
            f" / POWER(10, {d}))"
        )

    sql = _wrap_calls(sql, "TRUNCATE", _truncate_fn)
    # MySQL BIN/OCT are CONV(x, 10, 2/8) (bit_type.test's readback)
    sql = _wrap_calls(
        sql, "BIN", lambda i: _conv_fn(f"{i}, 10, 2", engine)
    )
    sql = _wrap_calls(
        sql, "OCT", lambda i: _conv_fn(f"{i}, 10, 8", engine)
    )
    # MySQL STD/STDDEV are POPULATION stddev and VARIANCE is VAR_POP
    # (std_test.test); Spark's std/stddev/variance aliases are SAMPLE
    # statistics and DuckDB has no std() at all — spell them out
    sql = _sub_outside_strings(
        sql, re.compile(r"\bSTD(DEV)?\s*\(", re.I), lambda m: "STDDEV_POP("
    )
    sql = _sub_outside_strings(
        sql, re.compile(r"\bVARIANCE\s*\(", re.I), lambda m: "VAR_POP("
    )
    sql = _rewrite_logical_ops(sql)
    sql = _rewrite_is_truth(sql)
    sql = _rewrite_bang_not(sql)
    sql = _rewrite_truthy_logic_items(sql)
    sql = _rewrite_truthy_where(sql)
    sql = _truthy_bool_clauses(sql)
    sql = _wrap_calls(
        sql, "CHARSET", lambda i: _charset_introspect(i, "cs")
    )
    sql = _wrap_calls(
        sql, "COLLATION", lambda i: _charset_introspect(i, "coll")
    )
    # MySQL ATAN2(x) single-arg form is ATAN(x) (bit_type.test)
    sql = _wrap_calls(
        sql, "ATAN2",
        lambda i: f"ATAN({i})"
        if len(_split_top_commas(i)) == 1 else f"ATAN2({i})",
    )
    # MySQL MOD(x, 0) is NULL; Spark's ANSI mode and DuckDB both raise
    def _mod_fn(inner: str) -> str:
        p = _split_top_commas(inner)
        if len(p) != 2:
            return f"MOD({inner})"
        return f"MOD({p[0]}, NULLIF({p[1]}, 0))"

    sql = _wrap_calls(sql, "MOD", _mod_fn)
    # MySQL RAND(seed) is a per-row seeded PRNG; neither engine has a
    # column-seeded form.  Deterministic hash-uniform analog — same
    # expression both engines, but NOT value-parity with MySQL's LCG:
    # execution/statistics surface only, never a designated output.
    def _rand_fn(inner: str) -> str:
        if not inner.strip():
            return "RAND()" if engine == "spark" else "RANDOM()"
        return f"((ABS(HASH({inner})) % 1000000) / 1000000.0)"

    sql = _wrap_calls(sql, "RAND", _rand_fn)
    # MySQL sums/averages booleans as 0/1 ints (insert_into_select.test's
    # SUM(a IS NULL)); both engines reject boolean under SUM/AVG.
    # MIN/MAX over a comparison are 0/1 too (issue415's
    # min((a + a) = 11) flowing into HAVING fun <= 37)
    for agg in ("SUM", "AVG", "MIN", "MAX"):
        sql = _wrap_calls(
            sql,
            agg,
            lambda inner, _a=agg: (
                f"{_a}(CAST(({inner}) AS INT))"
                if _is_toplevel_bool(inner) else f"{_a}({inner})"
            ),
        )
    # MySQL IF(c, a, b) applies truthiness to a NON-boolean condition
    # (trigger.test's if(@a, concat(...), ...) over a string variable:
    # '' and '0…' are false, a leading digit is true); both engines
    # demand a boolean
    def _if_fn(inner: str) -> str:
        p = _split_top_commas(inner)
        if len(p) != 3:
            return f"IF({inner})"
        c = p[0].strip()
        if _is_bool_shaped(c) or _is_toplevel_bool(c):
            return f"IF({inner})"
        _s, _p2, n = _lenient_num(c, engine)
        cond = (f"(CASE WHEN ({c}) IS NULL THEN {_BFALSE} "
                f"ELSE COALESCE({n}, 0) <> 0 END)")
        # MySQL's result type for mixed string/number branches is
        # STRING (Spark ANSI would coerce the string branch to a
        # number and fault on '2:3')
        def _stringy(e: str) -> bool:
            return bool(re.search(r"(?i)'|\bCONCAT\w*\s*\(", e))

        a, b = p[1].strip(), p[2].strip()
        if _stringy(a) != _stringy(b):
            vt = "STRING" if engine == "spark" else "VARCHAR"
            a, b = f"CAST(({a}) AS {vt})", f"CAST(({b}) AS {vt})"
        return f"IF({cond}, {a}, {b})"

    sql = _wrap_calls(sql, "IF", _if_fn)
    # MySQL ISNULL(x) → (x IS NULL): DuckDB lacks the function and the
    # predicate form keeps both engines boolean-typed
    sql = _wrap_calls(sql, "ISNULL", lambda inner: f"(({inner}) IS NULL)")
    # STRCMP exists in neither engine; the CASE keeps -1/0/1 int32 and
    # NULL-propagates like MySQL
    sql = _wrap_calls(sql, "STRCMP", _strcmp_case)
    if engine == "spark":
        sql = _rewrite_simple_case_bool(sql)
        # Spark's LIMIT must fit int32 (bigint_unsigned.test LIMIT 1e10)
        sql = re.sub(
            r"\bLIMIT\s+(\d{10,})\b",
            lambda m: "LIMIT 2147483647"
            if int(m.group(1)) > 2147483647 else m.group(0),
            sql,
            flags=re.I,
        )
    sql = _rewrite_substr_family(sql, engine)
    sql = _rewrite_date_parts(sql, engine)
    sql = _rewrite_period_diff(sql, engine)
    sql = _rewrite_timediff(sql, engine)
    sql = _rewrite_timestamp_addiff(sql, engine)
    # MySQL MD5 string-coerces any argument; Spark's wants STRING/BINARY
    # (ints fault) and DuckDB's wants VARCHAR
    _md5t = "STRING" if engine == "spark" else "VARCHAR"
    sql = _wrap_calls(
        sql, "MD5", lambda i: f"MD5(CAST(({i}) AS {_md5t}))"
    )
    if engine == "duck":
        # DuckDB's ascii/length want VARCHAR and LENGTH returns BIGINT;
        # cast args (MySQL coerces) and result width (Spark is int32)
        sql = _wrap_calls(
            sql, "ASCII",
            lambda i: f"CAST(ASCII(CAST(({i}) AS VARCHAR)) AS INTEGER)",
        )
        for fn in ("CHARACTER_LENGTH", "CHAR_LENGTH"):
            sql = _wrap_calls(
                sql, fn,
                lambda i: f"CAST(LENGTH(CAST(({i}) AS VARCHAR)) AS INTEGER)",
            )
    # MySQL DATE(x) truncates to the date part and yields NULL on
    # non-date input (issue464's DATE(year_test) over YEAR → NULL);
    # route through a text render + TRY_CAST so a SMALLINT-backed YEAR
    # never hits either engine's analysis-time cast rejection.  Compact
    # digit forms: 8 digits read YYYYMMDD, other all-digit strings are
    # invalid (Spark would read '2020' as 2020-01-01; MySQL does not)
    _vt = "STRING" if engine == "spark" else "VARCHAR"

    def _date_fn(i: str) -> str:
        s = f"TRIM(CAST(({i}) AS {_vt}))"

        def rx(n: int) -> str:  # "is exactly n digits" per engine
            return (
                f"{s} RLIKE '^[0-9]{{{n}}}$'" if engine == "spark"
                else f"regexp_matches({s}, '^[0-9]{{{n}}}$')"
            )

        # MySQL's 2-digit-year pivot: 00-69 → 20YY, 70-99 → 19YY
        century = (
            f"CASE WHEN SUBSTR({s}, 1, 2) <= '69' THEN '20' "
            f"ELSE '19' END"
        )
        yymmdd = (
            f"TRY_CAST(CONCAT({century}, SUBSTR({s}, 1, 2), '-',"
            f" SUBSTR({s}, 3, 2), '-', SUBSTR({s}, 5, 2)) AS DATE)"
        )
        yyyymmdd = (
            f"TRY_CAST(CONCAT(SUBSTR({s}, 1, 4), '-',"
            f" SUBSTR({s}, 5, 2), '-', SUBSTR({s}, 7, 2)) AS DATE)"
        )
        anydigits = (
            f"{s} RLIKE '^[0-9]+$'" if engine == "spark"
            else f"regexp_matches({s}, '^[0-9]+$')"
        )
        # compact digit forms MySQL accepts: 6=YYMMDD, 8=YYYYMMDD,
        # 12=YYMMDDHHMMSS, 14=YYYYMMDDHHMMSS (DATE() keeps the date
        # part); any other all-digit shape is invalid → NULL
        return (
            f"(CASE"
            f" WHEN {rx(8)} THEN {yyyymmdd}"
            f" WHEN {rx(14)} THEN {yyyymmdd}"
            f" WHEN {rx(6)} THEN {yymmdd}"
            f" WHEN {rx(12)} THEN {yymmdd}"
            f" WHEN {anydigits} THEN CAST(NULL AS DATE)"
            f" ELSE TRY_CAST({s} AS DATE) END)"
        )

    sql = _wrap_calls(sql, "DATE", _date_fn)
    # MySQL 2-arg DATEDIFF(a, b) = whole days a - b; DuckDB's datediff
    # is the 3-arg part form (issue464)
    def _datediff_fn(inner: str) -> str:
        p = _split_top_commas(inner)
        if len(p) != 2:
            return f"DATEDIFF({inner})"
        a, b = p[0].strip(), p[1].strip()
        if engine == "spark":
            return (f"DATEDIFF(TRY_CAST({a} AS DATE),"
                    f" TRY_CAST({b} AS DATE))")
        return (f"DATEDIFF('day', TRY_CAST({b} AS DATE),"
                f" TRY_CAST({a} AS DATE))")

    sql = _wrap_calls(sql, "DATEDIFF", _datediff_fn)
    # MySQL [NOT] REGEXP: Spark keeps the operator spelling (RLIKE
    # alias); DuckDB needs regexp_matches (user_function's is_id_card)
    _rx_kw = r"(?<!\w)(?!(?:AND|OR|NOT|XOR|WHERE|THEN|WHEN|ELSE|IN|LIKE)\b)"
    _rx_atom = (
        rf"(?:{_rx_kw}\w+\s*{_BW_PAREN2}|{_rx_kw}(?:\w+|`[^`]+`)"
        rf"(?:\s*\.\s*(?:\w+|`[^`]+`))?|'(?:[^'\\]|\\.)*'|{_BW_PAREN2})"
    )
    if engine == "duck":
        sql = re.sub(
            rf"({_rx_atom})\s+(NOT\s+)?REGEXP\s+({_rx_atom})",
            lambda m: (
                f"{'NOT ' if m.group(2) else ''}"
                f"regexp_matches({m.group(1)}, {m.group(3)})"
            ),
            sql, flags=re.I,
        )
    if engine == "duck":
        # MySQL L/RTRIM coerce numeric args to text; DuckDB demands
        # VARCHAR (tohanzi's LTRIM(RTRIM(ROUND(decimal, 2))))
        def _trim_fn(i: str, f: str) -> str:
            # cast only numeric-producing args (tohanzi's
            # RTRIM(ROUND(decimal, 2))): a bare column must keep its
            # name — the cast would rename the unaliased output column
            if len(_split_top_commas(i)) == 1 and re.match(
                r"(?i)\s*(?:ROUND|CAST|FLOOR|CEILING|CEIL|TRUNCATE"
                r"|ABS)\s*\(|^\s*-?\d", i,
            ):
                return f"{f}(CAST(({i}) AS VARCHAR))"
            return f"{f}({i})"

        for _tf in ("LTRIM", "RTRIM"):
            sql = _wrap_calls(sql, _tf,
                              lambda i, f=_tf: _trim_fn(i, f))
    if engine == "duck":
        # Spark FROM_UNIXTIME renders 'yyyy-MM-dd HH:mm:ss' text;
        # mirror it (DuckDB has no from_unixtime)
        sql = _wrap_calls(
            sql, "FROM_UNIXTIME",
            lambda i: (f"strftime(make_timestamp(CAST(({i}) AS BIGINT)"
                       f" * 1000000), '%Y-%m-%d %H:%M:%S')"),
        )
    # CONVERT_TZ with NAMED zones: MySQL returns NULL when the tz name
    # tables aren't loaded — the reference suite never loads them
    # (issue464.result records NULL for ('GMT', 'MET'))
    def _convert_tz_fn(inner: str) -> str:
        p = _split_top_commas(inner)
        if len(p) == 3 and all(
            re.fullmatch(r"\s*'[A-Za-z][^']*'\s*", a) for a in p[1:]
        ):
            return "CAST(NULL AS TIMESTAMP)"
        return f"CONVERT_TZ({inner})"

    sql = _wrap_calls(sql, "CONVERT_TZ", _convert_tz_fn)
    if engine == "duck":
        # DuckDB LENGTH only accepts VARCHAR/BIT: route non-string args
        # through the same text rendering MySQL uses
        sql = _wrap_calls(
            sql, "LENGTH",
            lambda i: f"LENGTH(CAST(({i}) AS VARCHAR))",
        )
        # MySQL CHAR(n) code-point function → chr(); 'AS CHAR(…)' casts
        # must stay (fixed-width lookbehind covers the cast form)
        sql = _sub_outside_strings(
            sql,
            re.compile(r"(?<![\w.])(?<!AS )(?<!as )CHAR\s*\(", re.I),
            lambda m: "chr(",
        )
        # backtick identifiers → double quotes (string literals were
        # already canonicalized to single quotes by the recode pass)
        sql = re.sub(r"`([^`]+)`", r'"\1"', sql)
        # MySQL CONCAT propagates NULL; DuckDB's skips it.  Rewrite to
        # a ||-chain over VARCHAR casts (|| propagates NULL in DuckDB).
        # Runs AFTER the ||→OR pass, so generated || stays concat.
        sql = _wrap_calls(
            sql,
            "CONCAT",
            lambda inner: "("
            + " || ".join(
                f"CAST(({p}) AS VARCHAR)" for p in _split_top_commas(inner)
            )
            + ")",
        )
    # MySQL 5.7 GROUP BY items may carry ASC/DESC (issue415); the
    # deprecated implied sort drops — scripts carry their own ORDER BY
    def _gb_strip(m: re.Match) -> str:
        body = re.sub(r"(?i)\s+(ASC|DESC)\b", "", m.group(2))
        return m.group(1) + body

    sql = _sub_outside_strings(
        sql,
        re.compile(
            r"(?is)(\bGROUP\s+BY\b)(.*?)"
            r"(?=\bHAVING\b|\bORDER\s+BY\b|\bLIMIT\b|\bUNION\b|$|\))"
        ),
        _gb_strip,
    )
    sql = _rewrite_limit_comma(sql)
    sql = _rewrite_quoted_alias(sql, engine)
    sql = _rewrite_div(sql, engine)
    sql = _rewrite_group_concat(sql, engine)
    sql = _rewrite_date_format(sql, engine)
    sql = _rewrite_date_arith(sql, engine)
    sql = _wrap_calls(sql, "CAST", lambda i: _cast_mysql(i, engine))
    sql = _rewrite_cast_signed(sql)
    sql = _rewrite_str_num_compare(sql)
    # MySQL FORMAT(x, d) / negative-SQRT-is-NULL: LAST, so the emitted
    # engine-native text (||, substr, regexp backrefs) is not
    # reinterpreted by the MySQL-dialect passes above
    sql = _wrap_calls(sql, "FORMAT", lambda i: _format_fn(i, engine))
    sql = _wrap_calls(
        sql, "SQRT",
        lambda i: (
            f"SQRT(CASE WHEN CAST(({i}) AS DOUBLE) < 0 THEN NULL"
            f" ELSE CAST(({i}) AS DOUBLE) END)"
        ),
    )
    if engine == "duck":
        # MySQL's null-safe equal a <=> b (issue469): DuckDB spells it
        # IS NOT DISTINCT FROM
        sql = _sub_outside_strings(
            sql,
            re.compile(
                rf"({_WTRUTH_ATOM})\s*<=>\s*({_WTRUTH_ATOM})", re.I
            ),
            lambda m: f"({m.group(1)} IS NOT DISTINCT FROM {m.group(2)})",
        )
        # MySQL treats CROSS JOIN and INNER JOIN as interchangeable:
        # ``CROSS JOIN x ON c`` is legal (issue1910); DuckDB's CROSS
        # JOIN refuses ON.  Paren groups are skipped whole so an ON
        # inside a derived table can't false-positive.
        # plain re.sub: the span crosses quoted aliases, which
        # _sub_outside_strings would segment; the pattern skips
        # quoted regions itself
        sql = re.sub(
            r"\bCROSS(\s+)JOIN((?:(?!\b(?:JOIN|WHERE|GROUP|ORDER|"
            r"UNION|LIMIT|HAVING)\b)(?:[^()'\"]|'[^']*'|\"[^\"]*\"|"
            r"\((?:[^()'\"]|'[^']*'|\"[^\"]*\"|\([^()]*\))*\)))*?"
            r"\bON\b)",
            lambda m: f"INNER{m.group(1)}JOIN{m.group(2)}",
            sql, flags=re.I | re.S,
        )
        # MySQL names a bare string-literal column by its text
        # (SELECT 'abc' -> column abc); DuckDB keeps the quotes in
        # the name, breaking qualified refs (issue1910's a.abc).
        # Alias string-literal items of literal-only derived tables.

        def _alias_strlits(m: "re.Match[str]") -> str:
            items = []
            for it in _split_top_commas(m.group(1)):
                sm = re.fullmatch(r"\s*'((?:[^'\\]|\\.|'')*)'\s*", it)
                if sm:
                    nm = sm.group(1).replace("''", "'")
                    items.append(f"{it.strip()} AS \"{nm}\"")
                else:
                    items.append(it.strip())
            return "(SELECT " + ", ".join(items) + ")"

        sql = re.sub(
            r"\(\s*SELECT\s+((?:[^()']|'[^']*')+?)\s*\)",
            _alias_strlits, sql,
        )
        # MySQL's bare ``a JOIN b`` (no ON/USING) is a cross join;
        # DuckDB's parser demands a condition (issue880's
        # parenthesized comma-style joins)
        sql = _sub_outside_strings(
            sql,
            re.compile(
                r"\b(LEFT|RIGHT|INNER|CROSS|NATURAL|FULL|OUTER)?"
                r"(\s*)\bJOIN\s+((?:`[^`]+`|\w+)"
                r"(?:\s+(?:AS\s+)?"
                r"(?!(?:WHERE|GROUP|ORDER|UNION|LIMIT|ON|USING|JOIN|"
                r"LEFT|RIGHT|INNER|CROSS|NATURAL|HAVING)\b)\w+)?)"
                r"(?=\s*(\)|\bWHERE\b|\bGROUP\b|\bORDER\b|\bUNION\b|"
                r"\bLIMIT\b|\bHAVING\b|\bINNER\b|\bCROSS\b|\bLEFT\b|"
                r"\bRIGHT\b|\bNATURAL\b|\bJOIN\b|$|;))",
                re.I,
            ),
            # INNER/CROSS without ON are MySQL cross joins mid-chain
            # too (issue887's INNER JOIN t2 INNER JOIN t3 WHERE …)
            lambda m: m.group(0)
            if m.group(1) and m.group(1).upper() not in ("INNER", "CROSS")
            else f"{m.group(2)}CROSS JOIN {m.group(3)}",
        )
        # same rule for a DERIVED right side (issue1910's
        # ``INNER JOIN (SELECT @v …) a`` with no ON).  Plain re.sub:
        # the derived body may contain quoted aliases, which
        # _sub_outside_strings would segment; the pattern skips
        # quoted regions itself.
        sql = re.sub(
            r"\b(LEFT|RIGHT|INNER|CROSS|NATURAL|FULL|OUTER)?"
            r"(\s*)\bJOIN\s+"
            r"(\((?:[^()'\"]|'[^']*'|\"[^\"]*\"|"
            r"\((?:[^()'\"]|'[^']*'|\"[^\"]*\"|\([^()]*\))*\))*\)"
            r"(?:\s+(?:AS\s+)?"
            r"(?!(?:WHERE|GROUP|ORDER|UNION|LIMIT|ON|USING|JOIN|"
            r"LEFT|RIGHT|INNER|CROSS|NATURAL|HAVING)\b)\w+)?)"
            r"(?=\s*(\)|\bWHERE\b|\bGROUP\b|\bORDER\b|\bUNION\b|"
            r"\bLIMIT\b|\bHAVING\b|\bINNER\b|\bCROSS\b|\bLEFT\b|"
            r"\bRIGHT\b|\bNATURAL\b|\bJOIN\b|$|;))",
            lambda m: m.group(0)
            if m.group(1) and m.group(1).upper() not in ("INNER", "CROSS")
            else f"{m.group(2)}CROSS JOIN {m.group(3)}",
            sql, flags=re.I | re.S,
        )
        sql = _duck_order_nulls(sql)
    return sql


_MYSQL_ESC = {
    "0": "\0", "b": "\b", "n": "\n", "r": "\r", "t": "\t", "Z": "\x1a",
    "\\": "\\", "'": "'", '"': '"',
}


def _mysql_str_decode(body: str, quote: str) -> str:
    """Decode the body of a MySQL string literal (sql-mode default, no
    NO_BACKSLASH_ESCAPES): backslash escapes, doubled quotes, and the
    LIKE-special ``\\%``/``\\_`` sequences which stay verbatim."""
    out, i = [], 0
    while i < len(body):
        c = body[i]
        if c == "\\" and i + 1 < len(body):
            n = body[i + 1]
            if n in "%_":
                out.append("\\" + n)  # kept: resolved by the LIKE layer
            else:
                out.append(_MYSQL_ESC.get(n, n))
            i += 2
        elif c == quote and i + 1 < len(body) and body[i + 1] == quote:
            out.append(quote)
            i += 2
        else:
            out.append(c)
            i += 1
    return "".join(out)


def _mysql_str_encode(s: str) -> str:
    """Re-encode a Python string as a MySQL single-quoted literal."""
    return "'" + s.replace("\\", "\\\\").replace("'", "''") + "'"


def _engine_str_encode(s: str, engine: str) -> str:
    """Encode a Python string as a literal the target engine parses to
    exactly ``s``.  Spark processes backslash escapes in literals;
    DuckDB follows the SQL standard (backslash is an ordinary char)."""
    if engine == "spark":
        return "'" + s.replace("\\", "\\\\").replace("'", "\\'") + "'"
    return "'" + s.replace("'", "''") + "'"


_ANY_STRLIT = re.compile(r"'((?:[^'\\]|\\.|'')*)'|\"((?:[^\"\\]|\\.|\"\")*)\"")

# string functions whose literal arguments are NOT temporal values:
# the short-year pad pass must not rewrite inside them
_DATEPAD_STRFNS = (
    "SUBSTR", "SUBSTRING", "CONCAT", "CONCAT_WS", "LENGTH",
    "CHAR_LENGTH", "CHARACTER_LENGTH", "LEFT", "RIGHT", "REPLACE",
    "INSTR", "LOCATE", "POSITION", "LPAD", "RPAD", "TRIM", "LTRIM",
    "RTRIM", "REVERSE", "UPPER", "LOWER", "UCASE", "LCASE", "ASCII",
    "STRCMP", "HEX", "MD5", "STR_TO_DATE", "FIELD", "ELT",
    "FIND_IN_SET", "REPEAT", "INSERT", "MID", "QUOTE",
)


_HEX_LIT = re.compile(r"\b0[xX]([0-9A-Fa-f]+)\b")


def _sub_outside_strings(sql: str, pat: re.Pattern, repl) -> str:
    """Apply a regex substitution only OUTSIDE string literals."""
    parts, last = [], 0
    for m in _ANY_STRLIT.finditer(sql):
        parts.append(pat.sub(repl, sql[last: m.start()]))
        parts.append(m.group(0))
        last = m.end()
    parts.append(pat.sub(repl, sql[last:]))
    return "".join(parts)


def _rewrite_hex_literals(sql: str) -> str:
    """MySQL 0xFF integer-context literals: Spark lexes them as
    identifiers and DuckDB's reading differs — emit the decimal value
    (bigint_unsigned.test)."""
    return _sub_outside_strings(
        sql, _HEX_LIT, lambda m: str(int(m.group(1), 16))
    )


def _recode_string_literals(sql: str, engine: str) -> str:
    """Decode every MySQL string literal (single- or double-quoted) and
    re-encode it for the target engine.  This is what lets verbatim MTR
    text with ``\\\\``-laden values ('_a\\\\\\\\', escape.test) mean the
    same bytes on Spark (backslash-escaping parser) and DuckDB (no
    backslash escapes)."""

    out, last = [], 0
    for m in _ANY_STRLIT.finditer(sql):
        pre = sql[last: m.start()]
        # MySQL hexadecimal STRING literal x'E6998B…': the bytes,
        # read in the column charset (utf8mb4 across the MTR corpus,
        # issue1169.test) — decode to the plain string literal
        if (
            m.group(1) is not None
            and pre[-1:] in ("x", "X")
            and not re.search(r"[\w$][xX]$", pre)
            and re.fullmatch(r"(?:[0-9A-Fa-f]{2})*", m.group(1))
        ):
            out.append(pre[:-1])
            s = bytes.fromhex(m.group(1)).decode("utf-8", "replace")
            out.append(_engine_str_encode(s, engine))
            last = m.end()
            continue
        if (
            m.group(1) is not None
            and pre[-1:] in ("b", "B")
            and not re.search(r"[\w$][bB]$", pre)
            and re.fullmatch(r"[01]*", m.group(1) or "")
        ):
            # MySQL bit literal b'101' → the integer value (bit_type
            # .test; BIT columns store numerically here); the empty
            # b'' is a zero-length bit value = 0 (bit.test, other_bit)
            out.append(pre[:-1])
            out.append(str(int(m.group(1) or "0", 2)))
            last = m.end()
            continue
        out.append(pre)
        if m.group(1) is not None:
            s = _mysql_str_decode(m.group(1), "'")
        else:
            s = _mysql_str_decode(m.group(2), '"')
        # resolve the LIKE-special passthroughs outside LIKE context:
        # a bare \% / \_ in an ordinary value is the two characters
        out.append(_engine_str_encode(s, engine))
        last = m.end()
    out.append(sql[last:])
    return "".join(out)


_LIKE_PAT = re.compile(
    r"(\bNOT\s+)?\bLIKE\s+"
    r"('(?:[^'\\]|\\.|'')*'|\"(?:[^\"\\]|\\.|\"\")*\"|CONCAT\s*\([^()]*\))"
    r"(?:\s+ESCAPE\s+('(?:[^'\\]|\\.)*'|\"(?:[^\"\\]|\\.)*\"))?",
    re.I,
)


def _decode_strlit(tok: str) -> str | None:
    tok = tok.strip()
    if len(tok) >= 2 and tok[0] in "'\"" and tok[-1] == tok[0]:
        return _mysql_str_decode(tok[1:-1], tok[0])
    return None


def _rewrite_like_patterns(sql: str) -> str:
    """Canonicalize every LIKE with a literal (or CONCAT-of-literals)
    pattern to MySQL semantics (ref parser sql/item_cmpfunc.cc
    Item_func_like): the escape character — explicit, or backslash by
    default — may precede ANY character and means 'literal next char'.
    Spark raises on escape-before-ordinary-char and DuckDB has NO
    default escape, so re-encode with an explicit canonical escape.
    Output literals are MySQL-encoded; _recode_string_literals finishes
    the per-engine encoding."""

    def rep(m: re.Match) -> str:
        raw_pat = m.group(2).strip()
        if raw_pat.upper().startswith("CONCAT"):
            inner = raw_pat[raw_pat.index("(") + 1 : raw_pat.rindex(")")]
            parts = [_decode_strlit(p) for p in _split_top_commas(inner)]
            if any(p is None for p in parts):
                return m.group(0)
            pat = "".join(parts)
        else:
            pat = _decode_strlit(raw_pat)
            if pat is None:
                return m.group(0)
        esc = "\\"
        if m.group(3):
            esc = _decode_strlit(m.group(3)) or "\\"
        toks: list[tuple[bool, str]] = []  # (is_wildcard, char)
        i = 0
        while i < len(pat):
            ch = pat[i]
            if esc and ch == esc and i + 1 < len(pat):
                toks.append((False, pat[i + 1]))
                i += 2
            elif ch in "%_":
                toks.append((True, ch))
                i += 1
            else:
                toks.append((False, ch))
                i += 1
        for new_esc in "!~@#^&":
            if all(c != new_esc for _, c in toks):
                break
        out = []
        for wild, c in toks:
            if not wild and c in ("%", "_", new_esc):
                out.append(new_esc + c)
            else:
                out.append(c)
        newpat = _mysql_str_encode("".join(out))
        return f"{m.group(1) or ''}LIKE {newpat} ESCAPE '{new_esc}'"

    return _LIKE_PAT.sub(rep, sql)


_CMP_TOP = re.compile(
    r"<=|>=|<>|!=|=|<|>|\bLIKE\b|\bIS\b|\bIN\b|\bBETWEEN\b|\bREGEXP\b", re.I
)


def _has_top_cmp(expr: str) -> bool:
    depth, in_str, i = 0, None, 0
    while i < len(expr):
        ch = expr[i]
        if in_str:
            if ch == in_str:
                in_str = None
        elif ch in ("'", '"'):
            in_str = ch
        elif ch == "(":
            depth += 1
        elif ch == ")":
            depth -= 1
        elif depth == 0:
            m = _CMP_TOP.match(expr, i)
            if m:
                return True
        i += 1
    return False


_CASE_KW = re.compile(r"\b(CASE|WHEN|THEN|ELSE|END)\b", re.I)


def _rewrite_simple_case_bool(sql: str) -> str:
    """MySQL's simple CASE compares the operand with each WHEN value
    numerically, so ``CASE a WHEN a=1 THEN …`` compares a against the
    0/1 of the boolean (ref corpus: flow_control_function.test).  Spark
    faults on int-vs-boolean; wrap boolean-shaped WHEN expressions of
    SIMPLE (operand-carrying) CASEs in CAST(… AS INT).  Searched CASEs
    are untouched."""
    # Collect keyword occurrences outside string literals.
    kws: list[tuple[int, int, str]] = []  # (start, end, upper-kw)
    in_str, i = None, 0
    while i < len(sql):
        ch = sql[i]
        if in_str:
            if ch == in_str:
                in_str = None
            i += 1
            continue
        if ch in ("'", '"'):
            in_str = ch
            i += 1
            continue
        m = _CASE_KW.match(sql, i)
        if m:
            kws.append((m.start(), m.end(), m.group(1).upper()))
            i = m.end()
        else:
            i += 1
    if not kws:
        return sql
    # Pair CASE..END by depth; record simple-case WHEN expression spans.
    spans: list[tuple[int, int]] = []  # (expr_start, expr_end)
    stack: list[dict] = []
    for s, e, kw in kws:
        if kw == "CASE":
            stack.append({"opened_at": e, "pending_when": None})
        elif not stack:
            continue
        elif kw == "WHEN":
            top = stack[-1]
            if "simple" not in top:
                top["simple"] = bool(sql[top["opened_at"] : s].strip())
            if top["simple"]:
                top["pending_when"] = e
        elif kw == "THEN":
            top = stack[-1]
            if top.get("pending_when") is not None:
                spans.append((top["pending_when"], s))
                top["pending_when"] = None
        elif kw == "END":
            stack.pop()
    # Rewrite right-to-left so offsets stay valid.
    for a, b in sorted(spans, reverse=True):
        expr = sql[a:b]
        if _has_top_cmp(expr):
            sql = sql[:a] + f" CAST(({expr.strip()}) AS INT) " + sql[b:]
    return sql


def _week_sql(arg: str, mode: int, engine: str) -> tuple[str, str]:
    """MySQL WEEK(d, mode) for all 8 modes as one pure-SQL expression
    (text port of functions/mysql._calc_week — same algorithm the
    reference delegates to the server for, storage/tianmu/core/
    mysql_expression.cpp).  ``mode`` must be a literal (it always is in
    the MTR corpus), so the mode bits specialize the SQL at rewrite
    time.  Returns (week_expr, week_year_expr) for WEEK/YEARWEEK."""
    mode &= 7
    monday_first = bool(mode & 1)
    week_year = bool(mode & 2)
    first_weekday = bool(mode & 4)
    if not monday_first:
        first_weekday = not first_weekday
    shift = 5 if monday_first else 6

    D = f"TRY_CAST(({arg}) AS DATE)"
    if engine == "spark":
        jan1 = f"TRUNC({D}, 'YEAR')"
        prev1 = f"ADD_MONTHS({jan1}, -12)"
        next1 = f"ADD_MONTHS({jan1}, 12)"

        def dd(a: str, b: str) -> str:
            return f"DATEDIFF({a}, {b})"

        dowj = f"DAYOFWEEK({jan1})"  # 1 = Sunday
    else:
        jan1 = f"CAST(DATE_TRUNC('year', {D}) AS DATE)"
        prev1 = f"CAST({jan1} - INTERVAL 1 YEAR AS DATE)"
        next1 = f"CAST({jan1} + INTERVAL 1 YEAR AS DATE)"

        def dd(a: str, b: str) -> str:
            return f"DATE_DIFF('day', {b}, {a})"

        dowj = f"(DAYOFWEEK({jan1}) + 1)"  # duck: 0 = Sunday
    diy = dd(next1, jan1)
    dip = dd(jan1, prev1)
    wd1 = f"(({dowj} + {shift}) % 7)"
    doy = f"DAYOFYEAR({D})"
    y = f"YEAR({D})"

    def not_here(wd: str) -> str:
        return f"({wd} <> 0)" if first_weekday else f"({wd} >= 4)"

    def days_before(wd: str, off: str) -> str:
        return (
            f"(({doy} - 1) - (CASE WHEN {not_here(wd)} "
            f"THEN ({off}) + (7 - {wd}) ELSE ({off}) - {wd} END))"
        )

    in_first = f"((MONTH({D}) = 1) AND (DAY({D}) <= 7 - {wd1}))"
    wd_prev = f"(({wd1} + {53 * 7} - {dip}) % 7)"
    days_prev = days_before(wd_prev, f"(0 - {dip})")
    roll_prev = f"({wd1} = 0)" if first_weekday else f"({wd1} < 4)"
    prev_week = (
        f"(CASE WHEN {days_prev} >= 364 AND {roll_prev} THEN 1 "
        f"ELSE CAST(FLOOR({days_prev} / 7.0) AS INT) + 1 END)"
    )
    prev_year = (
        f"(CASE WHEN {days_prev} >= 364 AND {roll_prev} THEN {y} "
        f"ELSE {y} - 1 END)"
    )
    days_cur = days_before(wd1, "0")
    wd_next = f"(({wd1} + {diy}) % 7)"
    roll_next = f"({wd_next} = 0)" if first_weekday else f"({wd_next} < 4)"
    cur_week = f"(CAST(FLOOR({days_cur} / 7.0) AS INT) + 1)"
    cur_year = y
    if week_year:
        spills = f"({days_cur} >= 364 AND {roll_next})"
        cur_week = f"(CASE WHEN {spills} THEN 1 ELSE {cur_week} END)"
        cur_year = f"(CASE WHEN {spills} THEN {y} + 1 ELSE {y} END)"
        week = f"(CASE WHEN {in_first} THEN {prev_week} ELSE {cur_week} END)"
        year_out = (
            f"(CASE WHEN {in_first} THEN {prev_year} ELSE {cur_year} END)"
        )
    else:
        week = (
            f"(CASE WHEN {in_first} AND {not_here(wd1)} THEN 0 "
            f"WHEN {in_first} THEN {prev_week} ELSE {cur_week} END)"
        )
        year_out = (
            f"(CASE WHEN {in_first} AND {not_here(wd1)} THEN {y} "
            f"WHEN {in_first} THEN {prev_year} ELSE {cur_year} END)"
        )
    return f"CAST({week} AS INT)", f"CAST({year_out} AS INT)"


def _normalize_date_literal(tok: str) -> str | None:
    """If ``tok`` is a quoted date/datetime literal, canonicalize it the
    way MySQL's lenient parser reads it ('/' and '.' delimiters, 2-digit
    year pivot) so TRY_CAST agrees on both engines; else None."""
    s = tok.strip()
    if len(s) < 2 or s[0] not in "'\"" or s[-1] != s[0]:
        return None
    m = _TEMPORAL_LIT.match(s[1:-1].strip())
    if not m:
        return None
    import datetime as _dt

    y = int(m.group(1))
    if len(m.group(1)) <= 2:
        y += 2000 if y <= 69 else 1900
    try:
        t = _dt.datetime(
            y, int(m.group(2)), int(m.group(3)),
            int(m.group(4) or 0), int(m.group(5) or 0), int(m.group(6) or 0),
        )
    except ValueError:
        return None
    if m.group(4) is None:
        return f"'{t:%Y-%m-%d}'"
    return f"'{t:%Y-%m-%d %H:%M:%S}{m.group(7) or ''}'"


def _rewrite_date_parts(sql: str, engine: str) -> str:
    """YEAR/DAY/DAYOFMONTH/DAYOFYEAR/WEEKDAY/WEEK/YEARWEEK/HOUR/DAYNAME
    with MySQL semantics: string arguments coerce via TRY_CAST (invalid
    dates → NULL, as MySQL warns-and-NULLs; '/'-delimited and 2-digit-
    year literals normalize first), WEEKDAY is Monday=0, HOUR accepts
    TIME strings, and WEEK supports all 8 MySQL modes.  Results cast to
    INT on DuckDB (its extract functions return BIGINT; Spark and MySQL
    are int32)."""
    it = "INT" if engine == "spark" else "INTEGER"
    st = "STRING" if engine == "spark" else "VARCHAR"

    def simple(fn: str):
        def w(inner: str) -> str:
            inner = _normalize_date_literal(inner) or inner
            d = f"TRY_CAST(({inner}) AS DATE)"
            return f"CAST({fn}({d}) AS {it})"

        return w

    for fn, impl in (("YEAR", "YEAR"), ("DAYOFMONTH", "DAY"),
                     ("DAYOFYEAR", "DAYOFYEAR"), ("DAY", "DAY")):
        sql = _wrap_calls(sql, fn, simple(impl))

    def wd(inner: str) -> str:
        inner = _normalize_date_literal(inner) or inner
        d = f"TRY_CAST(({inner}) AS DATE)"
        dow = f"DAYOFWEEK({d})" if engine == "spark" else f"(DAYOFWEEK({d}) + 1)"
        return f"CAST((({dow}) + 5) % 7 AS {it})"

    sql = _wrap_calls(sql, "WEEKDAY", wd)

    def hour(inner: str) -> str:
        # MySQL HOUR reads datetime strings ('…' → hour part, dates →
        # 0) AND bare TIME strings ('11:12:13' → 11, up to 838 hours)
        inner = _normalize_date_literal(inner) or inner
        ts = f"TRY_CAST(({inner}) AS TIMESTAMP)"
        timestr = (
            f"TRY_CAST(REGEXP_EXTRACT(CAST(({inner}) AS {st}), "
            f"'^([0-9]+):', 1) AS {it})"
        )
        return f"COALESCE(CAST(HOUR({ts}) AS {it}), {timestr})"

    sql = _wrap_calls(sql, "HOUR", hour)

    def micro(inner: str) -> str:
        # MySQL MICROSECOND: the fractional-seconds field alone (0 when
        # absent), with a LENIENT read of temporal strings — trailing
        # garbage truncates with a warning (date_formats.test's
        # microsecond('1997-12-31 23:59:59.01XXXX') = 10000)
        m = re.fullmatch(r"\s*'((?:[^'\\]|\\.)*)'\s*", inner)
        if m:
            fm = re.search(r"[.](\d{1,6})", m.group(1))
            return str(int(fm.group(1).ljust(6, "0"))) if fm else "0"
        ts = f"TRY_CAST(({inner}) AS TIMESTAMP)"
        if engine == "spark":
            return f"CAST(DATE_FORMAT({ts}, 'SSSSSS') AS {it})"
        return f"CAST(MICROSECOND({ts}) % 1000000 AS {it})"

    # EXTRACT(unit FROM '<string literal>'): DuckDB's date_part over a
    # bare string is ambiguous — make the temporal cast explicit
    sql = re.sub(
        r"(?i)\bEXTRACT\s*\(\s*(\w+)\s+FROM\s+('(?:[^'\\]|\\.)*')\s*\)",
        lambda m: (f"EXTRACT({m.group(1)} FROM "
                   f"CAST({m.group(2)} AS TIMESTAMP))"),
        sql,
    )
    # EXTRACT(MICROSECOND FROM x): neither engine has the field with
    # MySQL's fraction-only meaning — route through MICROSECOND()
    sql = re.sub(
        r"(?i)\bEXTRACT\s*\(\s*MICROSECOND\s+FROM\s+"
        r"((?:[^()']|'(?:[^'\\]|\\.)*'|\((?:[^()]|\([^()]*\))*\))+)\)",
        lambda m: f"MICROSECOND({m.group(1)})",
        sql,
    )
    sql = _wrap_calls(sql, "MICROSECOND", micro)

    def todays(inner: str) -> str:
        # MySQL TO_DAYS: days since year 0 (epoch day 0 = 719528)
        inner = _normalize_date_literal(inner) or inner
        if engine == "spark":
            return (f"(DATEDIFF(CAST(({inner}) AS DATE), "
                    f"DATE'1970-01-01') + 719528)")
        return (f"(DATEDIFF('day', CAST('1970-01-01' AS DATE), "
                f"CAST(({inner}) AS DATE)) + 719528)")

    sql = _wrap_calls(sql, "TO_DAYS", todays)

    def toseconds(inner: str) -> str:
        # MySQL TO_SECONDS: seconds since year 0 = TO_DAYS * 86400 +
        # seconds-of-day (issue464: 63679824000 for '2017-12-07')
        inner = _normalize_date_literal(inner) or inner
        ts = f"TRY_CAST(({inner}) AS TIMESTAMP)"
        return (
            f"(CAST({todays(inner)} AS BIGINT) * 86400"
            f" + HOUR({ts}) * 3600 + MINUTE({ts}) * 60 + SECOND({ts}))"
        )

    sql = _wrap_calls(sql, "TO_SECONDS", toseconds)

    def time_to_sec(inner: str) -> str:
        # MySQL TIME_TO_SEC over a TIME value (stored as text here):
        # sign-aware 'H:MM:SS[.f]' → seconds (issue464's 02:03:04 →
        # 7384); a datetime-shaped input reads its time-of-day
        vt = "STRING" if engine == "spark" else "VARCHAR"
        t = f"TRIM(CAST(({inner}) AS {vt}))"
        tod = (
            f"(CASE WHEN {t} LIKE '%-%:%' OR {t} LIKE '% %'"
            f" THEN regexp_extract({t}, '([0-9]+:[0-9]+:[0-9]+)$', 1)"
            f" ELSE {t} END)"
        )
        neg = f"(CASE WHEN {t} LIKE '-%' THEN -1 ELSE 1 END)"
        return (
            f"({neg} * (CAST(regexp_extract({tod}, '([0-9]+):', 1)"
            f" AS BIGINT) * 3600 + CAST(regexp_extract({tod},"
            f" ':([0-9]+):', 1) AS BIGINT) * 60"
            f" + CAST(regexp_extract({tod}, ':([0-9]+)([.][0-9]+)?$', 1)"
            f" AS BIGINT)))"
        )

    sql = _wrap_calls(sql, "TIME_TO_SEC", time_to_sec)

    # MySQL compound EXTRACT units (issue845's EXTRACT(DAY_HOUR FROM t))
    # → positional-decimal composition of the simple fields
    _COMPOUND_EXTRACT = {
        "YEAR_MONTH": [("YEAR", 100), ("MONTH", 1)],
        "DAY_HOUR": [("DAY", 100), ("HOUR", 1)],
        "DAY_MINUTE": [("DAY", 10000), ("HOUR", 100), ("MINUTE", 1)],
        "DAY_SECOND": [("DAY", 1000000), ("HOUR", 10000),
                       ("MINUTE", 100), ("SECOND", 1)],
        "HOUR_MINUTE": [("HOUR", 100), ("MINUTE", 1)],
        "HOUR_SECOND": [("HOUR", 10000), ("MINUTE", 100), ("SECOND", 1)],
        "MINUTE_SECOND": [("MINUTE", 100), ("SECOND", 1)],
    }

    def _compound_extract(m: re.Match) -> str:
        fields = _COMPOUND_EXTRACT[m.group(1).upper()]
        x = m.group(2)
        parts = " + ".join(
            f"{fn}(CAST(({x}) AS TIMESTAMP)) * {mul}" if mul > 1
            else f"{fn}(CAST(({x}) AS TIMESTAMP))"
            for fn, mul in fields
        )
        return f"CAST({parts} AS BIGINT)"

    # plain .sub: the source expression may BE a string literal
    sql = re.sub(
        r"(?i)\bEXTRACT\s*\(\s*(" + "|".join(_COMPOUND_EXTRACT)
        + r")\s+FROM\s+((?:[^()']|'(?:[^'\\]|\\.)*'"
        r"|\((?:[^()]|\([^()]*\))*\))+)\)",
        _compound_extract,
        sql,
    )

    if engine == "duck":
        # DuckDB's concat_ws wants VARCHAR operands; MySQL casts
        # numerics implicitly (issue962's CONCAT_WS(1, 2))
        sql = _wrap_calls(
            sql, "CONCAT_WS",
            lambda inner: "CONCAT_WS(" + ", ".join(
                f"CAST(({p}) AS VARCHAR)"
                for p in _split_top_commas(inner)
            ) + ")",
        )

    def gl_fn(inner: str, greatest: bool) -> str:
        # MySQL GREATEST/LEAST over a temporal operand and a temporal
        # STRING literal returns the winner in its own rendering (the
        # literal text verbatim; type_timestamp.test's GREATEST(a,
        # '2020-07-01')).  Engines coerce mixed types differently —
        # spell the comparison out.  Other shapes pass through.
        name = "GREATEST" if greatest else "LEAST"
        parts = _split_top_commas(inner)
        if len(parts) != 2:
            return f"{name}({inner})"
        litidx = None
        for i, p in enumerate(parts):
            if re.fullmatch(
                r"\s*'\d{4}-\d{2}-\d{2}([ T]\d{2}:\d{2}:\d{2}"
                r"(\.\d+)?)?'\s*", p,
            ):
                litidx = i
        if litidx is None or all(
            re.match(r"\s*'", p) for p in parts
        ):
            return f"{name}({inner})"
        x, y = parts[0].strip(), parts[1].strip()
        op = ">=" if greatest else "<="

        def render(p: str) -> str:
            if re.match(r"^\s*'", p):
                return p.strip()
            if engine == "spark":
                return f"DATE_FORMAT(({p}), 'yyyy-MM-dd HH:mm:ss')"
            return (f"strftime(CAST(({p}) AS TIMESTAMP), "
                    f"'%Y-%m-%d %H:%M:%S')")

        return (
            f"(CASE WHEN CAST(({x}) AS TIMESTAMP) {op} "
            f"CAST(({y}) AS TIMESTAMP) THEN {render(x)} "
            f"ELSE {render(y)} END)"
        )

    sql = _wrap_calls(sql, "GREATEST", lambda i: gl_fn(i, True))
    sql = _wrap_calls(sql, "LEAST", lambda i: gl_fn(i, False))

    def name_fn(mysql_fn: str, fmt: str):
        def w(inner: str) -> str:
            inner = _normalize_date_literal(inner) or inner
            d = f"TRY_CAST(({inner}) AS DATE)"
            if engine == "spark":
                return f"DATE_FORMAT({d}, '{fmt}')"
            return f"{mysql_fn}({d})"

        return w

    sql = _wrap_calls(sql, "DAYNAME", name_fn("DAYNAME", "EEEE"))
    sql = _wrap_calls(sql, "MONTHNAME", name_fn("MONTHNAME", "MMMM"))

    def lastday(inner: str) -> str:
        inner = _normalize_date_literal(inner) or inner
        return f"LAST_DAY(TRY_CAST(({inner}) AS DATE))"

    sql = _wrap_calls(sql, "LAST_DAY", lastday)

    def wk(yearweek: bool):
        def w(inner: str) -> str:
            parts = _split_top_commas(inner)
            arg = _normalize_date_literal(parts[0]) or parts[0]
            try:
                mode = int(parts[1]) if len(parts) > 1 else 0
            except ValueError:
                mode = 0
            if yearweek:
                wexpr, yexpr = _week_sql(arg, (mode & 7) | 2, engine)
                return f"CAST({yexpr} * 100 + {wexpr} AS BIGINT)"
            return _week_sql(arg, mode, engine)[0]

        return w

    sql = _wrap_calls(sql, "YEARWEEK", wk(True))
    sql = _wrap_calls(sql, "WEEK", wk(False))
    return sql


def _rewrite_period_diff(sql: str, engine: str) -> str:
    """PERIOD_DIFF(p1, p2) — months between YYYYMM/YYMM periods with
    MySQL's 2-digit-year pivot, decimal rounding and int64 saturation
    (ref: period_diff.test incl. the huge-double clamp rows)."""
    idiv = "DIV" if engine == "spark" else "//"

    def p2m(x: str) -> str:
        p = (
            f"(CASE WHEN ({x}) >= 9.2233720368547758e18 "
            f"THEN 9223372036854775807 "
            f"WHEN ({x}) <= -9.2233720368547758e18 "
            f"THEN -9223372036854775808 "
            f"ELSE CAST(ROUND({x}) AS BIGINT) END)"
        )
        y = f"({p} {idiv} 100)"
        m = f"({p} % 100)"
        yy = (
            f"(CASE WHEN {y} < 70 THEN {y} + 2000 "
            f"WHEN {y} < 100 THEN {y} + 1900 ELSE {y} END)"
        )
        return f"({yy} * 12 + {m} - 1)"

    def w(inner: str) -> str:
        parts = _split_top_commas(inner)
        if len(parts) != 2:
            return f"PERIOD_DIFF({inner})"
        return f"CAST({p2m(parts[0])} - {p2m(parts[1])} AS BIGINT)"

    return _wrap_calls(sql, "PERIOD_DIFF", w)


_TIME_SHAPE = "^[0-9]+:[0-9]+:[0-9]+([.][0-9]+)?$"


def _rewrite_timediff(sql: str, engine: str) -> str:
    """TIMEDIFF(a, b) with the reference engine's semantics
    (timediff_function.result): operands classify at runtime by shape —
    time-of-day strings diff directly, datetime strings diff via epoch
    seconds clamped to MySQL TIME's ±838:59:59, DATE values (no time
    part) yield NULL, mixed classes yield NULL.  Result is the TIME-
    literal string MySQL prints; fractional seconds truncate toward
    zero (tianmu TIME has no microseconds) but the display keeps the
    widest literal fsp as zeros."""
    st = "STRING" if engine == "spark" else "VARCHAR"

    def matches(s: str, pat: str) -> str:
        if engine == "spark":
            return f"({s} RLIKE '{pat}')"
        return f"REGEXP_MATCHES({s}, '{pat}')"

    def w(inner: str) -> str:
        parts = _split_top_commas(inner)
        if len(parts) != 2:
            return f"TIMEDIFF({inner})"
        fsp = 0
        for p in parts:
            lm = re.match(r"^\s*'[^']*[.](\d+)'\s*$", p)
            if lm:
                fsp = max(fsp, len(lm.group(1)))
        parts = [(_normalize_date_literal(p) or p) for p in parts]
        sa = f"CAST(({parts[0]}) AS {st})"
        sb = f"CAST(({parts[1]}) AS {st})"

        def cls(s: str) -> str:
            # 2 = time-of-day, 1 = datetime, 0 = other/date-only
            return (
                f"(CASE WHEN {matches(s, _TIME_SHAPE)} THEN 2 "
                f"WHEN {s} LIKE '%-%:%' THEN 1 ELSE 0 END)"
            )

        def tsecs(s: str) -> str:
            return (
                f"(CAST(SPLIT_PART({s}, ':', 1) AS DOUBLE) * 3600 "
                f"+ CAST(SPLIT_PART({s}, ':', 2) AS DOUBLE) * 60 "
                f"+ CAST(SPLIT_PART({s}, ':', 3) AS DOUBLE))"
            )

        def dsecs(s: str) -> str:
            ts = f"TRY_CAST({s} AS TIMESTAMP)"
            if engine == "spark":
                return f"CAST({ts} AS DOUBLE)"
            return f"EPOCH({ts})"

        diff = (
            f"(CASE WHEN {cls(sa)} = 2 AND {cls(sb)} = 2 "
            f"THEN {tsecs(sa)} - {tsecs(sb)} "
            f"WHEN {cls(sa)} = 1 AND {cls(sb)} = 1 "
            f"THEN {dsecs(sa)} - {dsecs(sb)} "
            f"ELSE NULL END)"
        )
        # DuckDB's LEAST/GREATEST skip NULLs (Spark propagates); guard
        clamped = (
            f"(CASE WHEN {diff} IS NULL THEN NULL "
            f"ELSE LEAST(GREATEST({diff}, -3020399.0), 3020399.0) END)"
        )
        di = f"(CAST(SIGN({clamped}) * FLOOR(ABS({clamped})) AS BIGINT))"
        sign = f"(CASE WHEN {di} < 0 THEN '-' ELSE '' END)"
        h0 = f"CAST(ABS({di}) {'DIV' if engine == 'spark' else '//'} 3600 AS {st})"
        h = f"(CASE WHEN LENGTH({h0}) < 2 THEN '0' || {h0} ELSE {h0} END)"
        m = f"LPAD(CAST((ABS({di}) % 3600) {'DIV' if engine == 'spark' else '//'} 60 AS {st}), 2, '0')"
        s2 = f"LPAD(CAST(ABS({di}) % 60 AS {st}), 2, '0')"
        frac = f"'.{'0' * fsp}'" if fsp else "''"
        if engine == "spark":
            return (
                f"CONCAT({sign}, {h}, ':', {m}, ':', {s2}, {frac})"
            )
        return (
            f"({sign} || {h} || ':' || {m} || ':' || {s2} || {frac})"
        )

    return _wrap_calls(sql, "TIMEDIFF", w)


_TSDIFF_US = {
    "MICROSECOND": 1, "SECOND": 1_000_000, "MINUTE": 60_000_000,
    "HOUR": 3_600_000_000, "DAY": 86_400_000_000, "WEEK": 604_800_000_000,
}
_TSDIFF_MONTHS = {"MONTH": 1, "QUARTER": 3, "YEAR": 12}


def _rewrite_timestamp_addiff(sql: str, engine: str) -> str:
    """TIMESTAMPDIFF/TIMESTAMPADD with MySQL semantics on both engines.
    DIFF counts COMPLETE units (anniversary-based for MONTH/QUARTER/
    YEAR — DuckDB's date_diff counts boundary crossings instead, e.g.
    Mar-15→next-Mar-4 is 11 MySQL months, 12 duck months), computed on
    exact microsecond integers; sub-day units truncate toward zero."""

    def us(ts: str) -> str:
        return f"UNIX_MICROS({ts})" if engine == "spark" else f"EPOCH_US({ts})"

    def tdiv(expr: str, n: int) -> str:
        if engine == "spark":
            return f"(({expr}) DIV {n})"
        return (
            f"(CASE WHEN ({expr}) < 0 THEN -((-({expr})) // {n}) "
            f"ELSE ({expr}) // {n} END)"
        )

    def wdiff(inner: str) -> str:
        parts = _split_top_commas(inner)
        if len(parts) != 3:
            return f"TIMESTAMPDIFF({inner})"
        unit = parts[0].strip().upper()
        a = _normalize_date_literal(parts[1]) or parts[1]
        b = _normalize_date_literal(parts[2]) or parts[2]
        ta = f"TRY_CAST(({a}) AS TIMESTAMP)"
        tb = f"TRY_CAST(({b}) AS TIMESTAMP)"
        if unit in _TSDIFF_US:
            delta = f"({us(tb)} - {us(ta)})"
            if _TSDIFF_US[unit] == 1:
                return f"CAST({delta} AS BIGINT)"
            return f"CAST({tdiv(delta, _TSDIFF_US[unit])} AS BIGINT)"
        if unit not in _TSDIFF_MONTHS:
            return f"TIMESTAMPDIFF({inner})"

        def cmpv(ts: str) -> str:
            # (day-of-month, time-of-day) as one comparable integer
            day0 = f"DATE_TRUNC('DAY', {ts})"
            return (
                f"(CAST(DAY({ts}) AS BIGINT) * 1000000000000 "
                f"+ ({us(ts)} - {us(day0)}))"
            )

        raw = (
            f"((YEAR({tb}) - YEAR({ta})) * 12 + (MONTH({tb}) - MONTH({ta})))"
        )
        months = (
            f"(CASE WHEN {raw} > 0 AND {cmpv(tb)} < {cmpv(ta)} "
            f"THEN {raw} - 1 "
            f"WHEN {raw} < 0 AND {cmpv(tb)} > {cmpv(ta)} "
            f"THEN {raw} + 1 ELSE {raw} END)"
        )
        n = _TSDIFF_MONTHS[unit]
        return f"CAST({tdiv(months, n) if n > 1 else months} AS BIGINT)"

    sql = _wrap_calls(sql, "TIMESTAMPDIFF", wdiff)

    # interval-multiply spellings, NOT duckdb's to_days()/to_seconds()
    # helpers: the MySQL TO_DAYS/TO_SECONDS wraps would re-match those
    # on re-entry (the issue429 regression class)
    _ADD_DUCK = {
        "MICROSECOND": "MICROSECOND", "SECOND": "SECOND",
        "MINUTE": "MINUTE", "HOUR": "HOUR", "DAY": "DAY",
        "WEEK": None, "MONTH": "MONTH", "QUARTER": None,
        "YEAR": "YEAR",
    }

    def wadd(inner: str) -> str:
        parts = _split_top_commas(inner)
        if len(parts) != 3:
            return f"TIMESTAMPADD({inner})"
        unit = parts[0].strip().upper()
        n, x = parts[1], parts[2]
        x = _normalize_date_literal(x) or x
        ts = f"TRY_CAST(({x}) AS TIMESTAMP)"
        if engine == "spark":
            u = {"WEEK": "DAY", "QUARTER": "MONTH"}.get(unit, unit)
            nn = (
                f"({n}) * 7" if unit == "WEEK"
                else f"({n}) * 3" if unit == "QUARTER" else f"({n})"
            )
            return f"TIMESTAMPADD({u}, CAST({nn} AS INT), {ts})"
        fn = _ADD_DUCK.get(unit)
        if unit == "WEEK":
            return f"({ts} + CAST(({n}) * 7 AS INT) * INTERVAL 1 DAY)"
        if unit == "QUARTER":
            return f"({ts} + CAST(({n}) * 3 AS INT) * INTERVAL 1 MONTH)"
        if fn is None:
            return f"TIMESTAMPADD({inner})"
        it = ("BIGINT" if unit in
              ("MICROSECOND", "SECOND", "MINUTE", "HOUR") else "INTEGER")
        return f"({ts} + CAST(({n}) AS {it}) * INTERVAL 1 {fn})"

    return _wrap_calls(sql, "TIMESTAMPADD", wadd)


_SUBSTR_FROMFOR = re.compile(
    r"^(?P<x>.+?)\s+FROM\s+(?P<p>.+?)(?:\s+FOR\s+(?P<n>.+))?$", re.I | re.S
)


def _rewrite_substr_family(sql: str, engine: str) -> str:
    """SUBSTR/SUBSTRING/MID/LEFT/RIGHT with MySQL semantics on both
    engines (ref parser: sql/item_strfunc.cc Item_func_substr):
      * MID and the ``FROM p [FOR n]`` form normalize to SUBSTR(x,p,n)
        (DuckDB has neither);
      * position 0 and a negative position beyond the string length
        return '' in MySQL — Spark treats 0 as 1 and DuckDB clamps
        negatives, so both get an explicit CASE guard;
      * arguments cast to STRING first (MySQL string-coerces DATE/INT
        args; DuckDB errors on them, Spark errors for LEFT/MID ints).
    One combined pass so generated SUBSTR text is not re-wrapped."""
    str_t = "STRING" if engine == "spark" else "VARCHAR"

    def wrap_sub(inner: str) -> str:
        parts = _split_top_commas(inner)
        if len(parts) == 1:
            m = _SUBSTR_FROMFOR.match(inner.strip())
            if not m:
                return f"SUBSTR({inner})"
            parts = [m.group("x"), m.group("p")]
            if m.group("n"):
                parts.append(m.group("n"))
        x, p = parts[0], parts[1]
        xs = f"CAST(({x}) AS {str_t})"
        args = f"{xs}, ({p})" + (f", ({parts[2]})" if len(parts) > 2 else "")
        return (
            f"CASE WHEN ({p}) = 0 THEN '' "
            f"WHEN ({p}) < 0 AND (0 - ({p})) > LENGTH({xs}) THEN '' "
            f"ELSE SUBSTR({args}) END"
        )

    sql = _wrap_calls(sql, r"(?:SUBSTRING|SUBSTR|MID)", wrap_sub)

    def wrap_lr(fn: str):
        def w(inner: str) -> str:
            parts = _split_top_commas(inner)
            if len(parts) != 2:
                return f"{fn}({inner})"
            return f"{fn}(CAST(({parts[0]}) AS {str_t}), ({parts[1]}))"

        return w

    sql = _wrap_calls(sql, "LEFT", wrap_lr("LEFT"))
    sql = _wrap_calls(sql, "RIGHT", wrap_lr("RIGHT"))
    return sql


def _wrap_calls(sql: str, fname: str, wrap) -> str:
    """Wrap every call ``fname(...)`` via ``wrap(inner_text)`` —
    recursing into the argument text first, so SAME-NAME nested calls
    (tohanzi's char_length inside a substring inside char_length) are
    wrapped too."""
    pat = re.compile(rf"\b{fname}\s*\(", re.I)
    out, i = [], 0
    while True:
        m = pat.search(sql, i)
        if not m:
            out.append(sql[i:])
            break
        out.append(sql[i : m.start()])
        depth, j, in_str = 1, m.end(), None
        while j < len(sql) and depth:
            ch = sql[j]
            if in_str:
                if ch == in_str:
                    in_str = None
            elif ch in ("'", '"'):
                in_str = ch
            elif ch == "(":
                depth += 1
            elif ch == ")":
                depth -= 1
            j += 1
        inner = sql[m.end() : j - 1]
        if pat.search(inner):
            inner = _wrap_calls(inner, fname, wrap)
        out.append(wrap(inner))
        i = j
    return "".join(out)


# ---------------------------------------------------------------------------
# Stored programs: CREATE PROCEDURE / FUNCTION / TRIGGER bodies
#
# MySQL parses every stored-program body with one compound-statement
# grammar; so does this section.  ``_sp_parse`` turns a body into a
# node tree and three walkers consume it: CALL expansion
# (``_expand_procedures``, concrete, emits statements), stored-function
# compilation (``_compile_proc_body``, symbolic, one SQL expression per
# call) and trigger folding (``_trg_apply`` / ``_trg_validate``).
# ``_fold`` is the one constant folder and ``_SP_LOOP_CAP`` the one loop
# bound.

_SP_LOOP_CAP = 1_000_000  # passes per loop entry, in every walker


@dataclass
class _SpNode:
    """One stored-program statement.  ``kind`` is one of stmt, declare,
    set, select_into, return, leave, iterate (leaves) or if, case,
    while, repeat, loop.  ``text`` is a leaf as written, or the WHILE /
    UNTIL condition, or the CASE operand; ``label`` names a loop or the
    loop a LEAVE / ITERATE targets.  ``arms`` holds the (condition or
    WHEN value, body) pairs of IF and CASE, None standing for ELSE;
    ``body`` is a loop body.  ``parts`` holds a leaf's parsed pieces:
    declare (names, default), set [(target, expr)] (None when a piece
    is not an assignment), select_into (exprs, targets, FROM-tail),
    return (expr,)."""

    kind: str
    text: str = ""
    label: str | None = None
    arms: list = field(default_factory=list)
    body: list = field(default_factory=list)
    parts: tuple | list | None = None


# comments outside string literals: mysql `-- ` tails and `#` lines
_SP_COMMENT = re.compile(r"(?m)--\s[^\n]*|(?:^|(?<=\s))#[^\n]*")
_SP_WS = re.compile(r"\s+")
_SP_OPEN = re.compile(r"(?is)(?:(\w+)\s*:\s*)?(BEGIN|LOOP|REPEAT)\b")
_SP_ELSE = re.compile(r"(?is)ELSE\b")
_SP_HEAD = re.compile(r"(?is)(?:\w+\s*:\s*)?(IF|ELSEIF|CASE|WHEN|WHILE)\b")
_SP_THEN = re.compile(r"(?i)THEN\b")
_SP_DO = re.compile(r"(?i)DO\b")
_SP_CLOSER = re.compile(r"(?is)(END|ELSE|ELSEIF|WHEN|UNTIL)\b")
_SP_END = re.compile(
    r"(?is)END(?:\s+(IF|CASE|WHILE|LOOP|REPEAT)\b)?(?:\s+\w+)?")
_SP_ASSIGN = re.compile(
    r"(?is)^\s*((?:NEW|OLD)\s*\.\s*(?:`[^`]+`|\w+)|@@?[\w.]+|`[^`]+`|\w+)"
    r"\s*:?=\s*(.+)$")
_SP_SELECT_INTO = re.compile(
    r"(?is)^SELECT\s+(.*?)\s+INTO\s+([\w,\s`]+?)\s+(FROM\s+.+)$")


def _sp_scan(text: str, i: int, kw: re.Pattern | None = None) -> int:
    """End of the unit starting at ``i``: the next ';' outside string
    literals, or with ``kw`` the end of that keyword outside literals
    and parentheses (a THEN inside ``RETURN (CASE … END)`` is part of
    an expression)."""
    depth, quote, j = 0, None, i
    while j < len(text):
        ch = text[j]
        if quote:
            if ch == "\\":
                j += 1
            elif ch == quote:
                quote = None
        elif ch in "'\"`":
            quote = ch
        elif ch == "(":
            depth += 1
        elif ch == ")":
            depth -= 1
        elif ch == ";":
            if kw is not None:
                break
            return j
        elif (kw is not None and depth == 0 and j > i
              and not (text[j - 1].isalnum() or text[j - 1] == "_")):
            m = kw.match(text, j)
            if m:
                return m.end()
        j += 1
    if kw is not None:
        raise ValueError(
            f"stored program: unterminated block header {text[i:j][:60]!r}")
    return j


def _sp_units(text: str) -> list[str]:
    """Split a body into units: one per statement, and each block
    header ([label:] BEGIN / LOOP / REPEAT, ELSE, IF … THEN, ELSEIF …
    THEN, CASE … THEN, WHEN … THEN, [label:] WHILE … DO) a unit of its
    own, so a header never glues to its first inner statement."""
    units, i = [], 0
    while i < len(text):
        if text[i].isspace() or text[i] == ";":
            i += 1
            continue
        m = _SP_OPEN.match(text, i) or _SP_ELSE.match(text, i)
        if m:
            units.append(m.group(0))
            i = m.end()
            continue
        h = _SP_HEAD.match(text, i)
        kw = (_SP_DO if h.group(1).upper() == "WHILE" else _SP_THEN) \
            if h else None
        j = _sp_scan(text, i, kw)
        units.append(text[i:j].strip())
        i = j
    return units


def _sp_parse(body: str, squash: bool = False) -> list[_SpNode]:
    """Parse a stored-program body (statements, or one BEGIN … END
    block) into nodes; nested BEGIN … END blocks are inlined.
    ``squash`` collapses whitespace outside string literals first.
    Raises ValueError on a malformed body."""
    text = _sub_outside_strings(body, _SP_COMMENT, " ")
    if squash:
        text = _sub_outside_strings(text, _SP_WS, " ")
    units = _sp_units(text)
    nodes, i = _sp_block(units, 0)
    if i < len(units):
        raise ValueError(f"stored program: unexpected {units[i][:60]!r}")
    return nodes


def _sp_close(units: list[str], i: int, kind: str) -> int:
    """Index past the ``END <kind>`` unit at ``i`` (bare END for a
    BEGIN block)."""
    m = _SP_END.fullmatch(units[i]) if i < len(units) else None
    if not m or (m.group(1) or "").upper() != kind:
        raise ValueError(f"stored program: missing END {kind}".rstrip())
    return i + 1


def _sp_arms(units: list[str], i: int, first, head: str) -> tuple:
    """IF / CASE arms from the body after the first header at ``i``:
    further ``head`` (ELSEIF / WHEN) headers and an ELSE.  Returns
    (arms, index of the closing END unit)."""
    arms, cond = [], first
    while True:
        body, i = _sp_block(units, i)
        arms.append((cond, body))
        nxt = units[i] if i < len(units) else ""
        m = re.fullmatch(rf"(?is){head}\b\s*(.+?)\s*THEN", nxt)
        if m:
            cond, i = m.group(1), i + 1
            continue
        if re.fullmatch(r"(?i)ELSE", nxt):
            body, i = _sp_block(units, i + 1)
            arms.append((None, body))
        return arms, i


def _sp_block(units: list[str], i: int) -> tuple[list[_SpNode], int]:
    """Parse units from ``i`` up to the first one that closes or
    continues an enclosing block (END…, ELSE, ELSEIF, WHEN, UNTIL);
    returns (nodes, index of that unit)."""
    nodes: list[_SpNode] = []
    while i < len(units):
        u = units[i]
        if _SP_CLOSER.match(u):
            return nodes, i
        m = _SP_OPEN.fullmatch(u)
        if m:
            label = m.group(1).lower() if m.group(1) else None
            kind = m.group(2).upper()
            body, i = _sp_block(units, i + 1)
            if kind == "BEGIN":
                nodes.extend(body)
                i = _sp_close(units, i, "")
            elif kind == "LOOP":
                nodes.append(_SpNode("loop", label=label, body=body))
                i = _sp_close(units, i, "LOOP")
            else:
                um = re.fullmatch(
                    r"(?is)UNTIL\s+(.+?)\s+END\s+REPEAT(?:\s+\w+)?",
                    units[i] if i < len(units) else "")
                if not um:
                    raise ValueError("stored program: REPEAT without UNTIL")
                nodes.append(
                    _SpNode("repeat", um.group(1), label, body=body))
                i += 1
            continue
        m = re.fullmatch(r"(?is)IF\b\s*(.+?)\s*THEN", u)
        if m:
            arms, i = _sp_arms(units, i + 1, m.group(1), "ELSEIF")
            nodes.append(_SpNode("if", arms=arms))
            i = _sp_close(units, i, "IF")
            continue
        m = re.fullmatch(r"(?is)CASE\s+(.+?)\s+WHEN\s+(.+?)\s+THEN", u)
        if m:
            arms, i = _sp_arms(units, i + 1, m.group(2), "WHEN")
            nodes.append(_SpNode("case", m.group(1), arms=arms))
            i = _sp_close(units, i, "CASE")
            continue
        m = re.fullmatch(r"(?is)(?:(\w+)\s*:\s*)?WHILE\b\s*(.+?)\s*DO", u)
        if m:
            body, i = _sp_block(units, i + 1)
            label = m.group(1).lower() if m.group(1) else None
            nodes.append(_SpNode("while", m.group(2), label, body=body))
            i = _sp_close(units, i, "WHILE")
            continue
        nodes.append(_sp_leaf(u))
        i += 1
    return nodes, i


def _sp_leaf(u: str) -> _SpNode:
    m = re.match(
        r"(?is)^DECLARE\s+((?:`[^`]+`|\w+)(?:\s*,\s*(?:`[^`]+`|\w+))*)"
        r"\s+\w+(.*)$", u)
    if m:
        dm = re.search(r"(?is)\bDEFAULT\s+(.+)$", m.group(2))
        names = [_unquote_ident(v).lower() for v in m.group(1).split(",")]
        return _SpNode("declare", u, parts=(
            names, dm.group(1).strip() if dm else None))
    m = re.match(r"(?is)^SET\s+(.+)$", u)
    if m:
        pieces = []
        for piece in _split_top_commas(m.group(1)):
            am = _SP_ASSIGN.match(piece)
            if not am:
                pieces = None
                break
            pieces.append((am.group(1).strip(), am.group(2).strip()))
        return _SpNode("set", u, parts=pieces)
    m = _SP_SELECT_INTO.match(u)
    if m:
        return _SpNode("select_into", u, parts=(
            _split_top_commas(m.group(1)),
            [_unquote_ident(v).lower() for v in m.group(2).split(",")],
            m.group(3)))
    m = re.match(r"(?is)^RETURN\b\s*(.+)$", u)
    if m:
        return _SpNode("return", u, parts=(m.group(1).strip(),))
    m = re.fullmatch(r"(?is)(LEAVE|ITERATE)\s+(\w+)", u)
    if m:
        return _SpNode(m.group(1).lower(), u, label=m.group(2).lower())
    return _SpNode("stmt", u)


class _SpJump(Exception):
    """LEAVE / ITERATE <label> unwinding out of a concrete loop pass."""

    def __init__(self, leave: bool, label: str):
        self.leave, self.label = leave, label


def _sp_run(nodes: list[_SpNode], truth, same, leaf) -> None:
    """Run nodes concretely: IF and CASE take the first arm that holds,
    loops unroll (at most ``_SP_LOOP_CAP`` passes per entry), LEAVE and
    ITERATE unwind through ``_SpJump``.  ``truth(cond)`` folds a
    condition, ``same(operand, value)`` decides a CASE arm and
    ``leaf(node)`` runs every other statement."""
    for nd in nodes:
        k = nd.kind
        if k in ("if", "case"):
            for cond, body in nd.arms:
                if cond is None or (
                        same(nd.text, cond) if k == "case" else truth(cond)):
                    _sp_run(body, truth, same, leaf)
                    break
        elif k in ("while", "repeat", "loop"):
            passes = 0
            while k != "while" or truth(nd.text):
                if passes == _SP_LOOP_CAP:
                    raise ValueError(
                        f"stored program: {k.upper()} did not terminate "
                        f"within {_SP_LOOP_CAP} passes")
                passes += 1
                try:
                    _sp_run(nd.body, truth, same, leaf)
                except _SpJump as j:
                    if j.label != nd.label:
                        raise
                    if j.leave:
                        break
                    continue
                if k == "repeat" and truth(nd.text):
                    break
        elif k in ("leave", "iterate"):
            raise _SpJump(k == "leave", nd.label)
        else:
            leaf(nd)


# non-deterministic / clock / session functions must never constant-
# fold: run_script and build_oracle_sql each compile a stored program
# separately, so a frozen NOW()/RAND() literal would differ between
# the two compilations and silently diverge the engines
_NONDET_FN = re.compile(
    r"(?i)\b(NOW|SYSDATE|CURDATE|CURTIME|CURRENT_DATE|CURRENT_TIME|"
    r"CURRENT_TIMESTAMP|UTC_DATE|UTC_TIME|UTC_TIMESTAMP|"
    r"UNIX_TIMESTAMP|RAND|UUID|UUID_SHORT|CONNECTION_ID|"
    r"LAST_INSERT_ID|ROW_COUNT|FOUND_ROWS|USER|CURRENT_USER|"
    r"SESSION_USER|SYSTEM_USER|DATABASE|SCHEMA|SLEEP)\s*(\(|\b)"
)
_SP_WORD = re.compile(r"\b[A-Za-z_]\w*\b")


def _fold_py(expr: str, pvars: dict | None = None):
    """Python stage of ``_fold``: integer/boolean arithmetic only.
    ``pvars`` names bind by value; any other identifier, any string
    literal or any character outside the arithmetic set raises
    ValueError."""
    def sub(m: re.Match) -> str:
        w = m.group(0).lower()
        if pvars and w in pvars:
            return repr(pvars[w])
        if w in ("and", "or", "not"):
            return f" {w} "
        raise ValueError(f"not constant: {m.group(0)}")

    t = _sub_outside_strings(expr.strip(), _SP_WORD, sub)
    t = t.replace("&&", " and ").replace("||", " or ").replace("<>", "!=")
    t = re.sub(r"(?<![<>!=])=(?!=)", "==", t)
    if not re.fullmatch(r"[\d\s()+\-*/%<>=!.]+",
                        re.sub(r"\b(and|or|not)\b", "", t)):
        raise ValueError(f"not constant: {expr[:60]}")
    try:
        return eval(t, {"__builtins__": {}}, {})  # noqa: S307 — digits/ops only
    except Exception as exc:  # noqa: BLE001
        raise ValueError(f"not constant: {expr[:60]}") from exc


def _fold(expr: str, pvars: dict | None = None):
    """Fold a table-free scalar expression to a Python value: Python
    arithmetic first (``_fold_py``), then a table-free DuckDB SELECT
    with ``pvars`` bound as SQL literals.  Subqueries and
    non-deterministic functions (``_NONDET_FN``) never fold.  Raises
    ValueError when the expression does not fold."""
    try:
        return _fold_py(expr, pvars)
    except ValueError:
        pass

    def sub(m: re.Match) -> str:
        w = m.group(0).lower()
        if not pvars or w not in pvars:
            return m.group(0)  # SQL function/keyword — DuckDB's problem
        v = pvars[w]
        if v is None:
            return "NULL"
        return _py_to_literal(v) if isinstance(v, str) else str(v)

    t = _sub_outside_strings(expr, _SP_WORD, sub)
    masked = _ANY_STRLIT.sub("''", t)
    if re.search(r"(?i)\b(SELECT|FROM)\b", masked) \
            or _NONDET_FN.search(masked):
        raise ValueError(f"not constant: {expr[:60]}")
    try:
        import duckdb as _dd

        return _dd.connect().execute(
            f"SELECT ({rewrite_expr(t, 'duck')})").fetchone()[0]
    except Exception as exc:  # noqa: BLE001
        raise ValueError(f"not constant: {expr[:60]}") from exc


def _truth(v) -> bool:
    """MySQL truth of a folded value: NULL and zero are false."""
    if v is None:
        return False
    if isinstance(v, bool):
        return v
    try:
        return float(v) != 0
    except (TypeError, ValueError):
        return bool(v)


def _sql_lit(v) -> str | None:
    """SQL literal for a folded int/str (identical renders on both
    engines); None for any other value."""
    if isinstance(v, int) and not isinstance(v, bool):
        return str(v)
    if isinstance(v, str):
        return _py_to_literal(v)
    return None


# -- CALL: concrete expansion ------------------------------------------------

_CREATE_PROC = re.compile(
    # a '//'-delimited body may keep its final 'END;' semicolon
    # (procedure.test's doinsert); labels before BEGIN allowed
    # (issue1855's wholeblock:BEGIN)
    r"^\s*CREATE\s+PROCEDURE\s+(`[^`]+`|\w+)\s*\(([^)]*)\)\s*"
    r"(?:\w+\s*:\s*)?BEGIN\b(.*)\bEND\s*;?\s*$",
    re.I | re.S,
)

_INSERT_ONE = re.compile(
    r"^\s*INSERT\s+INTO\s+(`[^`]+`|\w+)\s+VALUES\s*(\(.*\))\s*$",
    re.I | re.S,
)

# an alias position keeps its NAME (myadd's `select c as c`)
_SP_ALIAS_OR_WORD = re.compile(r"(?i)\bAS\s+(?:`[^`]+`|\w+)|\b[A-Za-z_]\w*\b")


def _call_proc(nodes: list[_SpNode], pvars: dict) -> list[str]:
    """One CALL: locals (DECLARE / SET) fold to Python values, control
    flow runs concretely, every other statement is emitted with the
    locals substituted as literals."""
    out: list[str] = []

    def bind(m: re.Match) -> str:
        v = pvars.get(m.group(0).lower(), m)
        if v is m:
            return m.group(0)
        return repr(v) if isinstance(v, str) else str(v)

    def leaf(nd: _SpNode) -> None:
        if nd.kind == "declare":
            names, default = nd.parts
            for v in names:
                pvars[v] = _fold(default, pvars) if default else 0
        elif nd.kind == "set" and nd.parts and all(
                t.lower() in pvars for t, _ in nd.parts):
            for t, e in nd.parts:
                pvars[t.lower()] = _fold(e, pvars)
        else:
            out.append(_sub_outside_strings(nd.text, _SP_ALIAS_OR_WORD, bind))

    _sp_run(
        nodes,
        lambda c: _truth(_fold(c, pvars)),
        lambda s, v: _fold(v, pvars) == _fold(s, pvars),
        leaf,
    )
    return out


def _expand_procedures(stmts: list[Statement]) -> list[Statement]:
    """Minimal stored-procedure surface for the MTR corpus
    (insert_into_select.test, delete_signed.test, update_signed.test:
    reference mysql-test/suite/tianmu/t): CREATE PROCEDURE bodies are
    recorded, CALL splices the body in — unrolling DECLARE/SET/WHILE
    driver-side — and runs of single-row INSERTs into one table are
    batched into ONE multi-row INSERT so a 5000-iteration generator
    loop costs one distributed write, not 5000."""
    if not any(
        re.match(r"^\s*(CREATE\s+PROCEDURE|CALL|DROP\s+PROCEDURE)\b",
                 st.text, re.I)
        for st in stmts
    ):
        return stmts
    procs: dict[str, tuple] = {}
    out: list[Statement] = []
    for st in stmts:
        pm = _CREATE_PROC.match(st.text)
        if pm:
            # record (IN-param names, body); issue422's idata(in num INT)
            pnames = [
                re.sub(r"(?i)^(IN|OUT|INOUT)\s+", "", q.strip()).split()[0]
                for q in _split_top_commas(pm.group(2)) if q.strip()
            ]
            procs[_unquote_ident(pm.group(1)).lower()] = (
                pnames, pm.group(3))
            continue
        if re.match(r"^\s*DROP\s+PROCEDURE\b", st.text, re.I):
            nm = re.match(
                r"^\s*DROP\s+PROCEDURE\s+(?:IF\s+EXISTS\s+)?(`[^`]+`|\w+)",
                st.text, re.I,
            )
            procs.pop(_unquote_ident(nm.group(1)).lower(), None)
            continue
        cm = re.match(
            r"^\s*CALL\s+(`[^`]+`|\w+)\s*(?:\(\s*(.*?)\s*\))?\s*$",
            st.text, re.I | re.S,
        )
        if cm:
            name = _unquote_ident(cm.group(1)).lower()
            if name not in procs:
                raise ValueError(
                    f"PROCEDURE {name} does not exist "
                    f"(MySQL error 1305 analog)"
                )
            pnames, body = procs[name]
            args = (_split_top_commas(cm.group(2))
                    if cm.group(2) else [])
            pvars = {p.lower(): _fold(a) for p, a in zip(pnames, args)}
            emitted = _call_proc(_sp_parse(body), pvars)
            # batch consecutive single-row INSERTs into one statement
            j = 0
            while j < len(emitted):
                im = _INSERT_ONE.match(emitted[j])
                if im:
                    tname = im.group(1)
                    rows = [im.group(2)]
                    k = j + 1
                    while k < len(emitted):
                        nm2 = _INSERT_ONE.match(emitted[k])
                        if not nm2 or nm2.group(1).lower() != tname.lower():
                            break
                        rows.append(nm2.group(2))
                        k += 1
                    out.append(Statement(
                        f"INSERT INTO {tname} VALUES " + ", ".join(rows),
                        st.expect_error,
                    ))
                    j = k
                else:
                    out.append(Statement(emitted[j], st.expect_error))
                    j += 1
            continue
        out.append(st)
    return out


# -- stored functions: symbolic compilation ----------------------------------


class _ProcBody:
    """Marker carried in funcs[...] for a BEGIN…END function body that
    compiles per-call (WHILE bounds may depend on the arguments).
    ``ptypes`` carries DECIMAL param declarations so binding casts the
    argument (tohanzi: ROUND(DECIMAL-param, 2) must stay decimal —
    a bare 123123 would round as DOUBLE and render '123123.0')."""

    def __init__(self, text: str, ptypes: dict | None = None):
        self.text = text
        self.ptypes = ptypes or {}


def _pe_subst(expr: str, env: dict) -> str:
    """Substitute current env values into an expression, longest name
    first, outside string literals."""
    for v in sorted(env, key=len, reverse=True):
        if v:
            expr = _sub_outside_strings(
                expr, re.compile(rf"(?i)\b{re.escape(v)}\b"), f"({env[v]})")
    return expr


_HEXFN_LIT = re.compile(r"(?i)\bHEX\s*\(\s*\(?\s*'([^'\\]*)'\s*\)?\s*\)")
_SUBSTR_LIT = re.compile(
    r"(?i)\b(?:SUBSTRING|SUBSTR)\s*\(\s*'([^'\\]*)'\s*,"
    r"\s*([\d\s()+-]+?)\s*,\s*([\d\s()+-]+?)\s*\)")
_LEN_LIT = re.compile(r"(?i)\bLENGTH\s*\(\s*'([^'\\]*)'\s*\)")
_ASCII_UNHEX = re.compile(
    r"(?i)(?:CAST\s*\(\s*)?\bASCII\s*\(\s*UNHEX\s*\("
    r"\s*'([0-9A-Fa-f]{2})'\s*\)\s*\)(?:\s+AS\s+UNSIGNED\s*\))?")


def _fold_hexbytes(t: str) -> str:
    """Python constant folds for MySQL's byte-level functions over
    string literals (user_function.test's PINYIN gbk loop): HEX of a
    literal hexes its gbk/ASCII BYTES (tianmu stores the declared
    charset; neither engine reproduces that), SUBSTRING/LENGTH over a
    literal, and ASCII(UNHEX('xx')) → the byte value."""

    def _hex(m):
        try:
            return "'" + m.group(1).encode("gbk").hex().upper() + "'"
        except UnicodeEncodeError:
            return m.group(0)

    def _len(m):
        s = m.group(1)
        return str(len(s)) if s.isascii() else m.group(0)

    def _ss(m):
        try:
            a, b = _fold_py(m.group(2)), _fold_py(m.group(3))
        except ValueError:
            return m.group(0)
        if not isinstance(a, int) or not isinstance(b, int):
            return m.group(0)
        return "'" + m.group(1)[a - 1:a - 1 + b] + "'"

    for _ in range(12):
        # peel semantics-free parens around bare literals first so the
        # byte-fold patterns see them (env values arrive parenthesized)
        # never peel a function call's own parens (char_length('x'))
        t2 = re.sub(r"(?<![\w`$])\(\s*('(?:[^'\\])*'|\d+)\s*\)",
                    r"\1", t)
        t2 = _HEXFN_LIT.sub(_hex, t2)
        t2 = _SUBSTR_LIT.sub(_ss, t2)
        t2 = _LEN_LIT.sub(_len, t2)
        t2 = _ASCII_UNHEX.sub(lambda m: str(int(m.group(1), 16)), t2)
        if t2 == t:
            return t
        t = t2
    return t


def _compile_proc_body(text: str, init_env: dict | None = None) -> str:
    """Symbolically execute a stored-function body (DECLARE / SET /
    SELECT…INTO / IF-ELSEIF-ELSE / CASE / loops / nested BEGIN /
    RETURN) into ONE SQL expression (user_function.test,
    issue538.test).  Assignments substitute current symbolic values
    (SSA-style); IF and CASE arms merge per-variable through CASE WHEN;
    loops run concretely through ``_sp_run`` when their conditions
    fold to constants (getSum's i<=num with bound args); SELECT…INTO
    keeps the previous value when the query returns no row, like
    MySQL."""
    nodes = _sp_parse(text, squash=True)
    env: dict[str, str] = dict(init_env or {})
    returns: list[tuple[str | None, str]] = []

    def subst(e: str) -> str:
        return _pe_subst(e, env)

    def plain_targets(nd: _SpNode) -> list:
        if nd.parts is None or not all(
                re.fullmatch(r"`[^`]+`|\w+", t) for t, _ in nd.parts):
            raise ValueError(
                f"stored function: unsupported unit {nd.text[:60]!r}")
        return [(_unquote_ident(t).lower(), e) for t, e in nd.parts]

    def select_into(nd: _SpNode) -> None:
        exprs, targets, tail = nd.parts
        rest = subst(tail)
        for e, v in zip(exprs, targets):
            prev = env.get(v, "NULL")
            env[v] = (
                f"(CASE WHEN EXISTS (SELECT 1 {rest}) THEN "
                f"(SELECT {subst(e)} {rest}) ELSE {prev} END)"
            )

    def cond_true(cond: str) -> bool:
        try:
            return _truth(_fold(_fold_hexbytes(subst(cond))))
        except ValueError:
            raise ValueError(
                f"stored function: loop condition not constant-"
                f"foldable: {cond[:60]!r}") from None

    def concrete_leaf(nd: _SpNode) -> None:
        """A statement inside a loop pass: SET folds through env,
        SELECT…INTO stays symbolic (PINYIN's pinyin-table lookups)."""
        if nd.kind == "select_into":
            select_into(nd)
            return
        if nd.kind != "set":
            raise ValueError(
                f"stored function: unsupported loop unit {nd.text[:60]!r}")
        for v, e in plain_targets(nd):
            nv = _fold_hexbytes(subst(e))
            try:
                env[v] = str(_fold_py(nv))
            except ValueError:
                try:
                    env[v] = _sql_lit(_fold(nv)) or nv
                except ValueError:
                    env[v] = nv

    def merge_arms(nd: _SpNode, guard: str | None) -> None:
        """IF / CASE: run each arm from the entry env under its guard,
        then merge every changed variable through one CASE WHEN."""
        base = dict(env)
        sc = subst(nd.text) if nd.kind == "case" else None
        branches: list[tuple[str | None, dict]] = []
        not_prior: list[str] = []
        for c, body in nd.arms:
            # every arm's condition reads the entry env
            cond = None if c is None else (
                _pe_subst(c, base) if sc is None
                else f"({sc}) = ({_pe_subst(c, base)})")
            env.clear()
            env.update(base)
            if cond is None:
                bguard = guard_and(guard, " AND ".join(not_prior)) \
                    if not_prior else guard
            else:
                bguard = guard_and(guard, " AND ".join(
                    not_prior + [f"COALESCE({cond}, {_BFALSE})"]))
            run(body, bguard)
            branches.append((cond, dict(env)))
            if cond is not None:
                not_prior.append(f"NOT COALESCE({cond}, {_BFALSE})")
        merged = dict(base)
        changed = set()
        for _c, benv in branches:
            for v in benv:
                if benv.get(v) != base.get(v):
                    changed.add(v)
        for v in changed:
            parts = []
            has_else = False
            for c, benv in branches:
                val = benv.get(v, base.get(v, "NULL"))
                if c is None:
                    has_else = True
                    parts.append(f"ELSE {val}")
                else:
                    parts.append(f"WHEN COALESCE({c}, {_BFALSE}) THEN {val}")
            if not has_else:
                parts.append(f"ELSE {base.get(v, 'NULL')}")
            merged[v] = "(CASE " + " ".join(parts) + " END)"
        env.clear()
        env.update(merged)

    def guard_and(g: str | None, c: str) -> str:
        return c if g is None else f"({g}) AND ({c})"

    def run(nodes: list[_SpNode], guard: str | None) -> None:
        for nd in nodes:
            k = nd.kind
            if k == "declare":
                names, default = nd.parts
                for v in names:
                    env[v] = default or "NULL"
            elif k == "set":
                for v, e in plain_targets(nd):
                    nv = subst(e)
                    try:
                        _fold_py(nv)  # integer arithmetic stays as written
                    except ValueError:
                        # fold table-free int/str values to literals —
                        # tohanzi's REPLACE chains + IF merges would
                        # otherwise snowball 3× per level into a
                        # Catalyst-crushing tree.  Value-level folding
                        # is guard-independent (the CASE merge still
                        # decides WHICH value lands); deterministic:
                        # both engines compile from the same text.
                        try:
                            nv = _sql_lit(_fold(_fold_hexbytes(nv))) or nv
                        except ValueError:
                            pass
                    env[v] = nv
            elif k == "select_into":
                select_into(nd)
            elif k == "return":
                returns.append((guard, subst(nd.parts[0])))
            elif k in ("if", "case"):
                merge_arms(nd, guard)
            elif k in ("while", "repeat", "loop"):
                _sp_run(
                    [nd], cond_true,
                    lambda s, v: cond_true(f"({s}) = ({v})"),
                    concrete_leaf,
                )
            else:
                raise ValueError(
                    f"stored function: unsupported unit {nd.text[:60]!r}")

    run(nodes, None)
    if not returns:
        raise ValueError("stored function: no RETURN reached")
    if returns[0][0] is None:
        return returns[0][1]
    parts = []
    for g, v in returns:
        if g is None:
            parts.append(f"ELSE {v}")
            break
        parts.append(f"WHEN COALESCE({g}, {_BFALSE}) THEN {v}")
    sql_case = "(CASE " + " ".join(parts)
    if not any(g is None for g, _ in returns):
        sql_case += " ELSE NULL"
    return sql_case + " END)"


_CREATE_FUNC = re.compile(
    r"^\s*CREATE\s+FUNCTION\s+(`[^`]+`|\w+)\s*\(([^)]*)\)\s*"
    r"RETURNS\s+(\w+(?:\s*\([^)]*\))?)\s+.*?RETURN\s*(.+)$",
    re.I | re.S,
)


_CREATE_FUNC_PROC = re.compile(
    # params may hold nested parens: (number VARCHAR (20) CHARSET utf8)
    r"^\s*CREATE\s+FUNCTION\s+(`[^`]+`|\w+)\s*"
    r"\(((?:[^()]|\([^()]*\))*)\)\s*"
    r"RETURNS\s+(\w+(?:\s*\([^)]*\))?)[^()]*?(BEGIN\b.*END)\s*$",
    re.I | re.S,
)


def _parse_create_function(s: str):
    """Parse ``CREATE FUNCTION f(a int, ...) RETURNS t RETURN expr`` →
    (name, [param names], spark return type, body expr).  A BEGIN…END
    procedural body is kept as _ProcBody and compiled per call (its
    WHILE bounds may depend on the arguments — user_function.test)."""
    pm = _CREATE_FUNC_PROC.match(s)
    m = pm or _CREATE_FUNC.match(s)
    if not m:
        return None
    params = []
    ptypes: dict[str, str] = {}
    for p in _split_top_commas(m.group(2)):
        toks = p.split()
        if not toks:
            continue
        params.append(toks[0])
        dm3 = re.match(r"(?i)^(DECIMAL|NUMERIC)\s*(\([^)]*\))?",
                       " ".join(toks[1:]))
        if dm3:
            ptypes[toks[0].lower()] = "DECIMAL" + (dm3.group(2) or "(10,0)")
    rett = m.group(3).strip()
    base = re.match(r"(\w+)", rett).group(1).lower()
    stype = _TYPE_MAP.get(base, ("STRING", "VARCHAR"))[0]
    if stype == "DECIMAL":
        stype = "DECIMAL" + (rett[len(base):].strip() or "(10,0)")
    body = _ProcBody(pm.group(4), ptypes) if pm else m.group(4).strip()
    return _unquote_ident(m.group(1)), params, stype, body


def _inline_funcs(sql: str, funcs: dict) -> str:
    """Textually expand SQL-function calls (select_function_calls.test):
    ``f(args)`` → ``CAST((body with params substituted) AS rettype)``.
    MySQL checks arity (error 1318 analog here); unknown names are left
    for the engine to reject."""
    for _ in range(8):  # nested calls converge quickly
        changed = False
        for name, (params, stype, body) in funcs.items():
            def expand(inner: str) -> str:
                args = (
                    _split_top_commas(inner) if inner.strip() else []
                )
                if len(args) != len(params):
                    raise ValueError(
                        f"Incorrect parameter count to FUNCTION "
                        f"{name} (MySQL error 1318 analog)"
                    )
                if isinstance(body, _ProcBody):
                    subst_env, init_env = {}, {}
                    for p, a in zip(params, args):
                        v = a.strip()
                        if p.lower() in body.ptypes:
                            v = (f"CAST(({v}) AS "
                                 f"{body.ptypes[p.lower()]})")
                        if re.search(
                            rf"(?i)\bSET\s+{re.escape(p)}\s*:?=",
                            body.text,
                        ):
                            # a param the body REASSIGNS (PINYIN's
                            # SET NAME = HEX(NAME)) lives in the
                            # symbolic env, not textual substitution
                            init_env[p.lower()] = f"({v})"
                        else:
                            subst_env[p.lower()] = v
                    bound = _pe_subst(body.text, subst_env)
                    return (
                        f"CAST(({_compile_proc_body(bound, init_env)})"
                        f" AS {stype})"
                    )
                out = body
                for p, a in zip(params, args):
                    out = re.sub(
                        rf"\b{re.escape(p)}\b", f"({a.strip()})", out,
                        flags=re.I,
                    )
                # textual inlining must not let an argument's table
                # qualifier be captured by the body's own FROM of the
                # SAME table (issue538: get_salary(employees.id) called
                # from a derived table over employees).  Alias the
                # body's bare FROM relation away — unless the body
                # itself references it by name.
                fm2 = re.search(
                    r"(?i)\bFROM\s+(`?\w+`?)\s+(WHERE|ORDER|GROUP|LIMIT)",
                    out)
                if fm2:
                    tn2 = _unquote_ident(fm2.group(1))
                    if (
                        not re.search(rf"(?i)\b{re.escape(tn2)}\s*\.",
                                      body)
                        and re.search(rf"(?i)\b{re.escape(tn2)}\s*\.",
                                      out)
                    ):
                        out = (out[:fm2.start()]
                               + f"FROM {fm2.group(1)} AS __fnself "
                               + out[fm2.start(2):])
                return f"CAST(({out}) AS {stype})"

            new = _wrap_calls(sql, re.escape(name), expand)
            if new != sql:
                sql, changed = new, True
        if not changed:
            return sql
    return sql


# -- triggers: folded into the statements that fire them --------------------

_CREATE_TRG = re.compile(
    r"^\s*CREATE\s+TRIGGER\s+(?:(\w+)\s*\.\s*)?(`[^`]+`|\w+)\s+"
    r"(BEFORE|AFTER)\s+(INSERT|UPDATE|DELETE)\s+ON\s+"
    r"(?:(\w+)\s*\.\s*)?(`[^`]+`|\w+)\s+FOR\s+EACH\s+ROW\s+(.*)$",
    re.I | re.S,
)

_TRG_NEWOLD = re.compile(r"(?i)\b(NEW|OLD)\s*\.\s*(`[^`]+`|\w+)")
_TRG_TARGET = re.compile(r"(?is)(?:NEW|OLD)\s*\.\s*(?:`[^`]+`|\w+)|@\w+")


def _trg_nodes(body: str) -> list[_SpNode]:
    """Parse a trigger body; beyond SET NEW.x / OLD.x / @var, INSERT /
    UPDATE / DELETE and IF it raises ValueError."""

    def check(nodes: list[_SpNode]) -> None:
        for nd in nodes:
            if nd.kind == "if":
                for _c, blk in nd.arms:
                    check(blk)
            elif nd.kind == "set" and nd.parts and all(
                    _TRG_TARGET.fullmatch(t) for t, _ in nd.parts):
                continue
            elif not (nd.kind == "stmt" and re.match(
                    r"(?i)(INSERT|DELETE|UPDATE)\b", nd.text)):
                raise ValueError(f"unsupported trigger body: {nd.text[:60]}")

    nodes = _sp_parse(body)
    check(nodes)
    return nodes


def _trg_validate(event: str, timing: str, nodes, td) -> str | None:
    """MySQL's CREATE-TRIGGER-time validation: returns the error-code
    analog ('1362' updating OLD / AFTER NEW, '1363' wrong-event
    pseudo-row, '1054' unknown subject-table column) or None.  Only
    NEW./OLD. references are validated — other tables' columns resolve
    at fire time, like MySQL (trigger.test:236-258)."""
    cols = {c.name.lower() for c in td.columns} if td else None

    def walk(nodes):
        for nd in nodes:
            if nd.kind == "if":
                for cond, blk in nd.arms:
                    if cond:
                        yield ("expr", cond)
                    yield from walk(blk)
            elif nd.kind == "set":
                for tgt, expr in nd.parts:
                    yield ("tgt", tgt)
                    yield ("expr", expr)
            else:
                yield ("expr", nd.text)

    for kind, text in walk(nodes):
        if kind == "tgt" and not text.startswith("@"):
            tm = re.match(
                r"(?is)^(NEW|OLD)\s*\.\s*(`[^`]+`|\w+)$", text)
            side = tm.group(1).upper()
            col = _unquote_ident(tm.group(2)).lower()
            if side == "OLD":
                return "1362"
            if event == "DELETE":
                return "1363"
            if timing == "AFTER":
                return "1362"
            if cols is not None and col not in cols:
                return "1054"
            continue
        if kind != "expr":
            continue
        masked = _ANY_STRLIT.sub("''", text)
        for m in _TRG_NEWOLD.finditer(masked):
            side = m.group(1).upper()
            col = _unquote_ident(m.group(2)).lower()
            if side == "OLD" and event == "INSERT":
                return "1363"
            if side == "NEW" and event == "DELETE":
                return "1363"
            if cols is not None and col not in cols:
                return "1054"
    return None


def _g_and(a: str | None, b: str | None) -> str | None:
    if a is None:
        return b
    if b is None:
        return a
    return f"({a}) AND ({b})"


def _g_not(c: str) -> str:
    # MySQL ELSE runs when the condition is FALSE or NULL — exactly
    # IS NOT TRUE (both engines support it; NULL → true)
    return f"(({c}) IS NOT TRUE)"


def _trg_apply(nodes, newmap, old_sub, sides, guard=None,
               mutate_new=True) -> None:
    """Symbolically execute a trigger body, textually.  ``newmap`` maps
    column(lower) -> expression text (None when there is no NEW row);
    ``old_sub(col)`` returns the OLD-value expression (None when there
    is no OLD row).  SET NEW.x mutates ``newmap`` (guard-folded via
    IF); @var assignments and body DML are appended to ``sides`` as
    ('var', name, substituted_expr, guard) / ('dml', text, guard)."""

    def rep(m):
        side = m.group(1).upper()
        col = _unquote_ident(m.group(2)).lower()
        if side == "NEW":
            if newmap is None or col not in newmap:
                raise ValueError(f"trigger: no NEW.{col}")
            return f"({newmap[col]})"
        if old_sub is None:
            raise ValueError("trigger: no OLD row")
        v = old_sub(col)
        if v is None:
            raise ValueError(f"trigger: no OLD.{col}")
        return f"({v})"

    def subst(expr: str) -> str:
        return _sub_outside_strings(expr, _TRG_NEWOLD, rep)

    def run(nodes, guard):
        for nd in nodes:
            if nd.kind == "if":
                prior: list[str] = []
                for cond, blk in nd.arms:
                    g2 = guard
                    for p in prior:
                        g2 = _g_and(g2, _g_not(p))
                    if cond is not None:
                        c2 = subst(cond)
                        g2 = _g_and(g2, c2)
                        prior.append(c2)
                    run(blk, g2)
            elif nd.kind == "set":
                for tgt, expr in nd.parts:
                    val = subst(expr)
                    if tgt.startswith("@"):
                        sides.append(("var", tgt[1:], val, guard))
                        continue
                    col = _unquote_ident(
                        re.sub(r"(?is)^NEW\s*\.\s*", "", tgt)).lower()
                    if mutate_new and newmap is not None:
                        newmap[col] = (
                            f"IF({guard}, {val}, {newmap[col]})"
                            if guard else val
                        )
            else:
                sides.append(("dml", subst(nd.text), None, guard))

    run(nodes, guard)


def _backtick_dollar_idents(s: str) -> str:
    """MySQL allows $ in unquoted identifiers (issue222's $tt / a$1 /
    $b / c$); both engines need them quoted.  Backtick such tokens at
    statement entry so every downstream parser sees the quoted form."""
    if "$" not in s:
        return s
    lits: list[str] = []

    def _mask(m: re.Match) -> str:
        lits.append(m.group(0))
        return f"\x03{len(lits) - 1}\x03"

    t = _ANY_STRLIT.sub(_mask, s)
    t = re.sub(
        # '@' in the lookbehind: user/system variables (@v$x) are not
        # identifiers — backticking them breaks @-substitution
        r"(?<![`\w$@])((?:[A-Za-z_][\w$]*)?\$[\w$]*)(?![`\w$])",
        lambda m: f"`{m.group(1)}`" if m.group(1) not in ("$",) else
        m.group(0),
        t,
    )
    for i, lit in enumerate(lits):
        t = t.replace(f"\x03{i}\x03", lit)
    return t


def _normalize_create_index(s: str) -> str:
    """``CREATE [UNIQUE] INDEX i ON t (cols)`` and ``DROP INDEX i ON
    t`` are spelled as their ALTER TABLE forms (same executor path;
    issue1325/create_index.test).  ``sleep N`` mysqltest timing
    statements are no-ops (issue956)."""
    m = re.match(
        r"^\s*CREATE\s+(UNIQUE\s+)?INDEX\s+(`[^`]+`|\w+)\s+ON\s+"
        r"(`[^`]+`|\w+)\s*(\(.*\))\s*$", s, re.I | re.S,
    )
    if m:
        return (f"ALTER TABLE {m.group(3)} ADD {m.group(1) or ''}INDEX "
                f"{m.group(2)} {m.group(4)}")
    m = re.match(
        r"^\s*DROP\s+INDEX\s+(`[^`]+`|\w+)\s+ON\s+(`[^`]+`|\w+)\s*$",
        s, re.I,
    )
    if m:
        return f"ALTER TABLE {m.group(2)} DROP INDEX {m.group(1)}"
    if re.match(r"^\s*sleep\s+\d+(\.\d+)?\s*$", s, re.I):
        return "SET NAMES utf8mb4"  # an ignored no-op statement
    return s


def _normalize_insert_set(s: str) -> str:
    """``INSERT INTO t SET a=1, b=2`` → column-list VALUES form
    (select_precision.test); same for ``REPLACE INTO t SET …``
    (replace_into.test)."""
    m = re.match(
        r"^(\s*(?:INSERT|REPLACE)\s+(?:IGNORE\s+)?(?:INTO\s+)?"
        r"(?:`[^`]+`|\w+)\s+)SET\s+(.+)$",
        s,
        re.I | re.S,
    )
    if not m or re.match(r"^\s*(INSERT|REPLACE)\s+INTO\s+SET\b", s, re.I):
        return s
    cols, vals = [], []
    for part in _split_top_commas(m.group(2)):
        am = re.match(
            r"\s*((?:(?:`[^`]+`|\w+)\.)*(`[^`]+`|\w+))\s*=\s*(.*)$",
            part, re.S,
        )
        # qualified targets (insert.test's ``set t1.c = '1'``) keep
        # only the column segment
        cols.append(_unquote_ident(am.group(2)))
        vals.append(am.group(3).strip())
    return (
        f"{m.group(1)}({', '.join(cols)}) VALUES ({', '.join(vals)})"
    )


def _split_create_select(s: str):
    """``CREATE TABLE t (coldefs) [options] SELECT …`` (ctas1.test's
    user_bk4/user_bk5): split into the CREATE part and the feeding
    SELECT.  Returns (create_part, select_part) or None."""
    m = re.match(r"^\s*CREATE\s+TABLE\s+(`[^`]+`|\w+)\s*\(", s, re.I)
    if not m:
        return None
    depth, i, in_str = 1, m.end(), None
    while i < len(s) and depth:
        ch = s[i]
        if in_str:
            if ch == "\\":
                i += 1
            elif ch == in_str:
                in_str = None
        elif ch in ("'", '"', "`"):
            in_str = ch
        elif ch == "(":
            depth += 1
        elif ch == ")":
            depth -= 1
        i += 1
    rest = s[i:]
    rm = re.search(r"\bSELECT\b", rest, re.I)
    if not rm:
        return None
    create_part = re.sub(r"\s*\bAS\s*$", "", s[:i] + " " + rest[:rm.start()])
    return create_part, rest[rm.start():]


def _select_out_names(sel: str, tables: dict) -> list[str]:
    """Output column names of a top-level SELECT — enough for MySQL's
    CREATE TABLE (cols) SELECT merge rule: explicit projections
    (alias, bare or qualified column) and ``*`` / ``t.*`` resolved
    through the FROM table's TableDef."""
    m = re.match(
        r"^\s*\(?\s*SELECT\s+(?:DISTINCT\s+)?(.*?)\s+FROM\s+(.*)$",
        sel, re.I | re.S,
    )
    if not m:
        # FROM-less literal select: CREATE TABLE (cols) SELECT 'x' AS a
        # (issue228; group 2 = empty FROM tail)
        m = re.match(
            r"^\s*\(?\s*SELECT\s+(?:DISTINCT\s+)?(.*?)()\s*\)?\s*$",
            sel, re.I | re.S,
        )
    if not m:
        raise ValueError(f"cannot derive select columns: {sel[:80]}")
    names: list[str] = []
    for it in _split_top_commas(m.group(1)):
        it = it.strip()
        star = re.fullmatch(r"(?:(`[^`]+`|\w+)\.)?\*", it)
        if star:
            tn = star.group(1)
            if tn is None:
                fm = re.match(r"\s*(`[^`]+`|\w+)", m.group(2))
                tn = fm.group(1)
            td = tables[_unquote_ident(tn).lower()]
            names.extend(c.name for c in td.columns)
            continue
        am = re.search(
            r"\s+(?:AS\s+)?(`[^`]+`|\w+|'[^']*'|\"[^\"]*\")\s*$", it, re.I
        )
        bare = re.fullmatch(r"(?:(?:`[^`]+`|\w+)\.)?(`[^`]+`|\w+)", it)
        if bare:
            names.append(_unquote_ident(bare.group(1)))
        elif am and am.group(1).upper() not in _REL_KEYWORDS:
            names.append(_unquote_ident(am.group(1)).strip("'\""))
        else:
            names.append(it)
    return names


def _merged_ctas_projection(
    tdd: TableDef, sel_names: list[str], engine: str
) -> str:
    """The projection implementing MySQL's CREATE TABLE (cols) SELECT
    column-merge rule: declared columns first (fed by the same-named
    select output, else their DEFAULT), remaining select outputs
    appended."""
    q = "`" if engine == "spark" else '"'
    lower_sel = [n.lower() for n in sel_names]
    parts = []
    for c in tdd.columns:
        ctype = c.spark_type if engine == "spark" else c.duck_type
        if c.name.lower() in lower_sel:
            src = sel_names[lower_sel.index(c.name.lower())]
            parts.append(
                f"CAST({q}{src}{q} AS {ctype}) AS {q}{c.name}{q}"
            )
        else:
            dv = (
                rewrite_expr(c.default, engine)
                if c.default is not None else "NULL"
            )
            parts.append(f"CAST(({dv}) AS {ctype}) AS {q}{c.name}{q}")
    declared = {c.name.lower() for c in tdd.columns}
    parts.extend(
        f"{q}{n}{q}" for n in sel_names if n.lower() not in declared
    )
    return ", ".join(parts)


def _implicit_default(c: ColumnDef) -> str:
    """The literal MySQL uses for a bare self-reference of a column in
    VALUES (insert_select.test's ``insert into t1 values (a+2)``):
    declared DEFAULT, else the type's implicit default for NOT NULL
    columns, else NULL."""
    if c.default is not None:
        return c.default
    if not c.notnull:
        return "NULL"
    if c.mysql_type in _STRICT_INT_RANGES or c.spark_type.upper() in (
        "DOUBLE", "FLOAT",
    ) or c.spark_type.upper().startswith("DECIMAL"):
        return "0"
    if c.spark_type.upper() in ("DATE", "TIMESTAMP") or (
        c.mysql_type == "time"
    ):
        # MySQL's implicit temporal default is the zero value
        # ('0000-00-00' / '00:00:00'; issue682's INSERT IGNORE NULL
        # into NOT NULL DATE/TIME) — emit literal 0 and let
        # _mysql_temporal_literal canonicalize (sentinel date,
        # '00:00:00' time) so the zero model lives in ONE place
        return "0"
    return "''"


# ---------------------------------------------------------------------------
# script runner (Spark) + oracle builder (DuckDB)


def _physname(name: str) -> str:
    """Spark's catalog only accepts [A-Za-z0-9_] relation names; MySQL
    accepts nearly anything quoted (create_table.test's `a/a`,
    issue362's `abcÿdef`).  Map such LOGICAL names to a deterministic
    ASCII physical name at the engine boundary; the statement model,
    SHOW CREATE rendering and oracle stay logical."""
    if re.fullmatch(r"\w+", name, re.A):
        return name
    import hashlib
    return "tbl_" + hashlib.md5(name.encode()).hexdigest()[:10]


def _map_physnames(sql: str, tables: dict) -> str:
    """Rewrite references of weird-named tables to their physical
    names in engine-bound SQL (backticked first, then bare tokens).
    String literals are masked first so a quoted VALUE that happens to
    contain the logical name (INSERT INTO `a/a` VALUES ('a/a')) is
    never rewritten — only identifier positions are."""
    weird = [
        td.name for td in tables.values()
        if _physname(td.name) != td.name
    ]
    if not weird:
        return sql
    lits: list[str] = []

    def _mask(m):
        lits.append(m.group(0))
        return f"\x00L{len(lits) - 1}\x00"

    sql = _ANY_STRLIT.sub(_mask, sql)
    for nm in weird:
        phys = _physname(nm)
        sql = sql.replace(f"`{nm}`", f"`{phys}`")
        sql = re.sub(
            rf"(?<![\w`]){re.escape(nm)}(?![\w`])", f"`{phys}`", sql
        )
    return re.sub(
        r"\x00L(\d+)\x00", lambda m: lits[int(m.group(1))], sql
    )


def _parked_name(name: str) -> str:
    """Physical name of a permanent table while a TEMPORARY table of
    the same name hides it."""
    return f"{_physname(name)}__shadowed"


def _park_shadowed(run: "MTRRun", name: str, temporary: bool) -> None:
    """CREATE TEMPORARY TABLE over a permanent table of its name: park
    the permanent table until the temporary one is dropped."""
    prior = run.tables.get(name.lower())
    if temporary and prior is not None and not prior.temporary:
        run.spark.sql(
            f"ALTER TABLE `{_physname(prior.name)}` "
            f"RENAME TO `{_parked_name(prior.name)}`")
        run.shadowed[name.lower()] = prior


@dataclass
class MTRRun:
    """Execution state for one script run."""

    spark: SparkSession
    workdir: str
    tables: dict[str, TableDef] = field(default_factory=dict)
    selects: list[DataFrame] = field(default_factory=list)
    vars: dict[str, str] = field(default_factory=dict)  # @name -> literal
    funcs: dict = field(default_factory=dict)  # SQL functions (inlined)
    strict: bool = True  # sql_mode STRICT_* (non-strict clamps)
    full_group_by: bool = True  # sql_mode ONLY_FULL_GROUP_BY
    # DROP + re-CREATE of the same table name must get a FRESH storage
    # location — an external parquet table resurrects old files
    # otherwise.  Counter makes each incarnation's path unique.
    incarnation: int = 0
    # SELECT ... INTO OUTFILE targets, remapped into the run's workdir
    # (MTR scripts write into $MYSQL_TEST_DIR/... which is read-only
    # here): {script path -> actual file written}.  A later LOAD DATA
    # of the script path reads the remapped file (round-trip tests,
    # unsigned_support_issue1267.test).
    outfiles: dict = field(default_factory=dict)

    # a TEMPORARY table hides the permanent table of its name until it
    # is dropped (temporary.test): key -> the permanent TableDef, whose
    # Spark table is parked under _parked_name meanwhile
    shadowed: dict = field(default_factory=dict)

    def sql(self, q: str):
        """Engine boundary: physical-name mapping happens here so the
        whole statement model stays logical (create_table.test `a/a`)."""
        return self.spark.sql(_map_physnames(q, self.tables))
    # CREATE VIEW name -> original MySQL body text (insert-through-view
    # resolution; insert.test)
    viewdefs: dict = field(default_factory=dict)
    # ROW_COUNT() analog: rows written by the last INSERT VALUES
    last_rowcount: int = -1
    # session SET overrides over _SERVER_VARIABLES (SHOW VARIABLES
    # surface: issue1108/1131; .opt-file overrides enter here too)
    sysvars: dict = field(default_factory=dict)
    # raw session sql_mode text as last SET (SHOW VARIABLES renders
    # what was set; issue975's '%sql_mode%' probe)
    sqlmode_text: str = ("ONLY_FULL_GROUP_BY,STRICT_TRANS_TABLES,"
                         "NO_ZERO_IN_DATE,NO_ZERO_DATE,"
                         "ERROR_FOR_DIVISION_BY_ZERO,"
                         "NO_AUTO_CREATE_USER,NO_ENGINE_SUBSTITUTION")
    # databases the script created (1007 duplicate-create analog)
    dbs: set = field(default_factory=set)


# tianmu system variables and their build defaults, extracted from the
# MYSQL_SYSVAR_* definitions in storage/tianmu/handler/ha_tianmu.cpp
# (:2561-2780; e.g. delete_or_update_threads default 0 at :2624 — the
# value r/issue1108.result pins).  data_distribution_policy is the
# ENUM default index 2 of {round-robin, random, space} (:2672-2678).
# Plus the server engine defaults the suite's SHOW probes read
# (r/issue1131.result: default_storage_engine TIANMU,
# default_tmp_storage_engine InnoDB).
_SERVER_VARIABLES = {
    "default_storage_engine": "TIANMU",
    "default_tmp_storage_engine": "InnoDB",
    "tianmu_refresh_sys_tianmu": "ON",
    "tianmu_ini_allowmysqlquerypath": "0",
    "tianmu_ini_cachefolder": "cache",
    "tianmu_ini_knlevel": "99",
    "tianmu_ini_pushdown": "ON",
    "tianmu_ini_servermainheapsize": "0",
    "tianmu_ini_usemysqlimportexportdefaults": "OFF",
    "tianmu_ini_threadpoolsize": "1",
    "tianmu_ini_cachesizethreshold": "4",
    "tianmu_ini_cachereleasethreshold": "100",
    "tianmu_insert_delayed": "ON",
    "tianmu_insert_cntthreshold": "2",
    "tianmu_insert_numthreshold": "10000",
    "tianmu_insert_wait_ms": "100",
    "tianmu_insert_wait_time": "1000",
    "tianmu_insert_max_buffered": "65536",
    "tianmu_compensation_start": "OFF",
    "tianmu_hugefiledir": "",
    "tianmu_os_least_mem": "1",
    "tianmu_hugefilesize": "1",
    "tianmu_cachinglevel": "1",
    "tianmu_mm_policy": "",
    "tianmu_mm_hardlimit": "0",
    "tianmu_mm_releasepolicy": "2q",
    "tianmu_mm_largetempratio": "0",
    "tianmu_mm_largetemppool_threshold": "16",
    "tianmu_sync_buffers": "0",
    "tianmu_query_threads": "0",
    "tianmu_load_threads": "0",
    "tianmu_bg_load_threads": "0",
    "tianmu_insert_buffer_size": "512",
    "tianmu_delete_or_update_threads": "0",
    "tianmu_merge_rocks_expected_count": "65536",
    "tianmu_insert_write_batch_size": "10000",
    "tianmu_log_loop_interval": "60",
    "tianmu_global_debug_level": "4",
    "tianmu_distinct_cache_size": "64",
    "tianmu_filterevaluation_speedup": "ON",
    "tianmu_groupby_speedup": "ON",
    "tianmu_groupby_parallel_degree": "8",
    "tianmu_groupby_parallel_rows_minimum": "655360",
    "tianmu_slow_query_record_interval": "0",
    "tianmu_orderby_speedup": "ON",
    "tianmu_join_parallel": "1",
    "tianmu_join_splitrows": "0",
    "tianmu_minmax_speedup": "ON",
    "tianmu_index_cache_size": "0",
    "tianmu_index_search": "ON",
    "tianmu_enable_rowstore": "ON",
    "tianmu_parallel_filloutput": "ON",
    "tianmu_parallel_mapjoin": "OFF",
    "tianmu_max_execution_time": "0",
    "tianmu_ini_controlquerylog": "1",
    "tianmu_data_distribution_policy": "space",
    "tianmu_disk_usage_threshold": "85",
    "tianmu_lookup_max_size": "100000",
    "tianmu_qps_log": "ON",
    "tianmu_force_hashjoin": "ON",
    "tianmu_start_async": "0",
    "tianmu_async_join": "",
    "tianmu_join_disable_switch_side": "OFF",
    "tianmu_enable_histogram_cmap_bloom": "OFF",
    "tianmu_large_prefix": "ON",
    "tianmu_result_sender_rows": "65536",
}

_ENGINE_CANON = {"innodb": "InnoDB", "tianmu": "TIANMU",
                 "myisam": "MyISAM", "memory": "MEMORY", "csv": "CSV"}

_SHOW_VARS_RX = re.compile(
    r"^\s*SHOW\s+(?:SESSION\s+|GLOBAL\s+)?VARIABLES"
    r"(?:\s+LIKE\s+(['\"])([^'\"]*)\1)?\s*$", re.I,
)

_SET_SERVER_VAR_RX = re.compile(
    r"^\s*SET\s+(?:SESSION\s+|GLOBAL\s+)?(?:@@(?:session\.|global\.)?)?"
    r"(default_storage_engine|default_tmp_storage_engine|tianmu_\w+)"
    r"\s*=\s*(.+?)\s*$", re.I,
)


def _show_variables_rows(
    like_pat: str | None, overrides: dict, sqlmode_text: str
) -> list[tuple]:
    """SHOW VARIABLES [LIKE 'pat'] over the modeled surface: the
    tianmu sysvars at their reference build defaults, the engine
    defaults, sql_mode (session-tracked), and any session SET
    overrides.  MySQL sorts by Variable_name; LIKE uses %/_ patterns,
    case-insensitive."""
    allvars = dict(_SERVER_VARIABLES)
    allvars["sql_mode"] = sqlmode_text
    allvars.update(overrides)
    rx = None
    if like_pat is not None:
        rx = re.compile(
            "^" + re.escape(like_pat).replace("%", ".*").replace("_", ".")
            + "$", re.I,
        )
    return [
        (k, v) for k, v in sorted(allvars.items())
        if rx is None or rx.match(k)
    ]


def _canon_set_var(name: str, val: str) -> str:
    """Render a SET value the way SHOW VARIABLES prints it: engines in
    canonical case, booleans as ON/OFF."""
    v = val.strip().strip("'\"")
    if name.lower() in ("default_storage_engine",
                        "default_tmp_storage_engine"):
        return _ENGINE_CANON.get(v.lower(), v)
    if v in ("0", "1") and _SERVER_VARIABLES.get(name.lower()) in (
        "ON", "OFF",
    ):
        return "ON" if v == "1" else "OFF"
    if v.upper() in ("ON", "OFF", "TRUE", "FALSE"):
        return {"TRUE": "ON", "FALSE": "OFF"}.get(v.upper(), v.upper())
    return v


_SHOWDESC = re.compile(
    r"^\s*(SHOW\s+CREATE\s+TABLE|DESC(RIBE)?\s+(`[^`]+`|\w+)\s*$"
    r"|SHOW\s+(FULL\s+)?COLUMNS\s+FROM"
    r"|SHOW\s+(DATABASES|SCHEMAS)\b|SHOW\s+TABLES\b"
    r"|SHOW\s+(SESSION\s+|GLOBAL\s+)?VARIABLES\b)",
    re.I,
)

_IGNORED = re.compile(
    # bare SET covers sql_mode / optimizer_switch / NAMES …; user
    # variables (SET @v=…) are NOT ignored — they get substituted
    r"^\s*(CREATE\s+DATABASE|DROP\s+DATABASE|USE\b|SET\s+(?!@)|"
    r"COMMIT|BEGIN|START\s+TRANSACTION|SHOW\b|DESC(RIBE)?\b|"
    r"CREATE\s+PROCEDURE|DROP\s+PROCEDURE|"
    r"connect\s*\(|connection\b|disconnect\b|"
    r"SELECT\s+@@|"  # system-variable probes: deployment introspection
    r"EXPLAIN\b|ANALYZE\s+TABLE|CHECK\s+TABLE|OPTIMIZE\s+TABLE|"
    r"LOCK\s+TABLES|UNLOCK\s+TABLES|"
    r"DIFF_FILES\b|"  # runner-side file check; no oracle state
    r"ALTER\s+(FUNCTION|PROCEDURE))",  # comment-only metadata
    re.I,
)


_PRIORITY_MODS = re.compile(
    r"^(\s*(?:INSERT|DELETE|REPLACE|UPDATE))\s+"
    r"(?:LOW_PRIORITY|HIGH_PRIORITY|DELAYED|QUICK)\b",
    re.I,
)


def _strip_modifiers(s: str) -> str:
    """Drop MySQL priority/queue modifiers — pure scheduler hints."""
    prev = None
    while prev != s:
        prev, s = s, _PRIORITY_MODS.sub(r"\1", s)
    return s


_DELETE_STMT = re.compile(
    r"^\s*DELETE\s+FROM\s+(`[^`]+`|\w+)"
    r"(?:\s+WHERE\s+(.*?))?"
    r"(?:\s+ORDER\s+BY\s+(.*?))?"
    r"(?:\s+LIMIT\s+(\d+))?\s*$",
    re.I | re.S,
)


def _delete_keep_sql(
    rel: str, td: TableDef, cond: str | None, order: str | None,
    n: int | None, engine: str, alias: str | None = None,
) -> str:
    """One SQL text (same shape both engines) selecting the SURVIVORS of
    ``DELETE FROM t [WHERE cond] [ORDER BY k] [LIMIT n]``.  MySQL's
    LIMIT deletes the first n matches in storage order; with no ORDER BY
    we sort by all columns NULLS FIRST — deterministic and identical on
    both engines (ties are full duplicates, hence interchangeable).
    ``cond``/``order`` must already be engine-rewritten."""
    q = "`" if engine == "spark" else '"'
    if alias:  # keep table-qualified refs (t1.a) resolvable on a CTE
        rel = f"{rel} AS {q}{alias}{q}"
    cols = ", ".join(f"{q}{c.name}{q}" for c in td.columns)
    cnd = f"COALESCE(({cond}), {_BFALSE})" if cond else _BTRUE
    if n is None:
        return f"SELECT {cols} FROM {rel} WHERE NOT {cnd}"
    key = order if order else ", ".join(
        f"{q}{c.name}{q} NULLS FIRST" for c in td.columns
    )
    return (
        f"SELECT {cols} FROM {rel} WHERE NOT {cnd} "
        f"UNION ALL SELECT {cols} FROM ("
        f"SELECT *, row_number() OVER (ORDER BY {key}) AS _rn "
        f"FROM {rel} WHERE {cnd}) AS _m WHERE _rn > {n}"
    )


_FROM_DUAL = re.compile(r"\s+FROM\s+dual\b(?!\s*\.)", re.I)

_VERSION_CALL = re.compile(r"\bVERSION\s*\(\s*\)", re.I)

_UPDATE_STMT = re.compile(
    r"^\s*UPDATE\s+(`[^`]+`|\w+)\s+SET\s+(.*?)"
    r"(?:\s+WHERE\s+(.*?))?"
    r"(?:\s+ORDER\s+BY\s+(.*?))?"
    r"(?:\s+LIMIT\s+(\d+))?\s*$",
    re.I | re.S,
)


class _UpdateParts:
    """Match-shaped carrier for _match_update (group(1..5))."""

    def __init__(self, groups):
        self._g = groups

    def group(self, n: int):
        return self._g[n - 1]


def _match_update(s: str):
    """Depth-aware single-table UPDATE splitter: WHERE/ORDER BY/LIMIT
    boundaries are found at paren depth 0 only — a scalar subquery in
    a SET expression carries its own WHERE (issue581's trigger fold),
    which the lazy regex would mistake for the statement's."""
    m = re.match(r"^\s*UPDATE\s+(`[^`]+`|\w+)\s+SET\s+", s, re.I | re.S)
    if not m:
        return None
    tname = m.group(1)
    i = m.end()
    wi = _scan_token(s, i, 0, ("WHERE", "ORDER", "LIMIT"))
    set_end = wi if wi >= 0 else len(s)
    set_text = s[i:set_end].strip()
    where = order = limit = None
    j = set_end
    while 0 <= j < len(s):
        tm = re.match(r"[A-Za-z_]\w*", s[j:])
        tok = tm.group(0).upper() if tm else ""
        if tok == "WHERE":
            k = _scan_token(s, j + 5, 0, ("ORDER", "LIMIT"))
            where = s[j + 5:(k if k >= 0 else len(s))].strip()
            j = k
        elif tok == "ORDER":
            m2 = re.match(r"ORDER\s+BY\s+", s[j:], re.I)
            if not m2:
                return None
            k = _scan_token(s, j + m2.end(), 0, ("LIMIT",))
            order = s[j + m2.end():(k if k >= 0 else len(s))].strip()
            j = k
        elif tok == "LIMIT":
            lm = re.match(r"LIMIT\s+(\d+)\s*;?\s*$", s[j:], re.I)
            if not lm:
                return None
            limit = lm.group(1)
            j = -1
        else:
            return None
    if not set_text:
        return None
    return _UpdateParts((tname, set_text, where, order, limit))


def _update_limit_sql(
    rel: str, td: TableDef, assigns: dict[str, str], cond: str | None,
    order: str | None, n: int, engine: str, alias: str | None = None,
) -> str:
    """Projection SQL for ``UPDATE … [WHERE] [ORDER BY] LIMIT n``: only
    the first n matching rows (ORDER BY key, else all columns NULLS
    FIRST — deterministic on both engines) receive the SET list."""
    q = "`" if engine == "spark" else '"'
    if alias:
        rel = f"{rel} AS {q}{alias}{q}"
    cnd = f"COALESCE(({cond}), {_BFALSE})" if cond else _BTRUE
    key = order if order else ", ".join(
        f"{q}{c.name}{q} NULLS FIRST" for c in td.columns
    )
    inner = (
        f"SELECT *, SUM(CASE WHEN {cnd} THEN 1 ELSE 0 END) OVER "
        f"(ORDER BY {key} ROWS BETWEEN UNBOUNDED PRECEDING AND "
        f"CURRENT ROW) AS _mrank FROM {rel}"
    )
    hit = f"({cnd} AND _mrank <= {n})"
    parts = []
    for c in td.columns:
        t = c.spark_type if engine == "spark" else c.duck_type
        if c.name in assigns:
            new = (
                f"({assigns[c.name]})" if t == _DERIVED
                else f"CAST(({assigns[c.name]}) AS {t})"
            )
            parts.append(
                f"CASE WHEN {hit} THEN {new} "
                f"ELSE {q}{c.name}{q} END AS {q}{c.name}{q}"
            )
        else:
            parts.append(f"{q}{c.name}{q}")
    return f"SELECT {', '.join(parts)} FROM ({inner}) AS _u"


# -------------------------------------------------- multi-table DML
# MySQL's UPDATE ... JOIN ... SET and DELETE tgt FROM ... JOIN ... are
# expressed as: compute the DISTINCT target-rows appearing in the join
# result (the "hit set"), then anti-join (DELETE) or conditionally
# project (UPDATE) the target table against it with null-safe equality.
# Full-row identity is sound: identical rows are indistinguishable, so
# they match (or miss) the join together, exactly as in MySQL.

_MULTI_DELETE = re.compile(
    r"^\s*DELETE\s+((?:`[^`]+`|\w+)(?:\.\*)?(?:\s*,\s*(?:`[^`]+`|\w+)"
    r"(?:\.\*)?)*)\s+FROM\s+(.+?)(?:\s+WHERE\s+(.+))?\s*$",
    re.I | re.S,
)
_MULTI_UPDATE = re.compile(
    r"^\s*UPDATE\s+(.+?)\s+SET\s+(.+?)"
    r"(?:\s+WHERE\s+(.+))?\s*$",
    re.I | re.S,
)


def _hit_join(
    td: TableDef, tname: str, t_rel: str, joinfrom: str,
    where: str | None, engine: str,
) -> str:
    """FROM-clause text left-joining the target table against the
    DISTINCT target-rows of the join result (``_h._one`` non-NULL =
    row participates).  ``joinfrom``/``where`` must be engine-rewritten
    (and, for duck, retargeted to CTE versions with original-name
    aliases)."""
    q = "`" if engine == "spark" else '"'
    op = "<=>" if engine == "spark" else "IS NOT DISTINCT FROM"
    proj = ", ".join(
        f"{q}{tname}{q}.{q}{c.name}{q} AS {q}{c.name}{q}"
        for c in td.columns
    )
    wsql = f" WHERE {where}" if where else ""
    match = " AND ".join(
        f"_h.{q}{c.name}{q} {op} {q}{tname}{q}.{q}{c.name}{q}"
        for c in td.columns
    )
    return (
        f"{t_rel} AS {q}{tname}{q} LEFT JOIN "
        f"(SELECT DISTINCT {proj}, 1 AS _one FROM {joinfrom}{wsql}) AS _h "
        f"ON {match}"
    )


def _multi_delete_keep_sql(
    td: TableDef, tname: str, t_rel: str, joinfrom: str,
    where: str | None, engine: str,
) -> str:
    q = "`" if engine == "spark" else '"'
    cols = ", ".join(
        f"{q}{tname}{q}.{q}{c.name}{q}" for c in td.columns
    )
    frm = _hit_join(td, tname, t_rel, joinfrom, where, engine)
    return f"SELECT {cols} FROM {frm} WHERE _h._one IS NULL"


def _qualify_tbl_cols(expr: str, td: TableDef, tname: str,
                      q: str) -> str:
    """Qualify bare references to the table's own columns with the
    table alias — the _hit_join FROM exposes the same columns twice
    (target + _h), so an unqualified ``j + 10`` is ambiguous."""
    lits: list[str] = []

    def _mask(m):
        lits.append(m.group(0))
        return f"\x05{len(lits) - 1}\x05"

    t = _ANY_STRLIT.sub(_mask, expr)
    for c in td.columns:
        t = re.sub(
            rf"(?i)(?<![\w`.$]){re.escape(c.name)}(?![\w`$(])",
            f"{q}{tname}{q}.{q}{c.name}{q}", t,
        )
    return re.sub(r"\x05(\d+)\x05",
                  lambda m: lits[int(m.group(1))], t)


def _multi_update_sql(
    td: TableDef, tname: str, t_rel: str, joinfrom: str,
    where: str | None, assigns: dict[str, str], engine: str,
) -> str:
    q = "`" if engine == "spark" else '"'
    frm = _hit_join(td, tname, t_rel, joinfrom, where, engine)
    assigns = {
        k: _qualify_tbl_cols(v, td, tname, q)
        for k, v in assigns.items()
    }
    parts = []
    for c in td.columns:
        t = c.spark_type if engine == "spark" else c.duck_type
        if c.name in assigns:
            new = (
                f"({assigns[c.name]})" if t == _DERIVED
                else f"CAST(({assigns[c.name]}) AS {t})"
            )
            parts.append(
                f"CASE WHEN _h._one IS NOT NULL THEN {new} "
                f"ELSE {q}{tname}{q}.{q}{c.name}{q} END AS {q}{c.name}{q}"
            )
        else:
            parts.append(f"{q}{tname}{q}.{q}{c.name}{q} AS {q}{c.name}{q}")
    return f"SELECT {', '.join(parts)} FROM {frm}"


def _parse_coldef(text: str) -> ColumnDef:
    """Parse one bare column definition by round-tripping it through
    the CREATE TABLE parser."""
    return parse_create_table(f"CREATE TABLE _tmp ({text})").columns[0]


_POS_CLAUSE = re.compile(r"\s+(FIRST|AFTER\s+(`[^`]+`|\w+))\s*$", re.I)


def _alter_tabledef(
    td: TableDef, actions: list[str]
) -> tuple[TableDef, list[tuple[ColumnDef, str | None]]]:
    """Apply ALTER TABLE actions (ADD/DROP/MODIFY/CHANGE COLUMN with
    FIRST/AFTER placement) to a TableDef.  Returns the new definition
    plus, per new column, the OLD column name its data comes from
    (None = fresh column, fill with its DEFAULT)."""
    # work list of (coldef, source_old_name | None)
    work: list[tuple[ColumnDef, str | None]] = [
        (c, c.name) for c in td.columns
    ]

    def find(name: str) -> int:
        for i, (c, _) in enumerate(work):
            if c.name.lower() == name.lower():
                return i
        raise ValueError(f"ALTER: unknown column {name}")

    def check_free(name: str) -> None:
        if any(c.name.lower() == name.lower() for c, _ in work):
            raise ValueError(
                f"Duplicate column name '{name}' (MySQL error 1060 analog)"
            )

    def place(item: tuple[ColumnDef, str | None], pos: str | None,
              at: int | None = None) -> None:
        if pos is None:
            if at is None:
                work.append(item)
            else:
                work.insert(at, item)
        elif pos.upper() == "FIRST":
            work.insert(0, item)
        else:  # AFTER x
            ref = _unquote_ident(re.match(r"AFTER\s+(.*)$", pos, re.I).group(1))
            work.insert(find(ref) + 1, item)

    pk = list(td.pk)
    last_orderby = False
    rename_to = None
    for a in actions:
        a = a.strip()
        rn = re.match(
            r"RENAME\s+(?:TO\s+|AS\s+)?(`[^`]+`|\w+)\s*$", a, re.I
        )
        if rn and not re.match(r"RENAME\s+(INDEX|KEY|COLUMN)\b", a, re.I):
            rename_to = _unquote_ident(rn.group(1))
            continue
        if last_orderby and re.fullmatch(r"`[^`]+`|\w+", a):
            continue  # 'ORDER BY a,b' splits at the comma: tail idents
        last_orderby = bool(re.match(r"ORDER\s+BY\b", a, re.I))
        pm2 = re.match(r"ADD\s+PRIMARY\s+KEY\s*\(([^)]*)\)", a, re.I)
        if pm2:
            pk = [
                _unquote_ident(c)
                for c in _split_top_commas(pm2.group(1))
            ]
            continue
        if re.match(r"DROP\s+PRIMARY\s+KEY\s*$", a, re.I):
            pk = []
            continue
        algm = re.match(r"(ALGORITHM|LOCK)\s*=\s*(\w+)\s*$", a, re.I)
        if algm:
            # tianmu's PK index rebuild supports only the COPY
            # algorithm (issue1034: ALGORITHM=INPLACE -> 1845;
            # DEFAULT/COPY and LOCK hints pass through)
            if (algm.group(1).upper() == "ALGORITHM"
                    and algm.group(2).upper() == "INPLACE"
                    and td.engine == "tianmu"):
                raise ValueError(
                    "ALGORITHM=INPLACE is not supported. Reason: "
                    "tianmu's index rebuild copies the table. Try "
                    "ALGORITHM=COPY (MySQL error 1845 analog)"
                )
            continue
        pm = _POS_CLAUSE.search(a)
        pos = pm.group(1) if pm else None
        if pm:
            a = a[: pm.start()]
        m = re.match(
            r"RENAME\s+COLUMN\s+(`[^`]+`|\w+)\s+TO\s+(`[^`]+`|\w+)\s*$",
            a, re.I,
        )
        if m:
            from dataclasses import replace as _repl
            i = find(_unquote_ident(m.group(1)))
            c, src0 = work.pop(i)
            check_free(_unquote_ident(m.group(2)))
            work.insert(i, (_repl(c, name=_unquote_ident(m.group(2))), src0))
            continue
        m = re.match(r"ADD\s+(?:COLUMN\s+)?(.*)$", a, re.I | re.S)
        if m and not re.match(
            r"ADD\s+(PRIMARY|UNIQUE|INDEX|KEY|CONSTRAINT|FULLTEXT)", a, re.I
        ):
            nc = _parse_coldef(m.group(1))
            check_free(nc.name)
            if td.engine == "tianmu":
                _check_tianmu_decimal(nc)
            if nc.autoinc and nc.name.lower() not in {
                p.lower() for p in pk
            }:
                raise ValueError(
                    f"AUTO_INCREMENT column '{nc.name}' must be a key "
                    f"(MySQL error 1075 analog)"
                )
            place((nc, None), pos)
            continue
        m = re.match(r"DROP\s+(?:COLUMN\s+)?(`[^`]+`|\w+)\s*$", a, re.I)
        if m and m.group(1).upper() not in ("PRIMARY", "INDEX", "KEY"):
            work.pop(find(_unquote_ident(m.group(1))))
            continue
        m = re.match(r"MODIFY\s+(?:COLUMN\s+)?(.*)$", a, re.I | re.S)
        if m:
            nc = _parse_coldef(m.group(1))
            i = find(nc.name)
            old = work.pop(i)
            place((nc, old[1]), pos, at=i)
            continue
        m = re.match(
            r"CHANGE\s+(?:COLUMN\s+)?(`[^`]+`|\w+)\s+(.*)$", a, re.I | re.S
        )
        if m:
            nc = _parse_coldef(m.group(2))
            i = find(_unquote_ident(m.group(1)))
            old = work.pop(i)
            check_free(nc.name)
            place((nc, old[1]), pos, at=i)
            continue
        em2 = re.match(r"ENGINE\s*=\s*(\w+)\s*$", a, re.I)
        if em2:
            if em2.group(1).lower() not in (
                "tianmu", "innodb", "myisam", "memory", "heap", "csv",
                "stonedb", "archive", "ndb", "merge", "federated",
            ):
                raise ValueError(
                    f"Unknown storage engine '{em2.group(1)}' "
                    f"(MySQL error 1286 analog)"
                )
            td.engine = em2.group(1).lower()
            continue
        am2 = re.match(r"AUTO_INCREMENT\s*=\s*(\d+)\s*$", a, re.I)
        if am2:  # counter moves forward only (MySQL/tianmu)
            td.next_auto = max(td.next_auto, int(am2.group(1)))
            continue
        if re.match(
            r"(ADD|DROP)\s+(PRIMARY|UNIQUE|INDEX|KEY|CONSTRAINT|FULLTEXT)"
            r"|RENAME\s+(INDEX|KEY)|ENGINE\s*=\s*\w+|DEFAULT\s+CHARSET"
            r"|DEFAULT\s+CHARACTER\s+SET"
            r"|ORDER\s+BY"
            r"|CONVERT\s+TO\s+CHARACTER\s+SET|CHARACTER\s+SET|COMMENT"
            r"|ALTER\s+(?:COLUMN\s+)?\w+\s+(SET|DROP)\s+DEFAULT",
            a, re.I,
        ):
            am = re.match(
                r"ALTER\s+(?:COLUMN\s+)?(`[^`]+`|\w+)\s+"
                r"(SET\s+DEFAULT\s+(.*)|DROP\s+DEFAULT)\s*$",
                a, re.I | re.S,
            )
            if re.match(
                r"ALTER\s+(?:COLUMN\s+)?(`[^`]+`|\w+)\s+SET\s+DEFAULT\s*$",
                a, re.I,
            ):
                raise ValueError(
                    f"SET DEFAULT without a value: {a[:60]} "
                    f"(MySQL error 1064 analog)"
                )
            if am:  # default changes affect later inserts only
                i = find(_unquote_ident(am.group(1)))
                c, src = work[i]
                from dataclasses import replace as _repl
                newdef = am.group(3).strip() if am.group(3) else None
                if newdef is not None:
                    dlit_ = _decode_strlit(newdef)
                    if c.char_width and dlit_ is not None and \
                            len(dlit_) > c.char_width:
                        raise ValueError(
                            f"Invalid default value for '{c.name}' "
                            f"(MySQL error 1067 analog)"
                        )
                work[i] = (_repl(c, default=newdef), src)
            continue  # index/engine clauses: no data/schema effect here
        raise ValueError(f"unsupported ALTER action: {a[:80]}")
    newtd = TableDef(
        rename_to or td.name, [c for c, _ in work], pk, td.next_auto,
        td.engine,
    )
    newtd.charset = td.charset
    return newtd, work


def _zf_sql(name: str, width: int, engine: str) -> str:
    """ZEROFILL display text for one column: zero-pad to the display
    width, but never truncate a wider value (zerofill.test: INT(8)
    shows 123456789 in full).  Plain LPAD would truncate on both
    engines, hence the LENGTH guard."""
    # always backtick-quote: the output feeds rewrite_expr, whose duck
    # pass recodes double-quoted tokens as STRING LITERALS (MySQL
    # semantics) — backticks survive it and become double quotes last
    q = f"`{name}`"
    cast = f"CAST({q} AS {'STRING' if engine == 'spark' else 'VARCHAR'})"
    return (
        f"CASE WHEN LENGTH({cast}) >= {width} THEN {cast} "
        f"ELSE LPAD({cast}, {width}, '0') END"
    )


def _apply_temporal_numeric_cmp(
    sql: str, tables: dict[str, TableDef], engine: str
) -> str:
    """MySQL compares DATE/TIMESTAMP columns with bare numbers via the
    compact numeric rendering (insert.test's ``t>0``, date_formats'
    ``b = 20161213``); both engines reject timestamp-vs-int.  Rewrite
    ``col op N`` to the rendered comparison; zero-dates are modeled as
    NULL so COALESCE(…, FALSE) yields MySQL's 0 for them."""
    cols: dict[str, ColumnDef] = {}
    for m in re.finditer(r"\b(?:FROM|JOIN)\s+(`[^`]+`|\w+)", sql, re.I):
        td = tables.get(_unquote_ident(m.group(1)).lower())
        if td:
            for c in td.columns:
                if c.spark_type.upper() in ("DATE", "TIMESTAMP"):
                    cols[c.name.lower()] = c
    if not cols:
        return sql
    pat = re.compile(
        r"(?<![\w.`'])((?:\w+|`\w+`)\s*\.\s*)?(`?)(\w+)\2\s*"
        r"(>=|<=|<>|!=|=|>|<)\s*(\d+)(?![\w.:'-])"
    )

    def rep(m: re.Match) -> str:
        c = cols.get(m.group(3).lower())
        if c is None:
            return m.group(0)
        qual = (m.group(1) or "").strip()
        ref = f"{qual}`{m.group(3)}`"
        is_date = c.spark_type.upper() == "DATE"
        f = "%Y%m%d" if is_date else "%Y%m%d%H%M%S"
        if engine == "spark":
            jf = "yyyyMMdd" if f == "%Y%m%d" else "yyyyMMddHHmmss"
            num = f"CAST(DATE_FORMAT({ref}, '{jf}') AS DECIMAL(20,0))"
        else:
            num = f"CAST(strftime({ref}, '{f}') AS DECIMAL(20,0))"
        # the zero-date sentinel reads as numeric 0 (MySQL: the zero
        # date's compact rendering 00000000; issue682 `a=0` deletes)
        sent = (
            f"DATE '{_ZD_DATE}'" if is_date else f"TIMESTAMP '{_ZD_TS}'"
        )
        num = f"(CASE WHEN {ref} = {sent} THEN 0 ELSE {num} END)"
        op = "<>" if m.group(4) == "!=" else m.group(4)
        return f"COALESCE({num} {op} {m.group(5)}, {_BFALSE})"

    return _sub_outside_strings(sql, pat, rep)


def _apply_zerodate_isnull(
    sql: str, tables: dict[str, TableDef], engine: str
) -> str:
    """MySQL's documented quirk: for DATE/DATETIME columns declared
    NOT NULL, ``col IS NULL`` matches the zero date '0000-00-00'
    (issue682 NOT NULL legs: 3 zero rows answer ``a is null``).  Zero
    dates are stored as the 0001-01-01 sentinel, so the IS NULL read
    over such a column ORs in the sentinel compare; IS NOT NULL ANDs
    it out.  The true-NULL leg stays (a LEFT JOIN can surface real
    NULLs for a NOT NULL column of the inner side — issue682 lines
    93-97).  Nullable temporal columns are untouched: MySQL keeps
    their zero dates distinct from NULL (lines 29-42)."""
    cols: dict[str, ColumnDef] = {}
    for m in re.finditer(
        r"\b(?:FROM|JOIN|UPDATE)\s+(`[^`]+`|\w+)", sql, re.I
    ):
        td = tables.get(_unquote_ident(m.group(1)).lower())
        if td:
            for c in td.columns:
                if c.notnull and c.spark_type.upper() in (
                    "DATE", "TIMESTAMP",
                ):
                    cols[c.name.lower()] = c
    if not cols:
        return sql
    colref = r"((?:(?:\w+|`\w+`)\s*\.\s*)?(?:`\w+`|\w+))"
    pat = re.compile(colref + r"\s+IS\s+(NOT\s+)?NULL", re.I)

    def rep(m: re.Match) -> str:
        c = cols.get(_unquote_ident(m.group(1).split(".")[-1].strip()).lower())
        if c is None:
            return m.group(0)
        sent = (
            f"DATE '{_ZD_DATE}'"
            if c.spark_type.upper() == "DATE"
            else f"TIMESTAMP '{_ZD_TS}'"
        )
        if m.group(2):
            return f"({m.group(1)} IS NOT NULL AND {m.group(1)} <> {sent})"
        return f"({m.group(1)} IS NULL OR {m.group(1)} = {sent})"

    return _sub_outside_strings(sql, pat, rep)


_BW_PAREN2 = r"\((?:[^()]|\((?:[^()]|\([^()]*\))*\))*\)"  # 2-deep balance
_BW_ATOM = (
    r"(?:\x00W\d+\x00"                                 # consumed fragment
    rf"|\w+\s*{_BW_PAREN2}"                            # call (CAST(CAST(…)))
    # [qual.]ident — but not the b/x of a b'…'/x'…' literal introducer
    # (\x01 = a masked string literal; see _apply_bitwise_mysql)
    r"|(?:\w+|`[^`]+`)(?:\s*\.\s*(?:\w+|`[^`]+`))?(?!['\x01])"
    r"|\d+(?:\.\d+)?(?:[eE][+-]?\d+)?"                 # numeric literal
    rf"|{_BW_PAREN2})"                                 # paren group
)
_BW_RX = re.compile(
    rf"(?<![\w.`)])({_BW_ATOM})\s*"
    rf"(<<|>>|&(?!&)|(?<!\|)\|(?!\|)|\^)\s*({_BW_ATOM})"
)
_BW_NOT_RX = re.compile(rf"(?<![\w.`)])~\s*({_BW_ATOM})")
_BW_TOKEN = re.compile(
    r"(?<!&)&(?!&)|(?<!\|)\|(?!\|)|\^|<<|>>|~|\bBIT_COUNT\s*\(", re.I
)
_POW64 = "18446744073709551616"


def _apply_bitwise_mysql(
    sql: str, tables: dict[str, TableDef], engine: str
) -> str:
    """MySQL bitwise operators (& | ^ << >>) and BIT_COUNT convert
    BOTH operands to UNSIGNED 64-bit ints — decimals round half-away
    (3.5→4), negatives reinterpret as two's complement
    (-3 → 18446744073709551613), temporals read their compact numeric
    rendering rounded to whole seconds ('2001-01-01 23:59:59.9' →
    20010102000000) — and render the result UNSIGNED (func_bit.test,
    issue1173; reference Item_func_bit_or over val_uint,
    my_decimal2int round-half-away).  Spark computes in BIGINT two's
    complement (same 64 bits) with SHIFTRIGHTUNSIGNED for MySQL's
    logical >>; DuckDB computes in UBIGINT (<< via HUGEINT multiply —
    its UBIGINT << raises on overflow instead of wrapping).  Counts
    ≥64 (or negative, i.e. huge unsigned) yield 0, which Java's
    6-bit-masked shifts get wrong.  Both engines render DECIMAL(20,0)
    so the sweep's dtype parity holds.  Generated fragments hide
    behind placeholders until the scan converges (DuckDB's output
    contains `<<`/`%` that must not re-match), and use TRY_CAST so
    rewrite_expr's MySQL-CAST pass never reinterprets them."""
    probe = _ANY_STRLIT.sub("''", sql)
    if not _BW_TOKEN.search(probe):
        return sql
    if re.match(r"^\s*(?:CREATE|ALTER|LOAD|SHOW|SET|USE|DROP)\b", sql, re.I):
        return sql  # DDL: BIT(n) widths, SHOW text — never value bitops
    cols: dict[str, ColumnDef] = {}
    for m in re.finditer(
        r"\b(?:FROM|JOIN|INTO|UPDATE)\s+(`[^`]+`|\w+)", sql, re.I
    ):
        td = tables.get(_unquote_ident(m.group(1)).lower())
        if td:
            for c in td.columns:
                cols.setdefault(c.name.lower(), c)

    def numify(atom: str) -> tuple[str, bool]:
        """The operand as MySQL's number-context reading.  Returns
        (sql, saturating): tianmu converts DECIMAL/DOUBLE/string
        operands through val_int, which SATURATES at the i64 bounds
        (~18446744073709551615.0 → LLONG_MAX → 2^63;
        BIT_COUNT(…615.0) = 63, other_bit.result), while pure-integer
        operands keep the u64 bit pattern (~…615 = 0, BIT_COUNT = 64)."""
        t = atom.strip()
        if re.fullmatch(r"\d+(\.\d+)?([eE][+-]?\d+)?", t):
            if "." in t or "e" in t.lower():
                return f"ROUND({t}, 0)", True
            return t, False
        nm = re.fullmatch(
            r"(?:(?:\w+|`[^`]+`)\s*\.\s*)?(`([^`]+)`|\w+)", t
        )
        c = cols.get(
            (nm.group(2) or nm.group(1)).lower()
        ) if nm else None
        if c is not None:
            mt = c.mysql_type
            if mt == "date":
                f = ("DATE_FORMAT({x}, 'yyyyMMdd')" if engine == "spark"
                     else "strftime({x}, '%Y%m%d')")
                return ("TRY_CAST(" + f.format(x=atom)
                        + " AS DECIMAL(20,0))"), False
            if mt in ("datetime", "timestamp"):
                # round fractional seconds half-up on the TEMPORAL
                # (23:59:59.9 rolls into the next day) then render —
                # EXCEPT at the 9999-12-31 ceiling, where tianmu clamps
                # to 99991231000000 (issue1173.result row 3) instead of
                # overflowing the year
                if engine == "spark":
                    rnd = (f"TRY_CAST(DATE_FORMAT({atom} + INTERVAL 0.5 "
                           f"SECOND, 'yyyyMMddHHmmss') AS DECIMAL(20,0))")
                else:
                    rnd = (f"TRY_CAST(strftime({atom} + INTERVAL 500 "
                           f"MILLISECOND, '%Y%m%d%H%M%S') AS DECIMAL(20,0))")
                return (
                    f"(CASE WHEN {rnd} >= "
                    f"TRY_CAST(100000000000000 AS DECIMAL(20,0))"
                    f" THEN TRY_CAST(99991231000000 AS DECIMAL(20,0))"
                    f" ELSE {rnd} END)"
                ), False
            if mt == "time":
                # stored as its literal text; numeric form = digits
                # with the colons dropped ('00:00:02.9' → 2.9 → 3)
                vt = "STRING" if engine == "spark" else "VARCHAR"
                return (f"ROUND(TRY_CAST(REPLACE(CAST({atom} AS {vt}), "
                        f"':', '') AS DECIMAL(27,6)), 0)"), True
            if c.spark_type.upper().startswith(
                ("STRING", "BINARY")
            ):
                _s, _p, n = _lenient_num(atom, engine)
                return f"ROUND(COALESCE({n}, 0), 0)", True
            if mt in ("decimal", "dec", "numeric", "float", "double",
                      "real"):
                return f"ROUND({atom}, 0)", True
            # integer family (incl. unsigned BIGINT stored DECIMAL(20,0)
            # whose [2^63, 2^64) values are genuine u64 bit patterns)
            return atom, False
        # paren group / call / unknown shape: ROUND is identity on
        # integers; u64-range results (CAST(… AS DECIMAL(32))<<0,
        # other_bit.result) keep their bit pattern, so non-saturating
        return f"ROUND({atom}, 0)", False

    # the 2^64 literal always rides inside TRY_CAST so the 1690
    # huge-literal-adjacent-to-arithmetic guard never re-matches it
    pow64 = f"TRY_CAST({_POW64} AS HUGEINT)"
    pow64d = f"TRY_CAST({_POW64} AS DECIMAL(21,0))"
    imax, imin = "9223372036854775807", "-9223372036854775808"

    def s64(nk: tuple[str, bool]) -> str:
        # tianmu's val_int conversion: saturating operands (DECIMAL/
        # DOUBLE/string) clamp to [LLONG_MIN, LLONG_MAX] — func_bit's
        # DOUBLE 10e30 → 9223372036854775807, other_bit's …615.0 →
        # LLONG_MAX; non-saturating u64-range values in [2^63, 2^64)
        # keep their bit pattern → two's complement
        n, sat = nk
        hi = (f"TRY_CAST(9223372036854775808 AS DECIMAL(20,0))"
              if not sat else f"TRY_CAST({imax} AS DECIMAL(20,0))")
        mid = (f" WHEN ({n}) >= {hi}"
               f" THEN TRY_CAST(({n}) - {pow64d} AS BIGINT)"
               if not sat else
               f" WHEN ({n}) > {hi} THEN TRY_CAST({imax} AS BIGINT)")
        return (
            f"(CASE WHEN ({n}) >= {pow64d} THEN TRY_CAST({imax} AS BIGINT)"
            f"{mid}"
            f" WHEN ({n}) < {imin} THEN TRY_CAST({imin} AS BIGINT)"
            f" ELSE TRY_CAST({n} AS BIGINT) END)"
        )

    def u64(nk: tuple[str, bool]) -> str:
        n, sat = nk
        top = (f" WHEN ({n}) >= {pow64d} THEN TRY_CAST({imax} AS HUGEINT)"
               if not sat else
               f" WHEN ({n}) > TRY_CAST({imax} AS DECIMAL(20,0))"
               f" THEN TRY_CAST({imax} AS HUGEINT)")
        return (
            f"TRY_CAST((CASE"
            f"{top}"
            f" WHEN ({n}) < {imin}"
            f" THEN TRY_CAST(9223372036854775808 AS HUGEINT)"
            f" ELSE ((TRY_CAST({n} AS HUGEINT) % {pow64}) + {pow64})"
            f" % {pow64} END) AS UBIGINT)"
        )

    def unsigned_render_spark(core: str) -> str:
        return (
            f"TRY_CAST((CASE WHEN {core} < 0"
            f" THEN TRY_CAST({_POW64} AS DECIMAL(21,0)) + {core}"
            f" ELSE TRY_CAST({core} AS DECIMAL(21,0)) END)"
            f" AS DECIMAL(20,0))"
        )

    holes: list[str] = []

    def hide(text: str) -> str:
        holes.append(text)
        return f"\x00W{len(holes) - 1}\x00"

    def rep(m: re.Match) -> str:
        l_raw, op, r_raw = m.group(1), m.group(2), m.group(3)
        # an operand already consumed by an earlier (nested) rewrite is
        # a rendered u64 DECIMAL(20,0): numeric, non-saturating
        ln = (l_raw, False) if "\x00" in l_raw else numify(l_raw)
        rn = (r_raw, False) if "\x00" in r_raw else numify(r_raw)
        if engine == "spark":
            sl = s64(ln)
            if op in ("&", "|", "^"):
                core = f"({sl} {op} {s64(rn)})"
            else:
                cnt = s64(rn)
                fn = "SHIFTLEFT" if op == "<<" else "SHIFTRIGHTUNSIGNED"
                core = (
                    f"(CASE WHEN {cnt} >= 64 OR {cnt} < 0"
                    f" THEN TRY_CAST(0 AS BIGINT)"
                    f" ELSE {fn}({sl}, TRY_CAST({cnt} AS INT)) END)"
                )
            return hide(unsigned_render_spark(core))
        ul = u64(ln)
        if op == "^":  # DuckDB's ^ is POWER; bitwise xor is xor()
            core = f"xor({ul}, {u64(rn)})"
        elif op in ("&", "|"):
            core = f"({ul} {op} {u64(rn)})"
        elif op == ">>":
            cnt = f"TRY_CAST({rn[0]} AS HUGEINT)"
            core = (
                f"(CASE WHEN {cnt} >= 64 OR {cnt} < 0"
                f" THEN TRY_CAST(0 AS UBIGINT)"
                f" ELSE ({ul} >> TRY_CAST({cnt} AS INT)) END)"
            )
        else:  # << wraps mod 2^64; UBIGINT << raises on overflow
            cnt = f"TRY_CAST({rn[0]} AS HUGEINT)"
            core = (
                f"(CASE WHEN {cnt} >= 64 OR {cnt} < 0"
                f" THEN TRY_CAST(0 AS UBIGINT)"
                f" ELSE TRY_CAST((TRY_CAST({ul} AS HUGEINT) * "
                f"(TRY_CAST(1 AS HUGEINT) << TRY_CAST({cnt} AS INT)))"
                f" % {pow64} AS UBIGINT) END)"
            )
        return hide(f"TRY_CAST({core} AS DECIMAL(20,0))")

    # mask string literals IN PLACE (not the _sub_outside_strings
    # split, which would put a b'1111' introducer's ident at a segment
    # end where the (?!') lookahead can't see the quote)
    lits: list[str] = []

    def _mask(m: re.Match) -> str:
        lits.append(m.group(0))
        return f"\x01{len(lits) - 1}\x01"

    def rep_not(m: re.Match) -> str:
        # unary ~x = u64 NOT (other_bit: ~18446744073709551615 = 0)
        raw = m.group(1)
        nk = (raw, False) if "\x00" in raw else numify(raw)
        if engine == "spark":
            return hide(unsigned_render_spark(f"(~{s64(nk)})"))
        return hide(f"TRY_CAST((~{u64(nk)}) AS DECIMAL(20,0))")

    sql = _ANY_STRLIT.sub(_mask, sql)
    for _ in range(8):  # chains: leftmost pair first, then re-scan
        new = _BW_NOT_RX.sub(rep_not, sql)
        new = _BW_RX.sub(rep, new)
        if new == sql:
            break
        sql = new

    def bc_fn(inner: str) -> str:
        nk = (inner, False) if "\x00" in inner else numify(inner)
        if engine == "spark":
            return hide(f"CAST(bit_count({s64(nk)}) AS INT)")
        return hide(f"CAST(bit_count({u64(nk)}) AS INT)")

    sql = _wrap_calls(sql, "BIT_COUNT", bc_fn)
    while "\x00W" in sql:  # nested holes restore inner-out
        for i, h in enumerate(holes):
            sql = sql.replace(f"\x00W{i}\x00", h)
    for i, lit in enumerate(lits):
        sql = sql.replace(f"\x01{i}\x01", lit)
    return sql


_ON_BARE_ATOM = re.compile(
    r"(?is)(\bON\s+)"
    r"((?:`[^`]+`|\w+)(?:\s*\.\s*(?:`[^`]+`|\w+))?)"
    r"(?![\w`])"  # whole-ident boundary: no backtracked partial atoms
    r"(?!\s*(?:[=<>!*/%+|&^~.(-]"
    r"|(?:AND|OR|XOR|NOT|IS|LIKE|BETWEEN|IN|REGEXP|RLIKE|COLLATE"
    r"|DIV|MOD|ESCAPE|DUPLICATE|KEY|UPDATE|DELETE)\b))"
)


def _apply_truthy_on(sql: str, engine: str) -> str:
    """MySQL allows a bare non-boolean column as a JOIN condition
    (issue1910's ``LEFT JOIN t1 ON created_date`` / ``ON t2.price`` /
    ``ON b.nm``): the value's numeric reading decides (nonzero = true,
    NULL/zero = no match).  Both engines demand BOOLEAN.  Rewritten
    via the universal lenient prefix read over the string rendering —
    one form for every type: numbers render exactly, strings take
    MySQL's prefix read ('aaa' → 0 → false), temporal values render
    '2023-…' → 2023 ≠ 0 → true (the zero date is modeled NULL → false
    on both engines)."""
    def rep(m: "re.Match[str]") -> str:
        ref = m.group(2)
        if re.fullmatch(r"\d+(?:\.\d+)?", ref):
            return m.group(0)  # literal: ON 1 = 1 etc. parse fine
        up = ref.upper()
        if up in ("TRUE", "FALSE"):
            # boolean literals ARE join conditions on both engines —
            # the lenient-prefix read would turn ON TRUE into the
            # string 'true' -> 0 -> always-false (issue502-2's
            # CREATE VIEW ... JOIN ... ON TRUE)
            return m.group(0)
        if up == "NULL":
            return f"{m.group(1)}{_BFALSE}"  # NULL condition = no match
        # digit-named derived columns (issue1910's ``ON b.1``) need
        # quoting on both engines
        parts = [p.strip() for p in re.split(r"\.", ref)]
        if re.fullmatch(r"\d+", parts[-1].strip("`")):
            parts[-1] = f"`{parts[-1].strip('`')}`"
            ref = ".".join(parts)
        _s, _p, n = _lenient_num(ref, engine)
        return (f"{m.group(1)}COALESCE(CAST(COALESCE({n}, 0) AS "
                f"DOUBLE) <> 0, {_BFALSE})")

    return _sub_outside_strings(sql, _ON_BARE_ATOM, rep)


def _apply_string_numeric_cmp(
    sql: str, tables: dict[str, TableDef], engine: str
) -> str:
    """MySQL compares a STRING column against a NUMERIC literal by
    converting BOTH sides to DOUBLE — the string via the lenient
    prefix read (no error on 'abcd' → 0, '15.9.' → 15.9), the numeric
    exactly, so '1547034559760195585' = 1547034559760195587 is TRUE
    (both round to the same double; issue959's whole point).  Spark
    ANSI would instead cast the string to the literal's type and fault
    on malformed input."""
    cols: dict[str, ColumnDef] = {}
    for m in re.finditer(r"\b(?:FROM|JOIN)\s+(`[^`]+`|\w+)", sql, re.I):
        td = tables.get(_unquote_ident(m.group(1)).lower())
        if td:
            for c in td.columns:
                if c.spark_type.upper() == "STRING" and c.mysql_type in (
                    "char", "varchar", "text", "tinytext", "mediumtext",
                    "longtext",
                ):
                    cols.setdefault(c.name.lower(), c)
    if not cols:
        return sql
    num = r"[+-]?\s*\d+(?:\.\d+)?(?:[eE][+-]?\d+)?"
    colref = r"((?:\w+|`\w+`)\s*\.\s*)?(`?)(\w+)\2"
    pat = re.compile(
        rf"(?<![\w.`']){colref}\s*"
        rf"(>=|<=|<>|!=|=|>|<)\s*({num})(?![\w.:'-])"
    )
    btw = re.compile(
        rf"(?<![\w.`']){colref}\s+(NOT\s+)?BETWEEN\s+({num})\s+AND\s+"
        rf"({num})(?![\w.:'-])", re.I,
    )

    def dbl(ref: str) -> str:
        _s, _p, n = _lenient_num(ref, engine)
        return f"CAST(COALESCE({n}, 0) AS DOUBLE)"

    def rep(m: re.Match) -> str:
        c = cols.get(m.group(3).lower())
        if c is None:
            return m.group(0)
        ref = f"{(m.group(1) or '').strip()}`{m.group(3)}`"
        op = "<>" if m.group(4) == "!=" else m.group(4)
        return (
            f"COALESCE({dbl(ref)} {op} "
            f"CAST({m.group(5)} AS DOUBLE), {_BFALSE})"
        )

    def rep_btw(m: re.Match) -> str:
        c = cols.get(m.group(3).lower())
        if c is None:
            return m.group(0)
        ref = f"{(m.group(1) or '').strip()}`{m.group(3)}`"
        neg = "NOT " if m.group(4) else ""
        return (
            f"COALESCE({dbl(ref)} {neg}BETWEEN "
            f"CAST({m.group(5)} AS DOUBLE) AND "
            f"CAST({m.group(6)} AS DOUBLE), {_BFALSE})"
        )

    sql = _sub_outside_strings(sql, btw, rep_btw)
    return _sub_outside_strings(sql, pat, rep)


def _apply_tz_select_shift(
    sql: str, tables: dict[str, TableDef], engine: str
) -> str:
    """MySQL TIMESTAMP column semantics in SELECTs (type_timestamp):

    * storage = UTC, display/compare = session time_zone — add the
      statement's frozen offset to every bare reference of a TIMESTAMP
      (not DATETIME) column, so comparisons against session-local
      literals work unchanged (the BETWEEN legs);
    * UNIX_TIMESTAMP(col) is the epoch of STORAGE (no shift);
    * numeric contexts (CEIL/CEILING/FLOOR/ROUND, TRUNCATE(col, -n),
      TIME_TO_SEC) read the compact local rendering yyyymmddhhmmss.
    Consumed references hide behind placeholders so the general shift
    can't re-shift them."""
    off = _TZ_OFFSET_MIN[0]
    cols: dict[str, ColumnDef] = {}
    for m in re.finditer(r"\b(?:FROM|JOIN)\s+(`[^`]+`|\w+)", sql, re.I):
        td = tables.get(_unquote_ident(m.group(1)).lower())
        if td:
            for c in td.columns:
                if c.spark_type.upper() in ("DATE", "TIMESTAMP"):
                    cols[c.name.lower()] = c
    if not cols or re.match(r"^\s*(?:INSERT|REPLACE)\b", sql, re.I):
        return sql

    def xref(name: str) -> str:
        c = cols[name.lower()]
        if c.mysql_type == "timestamp" and off:
            op, mag = ("-", -off) if off < 0 else ("+", off)
            return f"(`{name}` {op} INTERVAL {mag} MINUTE)"
        return f"`{name}`"

    def numref(name: str) -> str:
        x = xref(name)
        if engine == "spark":
            return (f"CAST(DATE_FORMAT({x}, 'yyyyMMddHHmmss') "
                    f"AS DECIMAL(20,0))")
        return (f"CAST(strftime(CAST({x} AS TIMESTAMP), "
                f"'%Y%m%d%H%M%S') AS DECIMAL(20,0))")

    holes: list[str] = []

    def hide(text: str) -> str:
        holes.append(text)
        return f"\x00H{len(holes) - 1}\x00"

    names = "|".join(sorted(cols))
    colrx = rf"(?P<bt>`?)(?:{names})(?P=bt)"

    def fn_pass(pat: re.Pattern, build) -> None:
        nonlocal sql

        def rep(m: re.Match) -> str:
            name = _unquote_ident(m.group("c"))
            if name.lower() not in cols:
                return m.group(0)
            return hide(build(name, m))

        sql = _sub_outside_strings(sql, pat, rep)

    fn_pass(
        re.compile(rf"(?i)\bUNIX_TIMESTAMP\s*\(\s*(?P<c>{colrx})\s*\)"),
        lambda n, m: (
            f"CAST(UNIX_TIMESTAMP(`{n}`) AS BIGINT)" if engine == "spark"
            else f"CAST(epoch(`{n}`) AS BIGINT)"
        ),
    )
    fn_pass(
        re.compile(rf"(?i)\bTIME_TO_SEC\s*\(\s*(?P<c>{colrx})\s*\)"),
        lambda n, m: (
            f"(HOUR({xref(n)}) * 3600 + MINUTE({xref(n)}) * 60 "
            f"+ SECOND({xref(n)}))"
        ),
    )
    fn_pass(
        re.compile(
            rf"(?i)\b(?:CEIL|CEILING|FLOOR|ROUND)\s*\(\s*(?P<c>{colrx})"
            r"\s*\)"
        ),
        lambda n, m: numref(n),
    )

    def trunc_build(n: str, m: re.Match) -> str:
        sc = int(m.group("s"))
        if sc >= 0:
            return numref(n)
        p = 10 ** (-sc)
        return (f"(CAST({numref(n)} AS BIGINT) "
                f"- (CAST({numref(n)} AS BIGINT) % {p}))")

    fn_pass(
        re.compile(
            rf"(?i)\bTRUNCATE\s*\(\s*(?P<c>{colrx})\s*,\s*(?P<s>-?\d+)\s*\)"
        ),
        trunc_build,
    )

    if off:
        pat = re.compile(
            rf"(?<![\w.`'])(`?)({names})\1(?!\s*\()(?![\w.'])", re.I,
        )
        sql = _sub_outside_strings(
            sql, pat, lambda m: xref(m.group(2))
            if cols[m.group(2).lower()].mysql_type == "timestamp"
            else m.group(0),
        )
    for i, h in enumerate(holes):
        sql = sql.replace(f"\x00H{i}\x00", h)
    return sql


def _canon_compact_temporal(digits: str, kind: str) -> str | None:
    """'20161213' → '2016-12-13' (DATE/TIMESTAMP), '121314' →
    '12:13:14' (TIME) — MySQL's compact temporal string forms."""
    if kind == "time":
        if re.fullmatch(r"\d{6}", digits):
            return f"{digits[0:2]}:{digits[2:4]}:{digits[4:6]}"
        return None
    if re.fullmatch(r"\d{8}", digits):
        return f"{digits[0:4]}-{digits[4:6]}-{digits[6:8]}"
    if re.fullmatch(r"\d{14}", digits):
        return (f"{digits[0:4]}-{digits[4:6]}-{digits[6:8]} "
                f"{digits[8:10]}:{digits[10:12]}:{digits[12:14]}")
    return None


def _apply_temporal_string_cmp(
    sql: str, tables: dict[str, TableDef], engine: str
) -> str:
    """MySQL compares DATE/TIMESTAMP/TIME columns against COMPACT
    string literals temporally (date_formats.test: ``b = '20161213'``,
    ``CASE b WHEN '20161213'``, ``b IN ('121314', 0)``).  Canonicalize
    the literal to the dashed/colon form both engines read; expand
    IN-lists over temporal columns to OR chains first so numeric legs
    (``0`` = the zero date, never equal) flow through the
    temporal-vs-number pass."""
    cols: dict[str, ColumnDef] = {}
    for m in re.finditer(r"\b(?:FROM|JOIN)\s+(`[^`]+`|\w+)", sql, re.I):
        td = tables.get(_unquote_ident(m.group(1)).lower())
        if td:
            for c in td.columns:
                if (c.spark_type.upper() in ("DATE", "TIMESTAMP")
                        or c.mysql_type == "time"):
                    cols[c.name.lower()] = c

    if not cols:
        return sql

    def kind_of(name: str) -> str | None:
        c = cols.get(name.lower())
        if c is None:
            return None
        return "time" if c.mysql_type == "time" else "date"

    colref = r"((?:(?:\w+|`\w+`)\s*\.\s*)?(?:`\w+`|\w+))"

    # col IN (items) → OR chain (keeps MySQL's per-item coercion)
    in_pat = re.compile(colref + r"\s+IN\s*\(([^()]*)\)", re.I)

    def in_rep(m: re.Match) -> str:
        name = _unquote_ident(m.group(1).split(".")[-1].strip())
        if kind_of(name) is None:
            return m.group(0)
        legs = [
            f"({m.group(1)} = {it.strip()})"
            for it in _split_top_commas(m.group(2))
        ]
        return "(" + " OR ".join(legs) + ")"

    # plain .sub: the IN list's own quoted items are part of the match
    sql = in_pat.sub(in_rep, sql)

    # col op '<compact>'  /  CASE col WHEN '<compact>'
    cmp_pat = re.compile(
        colref + r"\s*(>=|<=|<>|!=|=|>|<)\s*'(\d{6,14})'"
    )

    def cmp_rep(m: re.Match) -> str:
        k = kind_of(_unquote_ident(m.group(1).split(".")[-1].strip()))
        canon = _canon_compact_temporal(m.group(3), k) if k else None
        if canon is None:
            return m.group(0)
        return f"{m.group(1)} {m.group(2)} '{canon}'"

    sql = cmp_pat.sub(cmp_rep, sql)

    case_pat = re.compile(
        r"(CASE\s+)" + colref + r"(\s+WHEN\s+)'(\d{6,14})'", re.I
    )

    def case_rep(m: re.Match) -> str:
        k = kind_of(_unquote_ident(m.group(2).split(".")[-1].strip()))
        canon = _canon_compact_temporal(m.group(4), k) if k else None
        if canon is None:
            return m.group(0)
        return f"{m.group(1)}{m.group(2)}{m.group(3)}'{canon}'"

    sql = case_pat.sub(case_rep, sql)

    # TIME column (text-modeled) vs bare number: MySQL compares the
    # colon-stripped numeric rendering ('12:13:14' vs 121314)
    tnum_pat = re.compile(
        colref + r"\s*(>=|<=|<>|!=|=|>|<)\s*(\d+)(?![\w.:'-])"
    )

    def tnum_rep(m: re.Match) -> str:
        if kind_of(_unquote_ident(
                m.group(1).split(".")[-1].strip())) != "time":
            return m.group(0)
        num = f"CAST(REPLACE({m.group(1)}, ':', '') AS BIGINT)"
        op = "<>" if m.group(2) == "!=" else m.group(2)
        return f"COALESCE({num} {op} {m.group(3)}, {_BFALSE})"

    return _sub_outside_strings(sql, tnum_pat, tnum_rep)


def _check_nzd_dml(
    s: str, tables: dict[str, TableDef], strict: bool
) -> None:
    """Under strict + NO_ZERO_DATE, a DELETE/UPDATE whose WHERE makes
    the engine re-evaluate a stored zero date — ``col IS NULL`` or a
    numeric compare over a zero-carrying temporal column — raises 1292
    (issue682 NZD section: both deletes error while the plain string
    compare and every SELECT succeed)."""
    if not (strict and _NZD_MODE[0]):
        return
    zcols: dict[str, str] = {}
    for m in re.finditer(
        r"\b(?:FROM|JOIN|UPDATE)\s+(?:IGNORE\s+)?(`[^`]+`|\w+)", s, re.I
    ):
        td = tables.get(_unquote_ident(m.group(1)).lower())
        if td:
            for cn in td.zero_temporal:
                zcols[cn] = cn
    if not zcols:
        return
    masked = _ANY_STRLIT.sub("''", s)
    for cn in zcols:
        if re.search(
            rf"(?is)\b{re.escape(cn)}\s+IS\s+(?:NOT\s+)?NULL", masked
        ) or re.search(
            rf"(?is)\b{re.escape(cn)}\s*(?:>=|<=|<>|!=|=|>|<)\s*\d",
            masked,
        ):
            raise ValueError(
                f"Incorrect date value '0000-00-00' for column "
                f"'{cn}' (MySQL error 1292 analog)"
            )


def _normalize_dml_where(
    s: str, tables: dict[str, TableDef], engine: str
) -> str:
    """DELETE/UPDATE temporal-compare normalization, restricted to the
    top-level WHERE clause.  Running the passes over the whole
    statement rewrites SET assignments (``UPDATE t1 JOIN t2 ... SET
    d = 20230101`` is an assignment, not a compare) into COALESCE
    comparisons before assigns-parsing splits on '='.
    Table refs are collected from the statement HEAD (UPDATE target,
    FROM, JOIN) and prepended as a synthetic FROM/JOIN stub so the
    passes' column collection still sees them."""
    masked = _ANY_STRLIT.sub(
        lambda m: "'" + " " * (len(m.group(0)) - 2) + "'", s)
    pos = None
    depth = 0
    for m in re.finditer(r"[()]|\bWHERE\b", masked, re.I):
        if m.group(0) == "(":
            depth += 1
        elif m.group(0) == ")":
            depth -= 1
        elif depth == 0:
            pos = m.start()
    if pos is None:
        return s
    refs = [
        _unquote_ident(r) for r in re.findall(
            r"(?is)\b(?:UPDATE|FROM|JOIN)\s+(?:IGNORE\s+)?"
            r"(`[^`]+`|\w+)", masked[:pos])
        if _unquote_ident(r).lower() in tables
    ]
    if not refs:
        return s
    stub = "FROM `x` " + "".join(f"JOIN `{r}` " for r in refs)
    tail = stub + s[pos:]
    tail = _apply_zerodate_isnull(
        _apply_temporal_numeric_cmp(
            _apply_temporal_string_cmp(tail, tables, engine),
            tables, engine),
        tables, engine)
    if not tail.startswith(stub):  # pass touched the stub: bail out
        return s
    return s[:pos] + tail[len(stub):]


def _split_top_unions(sql: str) -> list[str]:
    """Split a statement on top-level UNION [ALL|DISTINCT] keywords
    (outside parens and strings); returns [sql] when none."""
    parts, depth, in_str = [], 0, None
    i = last = 0
    n = len(sql)
    out = []
    while i < n:
        ch = sql[i]
        if in_str:
            if ch == "\\":
                i += 1
            elif ch == in_str:
                in_str = None
        elif ch in ("'", '"'):
            in_str = ch
        elif ch == "(":
            depth += 1
        elif ch == ")":
            depth -= 1
        elif depth == 0 and ch in "uU" and re.match(
            r"UNION(\s+(ALL|DISTINCT))?\b", sql[i:], re.I
        ) and (i == 0 or not (sql[i - 1].isalnum() or sql[i - 1] == "_")):
            m = re.match(r"UNION(\s+(ALL|DISTINCT))?\b", sql[i:], re.I)
            out.append(sql[last:i])
            parts.append(m.group(0))
            last = i + m.end()
            i = last
            continue
        i += 1
    out.append(sql[last:])
    return (out, parts) if len(out) > 1 else ([sql], [])


def _branch_item_kind(item: str, frm: str, tables: dict) -> str:
    """'str' / 'nonstr' / '?': the type class of one select item in a
    UNION branch, resolved through the branch's FROM tables."""
    it = re.sub(r"\s+AS\s+(`[^`]+`|\w+)\s*$", "", item.strip(), flags=re.I)
    # bare alias after a literal: `'aaa' c1` / `111 c1` (issue1599)
    bm = re.fullmatch(
        r"('(?:[^'\\]|\\.)*'|-?\d+(?:\.\d+)?)\s+(`[^`]+`|\w+)", it
    )
    if bm:
        it = bm.group(1)
    if re.fullmatch(r"'(?:[^'\\]|\\.)*'", it):
        return "str"
    if re.fullmatch(r"-?\d+(\.\d+)?", it):
        return "nonstr"
    if re.match(r"(?i)STR_TO_DATE\s*\(", it):
        # our STR_TO_DATE renders MySQL's textual form (a string)
        return "str"
    cm = re.fullmatch(r"(?:(`\w+`|\w+)\s*\.\s*)?(`\w+`|\w+)", it)
    if not cm:
        return "?"
    colname = _unquote_ident(cm.group(2)).lower()
    for tm in re.finditer(
        r"(?:\bFROM\s+\(*\s*|\bJOIN\s+|,\s*)(`[^`]+`|\w+)",
        " FROM " + frm, re.I,
    ):
        td = tables.get(_unquote_ident(tm.group(1)).lower())
        if not td:
            continue
        for c in td.columns:
            if c.name.lower() == colname:
                return (
                    "str"
                    if c.mysql_type in (
                        "char", "varchar", "text", "tinytext",
                        "mediumtext", "longtext",
                    )
                    else "nonstr"
                )
    return "?"


def _apply_union_string_coercion(
    sql: str, tables: dict[str, TableDef], engine: str
) -> str:
    """MySQL unifies a UNION of string and non-string branches to the
    STRING type (issue880's varchar-union-timestamp legs); Spark 4's
    ANSI coercion instead casts the string branch to the other type
    and faults at runtime.  When branch select items resolve to mixed
    string/non-string column types, cast the non-string items to the
    engine's string type explicitly — both engines then render
    identically."""
    branches, seps = _split_top_unions(sql)
    if len(branches) < 2:
        return sql
    parsed = []
    for b in branches:
        # a FROM-less branch (SELECT 2222, '2022-01-01' — issue1860)
        # still participates in MySQL's string unification
        m = re.match(
            r"(\s*SELECT\s+(?:DISTINCT\s+)?)(.*?)(\s+FROM\s+)(.*)$"
            if re.search(r"(?i)\sFROM\s", b) else
            r"(\s*SELECT\s+(?:DISTINCT\s+)?)(.*)()()$",
            b, re.I | re.S,
        )
        if not m:
            return sql
        parsed.append((m, _split_top_commas(m.group(2))))
    width = len(parsed[0][1])
    if any(len(items) != width for _, items in parsed):
        return sql
    vtype = "STRING" if engine == "spark" else "VARCHAR"
    changed = False
    for pos in range(width):
        kinds = [
            _branch_item_kind(items[pos], m.group(4), tables)
            for m, items in parsed
        ]
        if "str" in kinds and "nonstr" in kinds and "?" not in kinds:
            for (m, items), kind in zip(parsed, kinds):
                if kind == "nonstr":
                    it = items[pos].strip()
                    am = re.search(
                        r"\s+AS\s+(`[^`]+`|\w+)\s*$", it, re.I
                    )
                    split_at = am.start() if am else None
                    if split_at is None:
                        # bare alias after a literal (issue1599)
                        bm2 = re.fullmatch(
                            r"('(?:[^'\\]|\\.)*'|-?\d+(?:\.\d+)?)"
                            r"\s+(?:`[^`]+`|\w+)", it
                        )
                        if bm2:
                            split_at = bm2.end(1)
                    if split_at is not None:
                        items[pos] = (
                            f"CAST({it[:split_at]} AS {vtype})"
                            f"{it[split_at:]}"
                        )
                    else:
                        items[pos] = f"CAST({it} AS {vtype})"
                    changed = True
    if not changed:
        return sql
    # reassemble with the original top-level UNION separators
    rebuilt = []
    for m, items in parsed:
        rebuilt.append(
            m.group(1) + ", ".join(items) + m.group(3) + m.group(4)
        )
    out = rebuilt[0]
    for sep, nxt in zip(seps, rebuilt[1:]):
        out += f" {sep} {nxt}"
    return out


def _apply_zerofill(
    sql: str, tables: dict[str, TableDef], engine: str
) -> str:
    """Rewrite a SELECT so ZEROFILL columns render as zero-padded
    strings when the column itself is an output item (MySQL applies
    zerofill at display time only; arithmetic like ``val+1`` stays
    numeric — zerofill.test).  Handles the MTR shapes: ``*`` over a
    single FROM table, and bare-column select items."""
    froms = [
        _unquote_ident(m.group(1)).lower()
        for m in re.finditer(r"\b(?:FROM|JOIN)\s+(`[^`]+`|\w+)", sql, re.I)
    ]
    zmap: dict[str, tuple[str, int]] = {}
    for t in froms:
        td = tables.get(t)
        if td:
            for c in td.columns:
                if c.zerofill:
                    zmap[c.name.lower()] = (c.name, c.zerofill)
    if not zmap:
        return sql
    sm = re.match(r"(\s*SELECT\s+)(.*?)(\s+FROM\s.*)$", sql, re.I | re.S)
    if not sm:
        return sql
    qa = "`"  # backticks for both engines; see _zf_sql
    out = []
    for it in _split_top_commas(sm.group(2)):
        tok = it.strip()
        if tok == "*" and len(froms) == 1 and froms[0] in tables:
            for c in tables[froms[0]].columns:
                if c.zerofill:
                    out.append(
                        f"{_zf_sql(c.name, c.zerofill, engine)} "
                        f"AS {qa}{c.name}{qa}"
                    )
                else:
                    out.append(f"{qa}{c.name}{qa}")
        elif _unquote_ident(tok).lower() in zmap:
            name, w = zmap[_unquote_ident(tok).lower()]
            out.append(f"{_zf_sql(name, w, engine)} AS {qa}{name}{qa}")
        else:
            out.append(it.strip())
    return sm.group(1) + ", ".join(out) + sm.group(3)


# Tianmu strict-INSERT integer ranges (integer_range.test,
# signed_boundary.test recorded results): widths below 32 bits keep the
# full two's-complement domain because storage is a wider int; INT loses
# -2147483648 (NULL_VALUE_32 sentinel, ref common_definitions.h:127-138)
# and BIGINT loses -2^63 and -2^63+1 (NULL / minus-inf encodings).
_STRICT_INT_RANGES = {
    "tinyint": (-128, 127),
    "smallint": (-32768, 32767),
    "mediumint": (-8388608, 8388607),
    "int": (-2147483647, 2147483647),
    "bigint": (-9223372036854775806, 9223372036854775807),
}
_STRICT_UINT_RANGES = {
    "tinyint": (0, 255),
    "smallint": (0, 65535),
    "mediumint": (0, 16777215),
    "int": (0, 4294967295),
    # unsigned BIGINT also lives in the int64 core: max is 2^63-1
    # (unsigned_type.result: 'Out of range[0, 9223372036854775807]')
    "bigint": (0, 9223372036854775807),
}

# plain MySQL engines (innodb/myisam/memory) keep full two's-complement
# and full-unsigned domains — scripts mix engines (unsigned_type.test j2)
_STD_INT_RANGES = {
    "tinyint": (-128, 127),
    "smallint": (-32768, 32767),
    "mediumint": (-8388608, 8388607),
    "int": (-2147483648, 2147483647),
    "bigint": (-9223372036854775808, 9223372036854775807),
}
_STD_UINT_RANGES = {
    "tinyint": (0, 255),
    "smallint": (0, 65535),
    "mediumint": (0, 16777215),
    "int": (0, 4294967295),
    "bigint": (0, 18446744073709551615),
}

_NUM_PREFIX = re.compile(r"[+-]?(?:\d+(?:\.\d*)?|\.\d+)(?:[eE][+-]?\d+)?")


def _coerce_int_literal(
    tok: str, col: ColumnDef, engine: str = "tianmu", strict: bool = True
) -> str:
    """MySQL strict-mode coercion of one INSERT value into an integer
    column (integer_range.test): string literals are trimmed and parsed
    as decimal numbers (rounding half away from zero), raising the
    1366 analog when no numeric prefix exists, the 1265 analog on
    trailing garbage, and the 1264 analog outside the tianmu range.
    Bare numeric literals range-check only; NULL and non-literal
    expressions pass through untouched."""
    t = tok.strip()
    is_str = len(t) >= 2 and t[0] in "'\"" and t[-1] == t[0]
    if is_str:
        body = _mysql_str_decode(t[1:-1], t[0]).strip()
    else:
        if t.upper() == "NULL" or not _NUM_PREFIX.fullmatch(t):
            return tok  # NULL / expression: not a literal to validate
        body = t
    m = _NUM_PREFIX.match(body)
    if m is None or m.start() != 0:
        if not strict:  # non-strict: unparsable string → 0 + warning
            return "0"
        raise ValueError(
            f"Incorrect integer value: {body!r} for column "
            f"'{col.name}' (MySQL error 1366 analog)"
        )
    if m.end() != len(body) and strict:
        raise ValueError(
            f"Data truncated for column '{col.name}': {body!r} "
            f"(MySQL error 1265 analog)"
        )
    v = int(
        decimal.Decimal(body[: m.end()]).to_integral_value(
            rounding=decimal.ROUND_HALF_UP
        )
    )
    if engine == "tianmu":
        tbl = _STRICT_UINT_RANGES if col.unsigned else _STRICT_INT_RANGES
    else:
        tbl = _STD_UINT_RANGES if col.unsigned else _STD_INT_RANGES
    lo, hi = tbl[col.mysql_type]
    if not lo <= v <= hi:
        if not strict:  # non-strict mode clamps to the boundary
            return str(min(max(v, lo), hi))
        raise ValueError(
            f"Out of range value for column '{col.name}': {v} outside "
            f"[{lo}, {hi}] (MySQL error 1264 analog)"
        )
    return str(v)


def _check_pk_duplicates(
    td: TableDef, rows: list[list[str]], drop: bool = False
) -> list[list[str]]:
    """Python-side PRIMARY KEY duplicate detection for plain INSERTs
    (MySQL error 1062 analog, composite_primary_key.test).  Tracks
    literal PK tuples per table; any non-literal PK value, or a
    DELETE/UPDATE that makes the tracked view stale, disables tracking
    for that table (callers set ``seen_pk = None``).  With ``drop``
    (INSERT IGNORE) duplicate rows are silently filtered out instead
    of raising; returns the surviving rows either way."""
    if not td.pk or td.seen_pk is None:
        return rows
    pkset = {p.lower() for p in td.pk}
    idx = [i for i, c in enumerate(td.columns) if c.name.lower() in pkset]
    fresh = []
    for row in rows:
        key = []
        for i in idx:
            v = row[i].strip()
            d = _decode_strlit(v)
            if d is None:
                if re.fullmatch(r"[+-]?\d+(\.\d+)?", v):
                    d = str(decimal.Decimal(v))
                else:
                    td.seen_pk = None  # expression PK: stop tracking
                    return rows
            key.append(d)
        fresh.append(tuple(key))
    if drop:
        keep, seen_batch = [], set()
        for row, t in zip(rows, fresh):
            if t in td.seen_pk or t in seen_batch:
                continue  # IGNORE: duplicate row dropped with warning
            seen_batch.add(t)
            keep.append(row)
        td.seen_pk.update(seen_batch)
        return keep
    for t in fresh:
        if t in td.seen_pk or fresh.count(t) > 1:
            raise ValueError(
                f"Duplicate entry {t!r} for key 'PRIMARY' on "
                f"{td.name} (MySQL error 1062 analog)"
            )
    td.seen_pk.update(fresh)
    return rows


def _parse_insert_values(
    tables: dict[str, TableDef], stmt: str, strict: bool = True,
    insert_ignore: bool = False,
) -> tuple[TableDef, list[list[str]]] | None:
    """Parse ``INSERT INTO t [(cols)] VALUES (…),(…)`` into full-width
    rows of raw value expressions, filling omitted columns with their
    MySQL DEFAULT (or NULL) — including the ``VALUES()`` all-defaults
    form."""
    m = re.match(
        r"INSERT\s+(?:IGNORE\s+)?(?:INTO\s+)?(`[^`]+`|\w+)\s*"
        r"(\(([^)]*)\))?\s*VALUES?\s*(.*)$",
        stmt.strip(),
        re.I | re.S,
    )
    if not m:
        return None
    tname = _unquote_ident(m.group(1))
    td = tables.get(tname.lower())
    if td is None:
        raise ValueError(f"INSERT into unknown table {tname}")
    cols = (
        [_unquote_ident(c) for c in _split_top_commas(m.group(3))]
        if m.group(3)
        else [c.name for c in td.columns]
    )
    rows_text = m.group(4).strip()
    # split tuples at top level: (..),(..)
    tuples = []
    depth, buf, in_str = 0, [], None
    for ch in rows_text:
        if in_str:
            buf.append(ch)
            if ch == in_str:
                in_str = None
        elif ch in ("'", '"'):
            in_str = ch
            buf.append(ch)
        elif ch == "(":
            if depth == 0:
                buf = []
            else:
                buf.append(ch)
            depth += 1
        elif ch == ")":
            depth -= 1
            if depth == 0:
                tuples.append("".join(buf))
            else:
                buf.append(ch)
        elif depth > 0:
            buf.append(ch)
    rows: list[list[str]] = []
    by_name = {c.name.lower(): c for c in td.columns}
    for tup in tuples:
        vals = _split_top_commas(tup) if tup.strip() else []
        given = dict(zip([c.lower() for c in cols], vals))
        if vals and len(vals) != len(cols):
            raise ValueError(
                f"INSERT column/value count mismatch on {tname}: {tup!r}"
            )
        row = []
        for c in td.columns:
            if c.name.lower() in given and vals:
                v = given[c.name.lower()]
                if c.autoinc:
                    # MySQL coerces BEFORE the 0/NULL check, so the
                    # string form '0' (e.g. from a compiled LOAD DATA,
                    # load_auto_increment_value.txt) triggers the
                    # counter exactly like the numeric 0
                    av = _decode_strlit(v)
                    av = v.strip() if av is None else av.strip()
                    if av.upper() in ("NULL", "0"):
                        v = str(td.next_auto)
                        td.next_auto += 1
                        if c.mysql_type in _STRICT_INT_RANGES:
                            tbl_r = (
                                _STRICT_UINT_RANGES if c.unsigned
                                else _STRICT_INT_RANGES
                            ) if td.engine == "tianmu" else (
                                _STD_UINT_RANGES if c.unsigned
                                else _STD_INT_RANGES
                            )
                            if int(v) > tbl_r[c.mysql_type][1]:
                                # counter exhausted its width: tianmu
                                # reports a duplicate of the saturated
                                # key (auto_increment.result: "Duplicate
                                # entry '0'")
                                raise ValueError(
                                    f"Duplicate entry for key PRIMARY: "
                                    f"AUTO_INCREMENT counter past the "
                                    f"{c.mysql_type} maximum on "
                                    f"'{c.name}' (MySQL error 1062 "
                                    f"analog)"
                                )
                    elif re.fullmatch(r"\d+", av):
                        # explicit value bumps the counter past it
                        td.next_auto = max(td.next_auto, int(av) + 1)
                        v = av
                if v.strip().upper() == "DEFAULT":
                    v = (
                        by_name[c.name.lower()].default
                        if by_name[c.name.lower()].default is not None
                        else "NULL"
                    )
                if re.fullmatch(r"0[xX][0-9A-Fa-f]+", v.strip()):
                    v = str(int(v.strip()[2:], 16))
                if re.fullmatch(r"0b[01]+", v.strip()):
                    # lowercase 0b literal only: MySQL lexes 0B111 as
                    # an identifier (bit_type.test --error 1054 leg)
                    v = str(int(v.strip()[2:], 2))
                if re.match(r"\s*_\w+\s*(0[xb]|['\"])", v, re.I):
                    # charset-introducer literal: decode to the plain
                    # string BEFORE the char-width 1406 check measures
                    # it (different_charsets_a.test's 11-char utf8mb4
                    # hex into varchar(10))
                    v = _decode_introducers(v)
                bm = re.fullmatch(r"[bB]'([01]*)'", v.strip())
                if bm:
                    # bit literal folds to its integer BEFORE the
                    # bare-column pass (the 'b' prefix must not read
                    # as a column named b — bit_type.test)
                    v = str(int(bm.group(1) or "0", 2))
                if re.fullmatch(
                    r"\s*[-+]?\d+(?:\.\d+)?\s*/\s*0+(?:\.0*)?\s*", v
                ):
                    # constant x/0: ERROR_FOR_DIVISION_BY_ZERO (default
                    # sql_mode) errors the INSERT; non-strict stores
                    # NULL with a warning (select_precision.test)
                    if strict:
                        raise ValueError(
                            f"Division by 0 inserting into column "
                            f"'{c.name}' (MySQL error 1365 analog)"
                        )
                    v = "NULL"
                if (
                    strict and c.unsigned
                    and c.mysql_type not in _STRICT_INT_RANGES
                    and _NUM_PREFIX.fullmatch(v.strip())
                    and v.strip().startswith("-")
                    and decimal.Decimal(v.strip()) < 0
                ):
                    raise ValueError(
                        f"Out of range value for UNSIGNED column "
                        f"'{c.name}': {v} (MySQL error 1264 analog)"
                    )
                if strict and c.char_width:
                    d = _decode_strlit(v)
                    if d is not None and len(d) > c.char_width:
                        raise ValueError(
                            f"Data too long for column '{c.name}' "
                            f"(len {len(d)} > {c.char_width}; MySQL "
                            f"error 1406 analog)"
                        )
                if c.charset in ("utf8", "utf8mb3", "latin1", "gbk",
                                 "ascii"):
                    d = _decode_strlit(v)
                    bad = False
                    if d is not None:
                        if c.charset in ("utf8", "utf8mb3"):
                            # MySQL utf8 is 3-byte: astral chars 1366
                            bad = any(ord(ch) > 0xFFFF for ch in d)
                        else:
                            enc = {"latin1": "latin-1", "gbk": "gbk",
                                   "ascii": "ascii"}[c.charset]
                            try:
                                d.encode(enc)
                            except UnicodeEncodeError:
                                bad = True
                    if bad:
                        # (different_charsets_a.test: emoji into a
                        # utf8-charset column errors even though the
                        # utf8mb4 sections accept it)
                        raise ValueError(
                            f"Incorrect string value for column "
                            f"'{c.name}': not representable in "
                            f"{c.charset} (MySQL error 1366 analog)"
                        )
                if (
                    re.search(r"[A-Za-z_`]", v)
                    and _decode_strlit(v) is None
                    and v.strip().upper() not in ("NULL", "TRUE", "FALSE")
                    and not re.search(r"(?i)\bSELECT\b",
                                      _ANY_STRLIT.sub("''", v))
                ):
                    # bare column self-references inside a VALUES
                    # expression read the column's implicit default
                    # (insert_select.test: values (a+2) -> 0+2) — but a
                    # scalar subquery's identifiers belong to ITS
                    # relations, never the target (issue581's trigger
                    # tuples)
                    for oc in td.columns:
                        v = re.sub(
                            rf"\b{re.escape(oc.name)}\b(?!\s*\()",
                            f"({_implicit_default(oc)})", v, flags=re.I,
                        )
                if c.mysql_type == "bit":
                    d = _decode_strlit(v)
                    if d is not None:
                        # MySQL reads a string into BIT as its BYTES,
                        # big-endian ('1' -> 0x31 = 49; '10' -> 12592
                        # overflows BIT(8) -> 1406; bit_type.test)
                        v = str(int.from_bytes(d.encode(), "big"))
                if c.mysql_type == "bit" and re.fullmatch(
                    r"\d+", v.strip()
                ):
                    if int(v.strip()) >= (1 << c.char_width):
                        if strict:
                            raise ValueError(
                                f"Data too long for column '{c.name}' "
                                f"(bit({c.char_width}); MySQL error "
                                f"1406 analog)"
                            )
                        v = str((1 << c.char_width) - 1)
                if c.mysql_type in _STRICT_INT_RANGES:
                    v = _coerce_int_literal(v, c, td.engine, strict)
                if (
                    strict
                    and _NZD_MODE[0]
                    and c.spark_type.upper() in ("DATE", "TIMESTAMP")
                ):
                    zd = v.strip().strip("'\"")
                    if re.fullmatch(r"0+", zd) and not insert_ignore:
                        # strict + NO_ZERO_DATE rejects the zero-date
                        # (delete.test); INSERT IGNORE downgrades to a
                        # 1264 warning and stores it (issue682 NZD
                        # section), as does an explicit mode without
                        # NO_ZERO_DATE or non-strict — the stored form
                        # is the sentinel (see _mysql_temporal_literal)
                        raise ValueError(
                            f"Incorrect date value '0' for column "
                            f"'{c.name}' (MySQL error 1292 analog)"
                        )
                if c.mysql_type in ("double", "float", "real"):
                    vt = v.strip()
                    # @var substitution parenthesizes its literal
                    while (
                        vt.startswith("(") and vt.endswith(")")
                        and _split_top_commas(vt[1:-1]) == [vt[1:-1]]
                    ):
                        vt = vt[1:-1].strip()
                    d = _decode_strlit(vt)
                    if d is not None:
                        # MySQL reads the leading numeric prefix of a
                        # string into FLOAT/DOUBLE ('aa'->0, '1aa'->1,
                        # '1e+1111111111a' clamps to DBL_MAX with a
                        # 1264 warning — insert.test); Spark's inline-
                        # table CAST would error instead
                        pm = re.match(
                            r"\s*[+-]?(\d+(\.\d*)?|\.\d+)"
                            r"([eE][+-]?\d+)?", d,
                        )
                        try:
                            f = float(pm.group(0)) if pm else 0.0
                        except OverflowError:
                            f = float("inf")
                        mxf = (
                            1.7976931348623157e308
                            if c.mysql_type == "double"
                            else 3.402823466e38
                        )
                        f = max(-mxf, min(mxf, f)) if f == f else 0.0
                        v = repr(f)
                if (
                    c.notnull and not c.autoinc
                    and v.strip().upper() == "NULL"
                ):
                    if insert_ignore or (len(tuples) > 1 and not strict):
                        # IGNORE — and MySQL's multi-row INSERT, which
                        # downgrades 1048 to a warning — store the
                        # implicit default (issue682.test, insert.test's
                        # values (1),(NULL),(2) -> 1,0,2)
                        v = _implicit_default(c)
                    else:
                        raise ValueError(
                            f"Column '{c.name}' cannot be null "
                            f"(MySQL error 1048 analog)"
                        )
                row.append(v)
            elif c.autoinc:
                # MySQL assigns the counter when the column is omitted
                # (or NULL/0 is given)
                row.append(str(td.next_auto))
                td.next_auto += 1
            else:
                dv = by_name[c.name.lower()].default
                row.append(dv if dv is not None else "NULL")
        row = [_mysql_temporal_literal(v, c) for v, c in zip(row, td.columns)]
        for v, c in zip(row, td.columns):
            if v in (f"'{_ZD_DATE}'", f"'{_ZD_TS}'"):
                td.zero_temporal.add(c.name.lower())
        rows.append(
            [_mysql_double_literal(v, c) for v, c in zip(row, td.columns)]
        )
    return td, rows


_DEC_ARITH = re.compile(
    r"^\s*-?\d+(?:\.\d+)?\s*(?:[+-]\s*\d+(?:\.\d+)?\s*)*$"
)


def _mysql_double_literal(lit: str, col: ColumnDef) -> str:
    """MySQL evaluates constant decimal arithmetic exactly and converts
    ONCE to double on insert into a DOUBLE column (round-to-nearest).
    DuckDB's DECIMAL→DOUBLE conversion truncates instead (e.g.
    9223372036854775807.0-1000 lands on the adjacent double), so
    pre-evaluate simple ±-chains of decimal literals and emit the
    shortest round-trip float literal both engines parse identically
    (period_diff.test huge-double rows)."""
    if col.spark_type.upper() not in ("DOUBLE", "FLOAT"):
        return lit
    s = lit.strip()
    if _NUM_PREFIX.fullmatch(s) and re.search(r"[eE]", s):
        # scientific literals with more mantissa digits than a double
        # round-trips overflow Spark's parser (signed_boundary.test's
        # 1.79769313486231570814527423731704357e+308 IS representable:
        # it rounds to DBL_MAX) — round via Python and re-emit shortest
        v = float(s)
        if v in (float("inf"), float("-inf")):
            raise ValueError(
                f"Out of range value for column '{col.name}': {s} "
                f"(MySQL error 1264 analog)"
            )
        return repr(v)
    if not _DEC_ARITH.match(s) or "." not in s:
        return lit
    import decimal as _d

    total = _d.Decimal(0)
    for m in re.finditer(r"([+-]?)\s*(\d+(?:\.\d+)?)", s):
        term = _d.Decimal(m.group(2))
        total += -term if m.group(1) == "-" else term
    return repr(float(total))


_TEMPORAL_LIT = re.compile(
    r"^(\d{1,4})[-/.](\d{1,2})[-/.](\d{1,2})"
    r"(?:[ T](\d{1,2}):(\d{1,2})(?::(\d{1,2})(\.\d+)?)?)?$"
)


def _mysql_temporal_literal(lit: str, col: ColumnDef) -> str:
    """Normalize a quoted DATE/DATETIME literal to MySQL semantics so
    Spark's ANSI CAST and DuckDB agree with the reference:
      * 2-digit years follow MySQL's pivot (00-69 -> 20xx, 70-99 -> 19xx;
        sql-reference: date-and-time-literals) — Spark ANSI rejects
        '09-12-11' outright and DuckDB reads year 9.
      * fractional seconds round half-up to the column's fsp (MySQL
        DATETIME defaults to fsp=0: '…30.6' stores as '…31').
    Non-literal or non-temporal values pass through untouched."""
    base = col.spark_type.upper()
    s = lit.strip()
    if col.mysql_type == "time":
        # TIME stores as text (no engine analog); round the fractional
        # second away at the column's fsp like MySQL TIME(0) does.
        # A bare numeric literal reads as compact [H]HMMSS — zero TIME
        # is the VALID value '00:00:00', not a NULL-like zero date
        # (issue682 TIME legs: insert (0) stores and renders 00:00:00)
        bare = s[1:-1].strip() if (
            len(s) >= 2 and s[0] in "'\"" and s[-1] == s[0]
        ) else s
        if re.fullmatch(r"\d{1,7}", bare):
            n = int(bare)
            return f"'{n // 10000:02d}:{n // 100 % 100:02d}:{n % 100:02d}'"
        if len(s) < 2 or s[0] not in "'\"" or s[-1] != s[0]:
            return lit
        tm = re.match(
            r"^(\d{1,3}):(\d{1,2}):(\d{1,2})(\.\d+)?$", s[1:-1].strip()
        )
        if not tm or not tm.group(4) or col.fsp > 0:
            return lit
        h, mi, sec = int(tm.group(1)), int(tm.group(2)), int(tm.group(3))
        if float(tm.group(4)) >= 0.5:
            sec += 1
            if sec == 60:
                sec, mi = 0, mi + 1
                if mi == 60:
                    mi, h = 0, h + 1
        return f"'{h:02d}:{mi:02d}:{sec:02d}'"
    if base not in ("DATE", "TIMESTAMP"):
        return lit
    digits = s[1:-1] if len(s) >= 2 and s[0] in "'\"" and s[-1] == s[0] else s
    if re.fullmatch(
        r"0{1,4}(-0{1,2}){2}([ T]0{1,2}(:0{1,2}){2})?|0+", digits
    ):
        # MySQL numeric 0 into a temporal column is the zero-date
        # '0000-00-00'; neither engine has one — stored as the
        # 0001-01-01 SENTINEL (see _ZD_DATE above) so nullable
        # columns keep it distinct from true NULL (issue682 lines
        # 29-42); the temporal-vs-number compare pass renders the
        # sentinel as numeric 0 like the reference (insert.test
        # t>0=0, issue682 a=0 deletes)
        return f"'{_ZD_DATE}'" if base == "DATE" else f"'{_ZD_TS}'"
    if re.fullmatch(r"\d{6}|\d{8}|\d{12}|\d{14}", digits):
        # MySQL numeric temporal literal ([YY]YYMMDD[HHMMSS],
        # update_v1.test's 20000928174434; quoted compact form in
        # LOAD DATA fixtures like issue852.txt's 19980721): normalize
        # to the dashed quoted form, fall through to the shared path
        s = digits
        body = s if len(s) in (8, 14) else (
            ("20" if int(s[:2]) <= 69 else "19") + s
        )
        s = "'{}-{}-{}".format(body[0:4], body[4:6], body[6:8])
        if len(body) == 14:
            s += " {}:{}:{}".format(body[8:10], body[10:12], body[12:14])
        s += "'"
    if len(s) < 2 or s[0] not in "'\"" or s[-1] != s[0]:
        return lit
    m = _TEMPORAL_LIT.match(s[1:-1].strip())
    if not m:
        return lit
    import datetime as _dt

    y = int(m.group(1))
    if len(m.group(1)) <= 2:
        y += 2000 if y <= 69 else 1900
    try:
        t = _dt.datetime(
            y, int(m.group(2)), int(m.group(3)),
            int(m.group(4) or 0), int(m.group(5) or 0), int(m.group(6) or 0),
        )
    except ValueError:
        return lit
    frac = float(m.group(7) or 0.0)
    if col.fsp == 0 and frac >= 0.5:
        t += _dt.timedelta(seconds=1)
        frac = 0.0
    if base == "DATE":
        return f"'{t:%Y-%m-%d}'"
    if col.mysql_type == "timestamp" and _TZ_OFFSET_MIN[0]:
        # MySQL TIMESTAMP (not DATETIME) stores UTC: the literal is a
        # session-local wall time, storage subtracts the session
        # offset (type_timestamp.test's SET time_zone battery);
        # display SELECTs add the then-current offset back
        t -= _dt.timedelta(minutes=_TZ_OFFSET_MIN[0])
    out = f"{t:%Y-%m-%d %H:%M:%S}"
    if col.fsp > 0 and m.group(7):
        out += f"{m.group(7)[: col.fsp + 1]}"
    return f"'{out}'"


def _dquote_to_squote(text: str) -> str:
    return re.sub(
        r'"((?:[^"\\]|\\.)*)"',
        lambda m: "'" + m.group(1).replace("'", "''") + "'",
        text,
    )


def _split_on_duplicate(stmt: str) -> tuple[str, str | None]:
    m = re.search(r"\bON\s+DUPLICATE\s+KEY\s+UPDATE\b", stmt, re.I)
    if not m:
        return stmt, None
    return stmt[: m.start()], stmt[m.end() :]


def _translate_upsert_rhs(expr: str, td: TableDef) -> str:
    """MySQL ON-DUPLICATE RHS name resolution: ``VALUES(col)`` is the
    incoming row (→ S.col), ``tbl.col`` and bare ``col`` are the
    existing row (→ T.col)."""
    expr = re.sub(
        r"\bVALUES\s*\(\s*(`[^`]+`|\w+)\s*\)",
        lambda m: f"S.{_unquote_ident(m.group(1))}",
        expr,
        flags=re.I,
    )
    expr = re.sub(rf"\b{re.escape(td.name)}\s*\.", "T.", expr, flags=re.I)
    for cname in sorted((c.name for c in td.columns), key=len, reverse=True):
        expr = re.sub(
            rf"(?<![\w.`\"]){re.escape(cname)}(?![\w`\"])(?!\s*\()",
            f"T.{cname}",
            expr,
            flags=re.I,
        )
    return expr


def _values_select(td: TableDef, rows: list[list[str]], engine: str) -> str:
    """Typed SELECT over an inline VALUES list, per engine.  Casts go
    inside each tuple (see _duck_values_cte)."""
    if engine == "duck":
        return _duck_values_cte(
            td, [[rewrite_expr(v, "duck") for v in r] for r in rows]
        )
    vnames = ", ".join(f"v{i}" for i in range(len(td.columns)))
    names = ", ".join(f"v{i} AS `{c.name}`" for i, c in enumerate(td.columns))
    tuples = ", ".join(
        "("
        + ", ".join(
            f"CAST(({rewrite_expr(v, 'spark')}) AS {c.spark_type})"
            for v, c in zip(r, td.columns)
        )
        + ")"
        for r in rows
    )
    return f"SELECT {names} FROM VALUES {tuples} AS _v({vnames})"


def _upsert_select(
    td: TableDef,
    set_exprs: dict[str, str],
    prev_ref: str,
    inc_ref: str,
    engine: str,
) -> str:
    """INSERT … ON DUPLICATE KEY UPDATE as one declarative SELECT:
    existing rows (updated when the PK matches an incoming row) UNION
    ALL unmatched incoming rows — the same outer-join + anti-join plan
    Spark's MERGE would produce, so it broadcasts/shuffles like any
    join at scale."""
    if not td.pk:
        raise ValueError(f"ON DUPLICATE KEY UPDATE needs a PRIMARY KEY: {td.name}")
    q = "`" if engine == "spark" else '"'

    def qi(c: str) -> str:
        return f"{q}{c}{q}"

    on = " AND ".join(f"T.{qi(k)} = S.{qi(k)}" for k in td.pk)
    flag = f"S.{qi(td.pk[0])} IS NOT NULL"
    matched = []
    for c in td.columns:
        if c.name in set_exprs:
            typ = c.spark_type if engine == "spark" else c.duck_type
            matched.append(
                f"CASE WHEN {flag} THEN CAST(({set_exprs[c.name]}) AS {typ}) "
                f"ELSE T.{qi(c.name)} END AS {qi(c.name)}"
            )
        else:
            matched.append(f"T.{qi(c.name)} AS {qi(c.name)}")
    new_cols = ", ".join(f"S.{qi(c.name)} AS {qi(c.name)}" for c in td.columns)
    return (
        f"SELECT {', '.join(matched)} FROM {prev_ref} T "
        f"LEFT JOIN {inc_ref} S ON {on} "
        f"UNION ALL SELECT {new_cols} FROM {inc_ref} S "
        f"LEFT JOIN {prev_ref} T ON {on} WHERE T.{qi(td.pk[0])} IS NULL"
    )


def _parse_assignments(text: str) -> dict[str, str]:
    out = {}
    for part in _split_top_commas(text):
        am = re.match(r"\s*(`[^`]+`|\w+)\s*=\s*(.*)$", part, re.S)
        out[_unquote_ident(am.group(1))] = am.group(2).strip()
    return out


def _duck_type_from_spark(dt) -> str:
    """Spark DataType → DuckDB type name (for CTAS-derived TableDefs)."""
    s = dt.simpleString()
    return {
        "int": "INTEGER", "bigint": "BIGINT", "smallint": "SMALLINT",
        "tinyint": "TINYINT", "double": "DOUBLE", "float": "FLOAT",
        "string": "VARCHAR", "timestamp": "TIMESTAMP", "date": "DATE",
        "binary": "BLOB", "boolean": "BOOLEAN",
    }.get(s, s.upper())  # decimal(p,s) passes through


def _mode_text(strict: bool, fullgb: bool) -> str:
    """The session sql_mode as text — enough flags that re-applying it
    restores the same strict/OFGB/NUS state (issue271's
    SET @old=@@SQL_MODE … SET @@SQL_MODE=@old round-trip)."""
    parts = []
    if fullgb:
        parts.append("ONLY_FULL_GROUP_BY")
    if strict:
        parts.append("STRICT_TRANS_TABLES")
    if _NUS_MODE[0]:
        parts.append("NO_UNSIGNED_SUBTRACTION")
    parts.append("NO_ENGINE_SUBSTITUTION")
    return ",".join(parts)


_SET_USERVAR = re.compile(r"^\s*SET\s+@(\w+)\s*:?=\s*(.+)$", re.I | re.S)


def _py_to_literal(v) -> str:
    if v is None:
        return "NULL"
    if isinstance(v, bool):
        return "TRUE" if v else "FALSE"
    if isinstance(v, str):
        return "'" + v.replace("'", "''") + "'"
    return str(v)


def _subst_uservars(sql: str, vars: dict[str, str]) -> str:
    """Replace ``@name`` references (never ``@@system_vars``) with the
    variable's literal value, longest name first."""
    if not vars:
        return sql
    pairs = [
        (f"@{name}", f"({lit})")
        for name, lit in sorted(vars.items(), key=lambda kv: -len(kv[0]))
    ]
    # guard @@: temporarily hide system-var refs
    sql = sql.replace("@@", "\x01\x01")
    sql = _replace_outside_strings(sql, pairs)
    return sql.replace("\x01\x01", "@@")


# ---------------------------------------------------------------------------
# LOAD DATA INFILE (MTR front-end path)
#
# The MTR corpus loads small fixture files from std_data/ (254 .. 65k
# lines).  For the *test front-end* the file is parsed in Python at
# translate time and compiled into the equivalent multi-row INSERT, so
# BOTH engines reuse the existing VALUES machinery — MySQL's
# per-column coercion/clamp semantics included — with zero cross-
# engine CSV-reader divergence.  The production-scale CSV path (100-TB
# design: distributed reads, PERMISSIVE rejecters, schema projection)
# is stonedb_spark/sources/csvload.py; this translator is only for the
# reference's own fixtures (reference: sql/sql_load.cc dispatch,
# storage/tianmu/loader/parsing_strategy.h:28).

MYSQL_TEST_DIR = os.environ.get(
    "STONEDB_MTR_DIR", "/root/reference/mysql-test"
)

_LOAD_DATA = re.compile(
    r"^\s*LOAD\s+DATA\s+(?:LOW_PRIORITY\s+|CONCURRENT\s+)?(?:LOCAL\s+)?"
    r"INFILE\s+'([^']+)'\s*(?:(?:IGNORE|REPLACE)\s+)?INTO\s+TABLE\s+"
    r"(?:\w+\s*\.\s*)?(`[^`]+`|\w+)(.*)$",
    re.I | re.S,
)

_LD_ESCAPES = {"t": "\t", "n": "\n", "r": "\r", "0": "\x00", "b": "\b",
               "\\": "\\", "'": "'", '"': '"'}


def _ld_unesc_spec(lit: str) -> str:
    """Decode a TERMINATED/ENCLOSED/ESCAPED BY spec literal ('\\t' …)."""
    out, i = [], 0
    while i < len(lit):
        if lit[i] == "\\" and i + 1 < len(lit):
            out.append(_LD_ESCAPES.get(lit[i + 1], lit[i + 1]))
            i += 2
        else:
            out.append(lit[i])
            i += 1
    return "".join(out)


def _ld_parse(
    data: str, sep: str, enc: str, esc: str, line_sep: str
) -> list[list[str | None]]:
    """Parse a LOAD DATA stream into rows of decoded field values
    (None = SQL NULL), replicating MySQL's reader
    (sql/sql_load.cc READ_INFO::read_field):

    * field/line terminators INSIDE an enclosed field are data, so the
      stream must be scanned enclosure-aware BEFORE line splitting
      (issue852.txt carries a comma inside ``"HO,lDAV…"``);
    * an enclosure opens only as the field's first char; the closing
      enc must be immediately followed by a field/line terminator or
      EOF (a doubled enc is one literal enc).  If no valid closer
      exists ahead, the opener was data all along: the remainder of
      the stream becomes one raw field (issue1209-2.txt's trailing
      ``"4",";`` keeps its quote in the tianmu result);
    * ``<esc>N`` as the whole unenclosed field is the NULL marker;
      other ``<esc>x`` pairs decode per the C-escape table.
    """
    rows: list[list[str | None]] = []
    row: list[str | None] = []
    buf: list[str] = []
    i, n = 0, len(data)
    quoted = False  # current field was (validly) enclosed

    def end_field():
        nonlocal buf, quoted
        val = "".join(buf)
        if not quoted and esc and val == esc + "N":
            row.append(None)
        elif not quoted and enc and val.upper() == "NULL":
            # MySQL: with a non-empty ENCLOSED BY, the unenclosed
            # literal word NULL reads as SQL NULL (issue1153.test's
            # optionally-enclosed legs; enclosed "null" stays text)
            row.append(None)
        elif not quoted and val == "":
            # tianmu loads a bare empty field as NULL for every type
            # (issue1209.result row ''), unlike an enclosed '' which
            # stays the empty string
            row.append(None)
        else:
            if not quoted and esc and esc in val:
                dec, k = [], 0
                while k < len(val):
                    if val[k] == esc and k + 1 < len(val):
                        dec.append(_LD_ESCAPES.get(val[k + 1], val[k + 1]))
                        k += 2
                    else:
                        dec.append(val[k])
                        k += 1
                val = "".join(dec)
            row.append(val)
        buf, quoted = [], False

    def end_line():
        nonlocal row
        end_field()
        rows.append(row)
        row = []

    while i < n:
        at_field_start = not buf and not quoted
        if at_field_start and enc and data[i] == enc:
            # tentative enclosed field: scan ahead for a valid closer
            j, inner, closed = i + 1, [], False
            while j < n:
                ch = data[j]
                if esc and ch == esc and j + 1 < n:
                    inner.append(_LD_ESCAPES.get(data[j + 1], data[j + 1]))
                    j += 2
                    continue
                if ch == enc:
                    if j + 1 < n and data[j + 1] == enc:
                        inner.append(enc)
                        j += 2
                        continue
                    nxt = data[j + 1:]
                    if (
                        not nxt
                        or nxt.startswith(sep)
                        or nxt.startswith(line_sep)
                    ):
                        closed = True
                        j += 1
                        break
                    inner.append(enc)  # lone enc mid-field is data
                    j += 1
                    continue
                inner.append(ch)
                j += 1
            if closed:
                buf, quoted, i = inner, True, j
                continue
            # unterminated enclosure: opener was literal data; the
            # rest of the stream is one raw field
            buf = [data[i:]]
            i = n
            break
        if esc and data[i] == esc and i + 1 < n:
            buf.append(data[i])  # decoded at end_field (NULL marker!)
            buf.append(data[i + 1])
            i += 2
            continue
        if data.startswith(line_sep, i):
            end_line()
            i += len(line_sep)
            continue
        if data.startswith(sep, i):
            end_field()
            i += len(sep)
            continue
        buf.append(data[i])
        i += 1
    if buf or row:
        end_line()
    return rows


def _split_into_outfile(s: str):
    """Split a ``SELECT ... INTO OUTFILE 'p' [format options] ...``
    statement (MySQL allows the INTO clause before OR after FROM) into
    (bare select, path, {sep, enc, esc, line_sep}).  Returns None when
    the statement has no INTO OUTFILE clause."""
    m = re.search(
        r"\bINTO\s+OUTFILE\s+(['\"`])([^'\"`]+)\1", s, re.I
    )
    if not m:
        return None
    path = m.group(2)
    i = m.end()
    opt = re.compile(
        r"\s*(?:(?:FIELDS|COLUMNS|LINES)\s+)?(OPTIONALLY\s+)?"
        r"(TERMINATED|ENCLOSED|ESCAPED)\s+BY\s+'((?:[^'\\]|\\.)*)'",
        re.I,
    )
    # export default mirrors the load default: tianmu's ';' delimiter
    # (common_definitions.h:165), so a default export reloads cleanly
    fmt = {
        "sep": ";", "enc": "", "esc": "\\", "line_sep": "\n",
        "optionally": False,
    }
    last_kw = "FIELDS"
    while True:
        om = opt.match(s, i)
        if not om:
            break
        kw = re.match(r"\s*(FIELDS|COLUMNS|LINES)", s[i:], re.I)
        if kw:
            last_kw = kw.group(1).upper()
        which, lit = om.group(2).upper(), _ld_unesc_spec(om.group(3))
        if which == "TERMINATED":
            fmt["line_sep" if last_kw == "LINES" else "sep"] = lit
        elif which == "ENCLOSED":
            fmt["enc"] = lit
            fmt["optionally"] = bool(om.group(1))
        else:
            fmt["esc"] = lit
        i = om.end()
    bare = (s[: m.start()] + " " + s[i:]).strip()
    return bare, path, fmt


def _outfile_cell(
    v, sep="\t", enc="", esc="\\", line_sep="\n", null_marker="",
    optionally=False,
) -> str:
    """One value in tianmu's SELECT INTO OUTFILE encoding
    (issue1169_out_*.txt): NULL is EMPTY (unenclosed) by default and
    ``<esc>N`` only when the session variable @TIANMU_LOAD_NULL is
    set; DATETIME always carries the 6-digit fraction; special
    characters escape with ``esc``; a non-empty ENCLOSED BY wraps
    every non-NULL field (MySQL only skips the wrap under OPTIONALLY,
    which the corpus doesn't use)."""
    if v is None:
        return null_marker
    import datetime as _dt

    if isinstance(v, _dt.datetime):
        s = f"{v:%Y-%m-%d %H:%M:%S.%f}"
    elif isinstance(v, _dt.date):
        s = f"{v:%Y-%m-%d}"
    elif isinstance(v, bool):
        s = "1" if v else "0"
    else:
        s = str(v)
    # OPTIONALLY ENCLOSED wraps only string-typed columns (ints,
    # dates, decimals stay bare — issue850_out.txt)
    wrap = enc and (not optionally or isinstance(v, str))
    if esc:
        # MySQL (sql/sql_class.cc select_export): escape the escape
        # char, the enclosure (or, unenclosed, the separator's first
        # char), the line terminator's first char, and NUL (as <esc>0)
        specials = {esc, line_sep[:1], enc[:1] if wrap else sep[:1]}
        specials.discard("")
        s = "".join(
            esc + "0" if ch == "\0"
            else (esc + ch if ch in specials else ch)
            for ch in s
        )
    return f"{enc}{s}{enc}" if wrap else s


def _parse_load_spec(s: str, path_map: dict | None = None):
    """Parse a LOAD DATA statement's path, target and format options:
    (path, table, sep, enc, esc, line_sep, skip, cols, set_exprs)."""
    m = _LOAD_DATA.match(s)
    if not m:
        raise ValueError(f"unsupported LOAD DATA syntax: {s[:100]}")
    path, table, rest = m.group(1), _unquote_ident(m.group(2)), m.group(3)
    if path_map and path in path_map:
        path = path_map[path]  # a SELECT INTO OUTFILE written this run
    elif not os.path.isabs(path) and not os.path.exists(path):
        # mysqltest's relative INFILE paths land on mysql-test/std_data
        # (load.test's '../../std_data/loaddata1.dat' = two levels up
        # from the suite directory)
        path = os.path.normpath(
            os.path.join(MYSQL_TEST_DIR, "suite/tianmu", path)
        )
    # tianmu's engine default field delimiter is ';', NOT MySQL's TAB
    # (storage/tianmu/common/common_definitions.h:165 DEFAULT_DELIMITER,
    # system/io_parameters.h:216) — auto_increment.test's negative-id
    # fixture relies on it
    sep, enc, esc, line_sep, skip = ";", "", "\\", "\n", 0
    fm = re.search(
        r"\b(?:FIELDS|COLUMNS)\s+TERMINATED\s+BY\s+'([^']*)'", rest, re.I
    )
    if fm:
        sep = _ld_unesc_spec(fm.group(1))
    em = re.search(r"\bENCLOSED\s+BY\s+'([^']*)'", rest, re.I)
    if em:
        enc = _ld_unesc_spec(em.group(1))
    xm = re.search(r"\bESCAPED\s+BY\s+'([^']*)'", rest, re.I)
    if xm:
        esc = _ld_unesc_spec(xm.group(1))
    lm = re.search(r"\bLINES\s+TERMINATED\s+BY\s+'([^']*)'", rest, re.I)
    if lm:
        line_sep = _ld_unesc_spec(lm.group(1))
    im = re.search(r"\bIGNORE\s+(\d+)\s+(?:LINES|ROWS)\b", rest, re.I)
    if im:
        # honored like MySQL (issue1000/issue1263 .results).  load.result
        # alone records note 1105 and reloads ALL rows for the same
        # spelling — a version-dependent tianmu regression we do NOT
        # replicate (adjudicated in COVERAGE.md)
        skip = int(im.group(1))
    # column list may mix real targets and @user-vars referenced by a
    # trailing SET clause (issue1000.test: (id1,@var1) set id2=@var1+100)
    cols: list[str] | None = None
    set_exprs: list[tuple[str, str]] = []
    tail = rest
    sm = re.search(r"\bSET\s+(\w+\s*=.*)$", tail, re.I | re.S)
    if sm:
        tail = tail[: sm.start()]
        for piece in _split_top_commas(sm.group(1)):
            pm = re.match(r"\s*(`[^`]+`|\w+)\s*=\s*(.+)\s*$", piece, re.S)
            if not pm:
                raise ValueError(f"bad LOAD DATA SET clause: {piece!r}")
            set_exprs.append((_unquote_ident(pm.group(1)), pm.group(2)))
    cm = re.search(r"\(([^()\n]*(?:\n[^()]*)*)\)\s*$", tail.strip(), re.S)
    if cm:
        cols = [
            _unquote_ident(c.strip())
            for c in _split_top_commas(cm.group(1))
        ]
    return path, table, sep, enc, esc, line_sep, skip, cols, set_exprs


def _load_is_big(s: str, path_map: dict | None = None,
                 cap: int = 20000) -> bool:
    """True when the LOAD DATA fixture exceeds the compiled-INSERT cap
    (cheap newline count; fixtures are local files)."""
    try:
        path = _parse_load_spec(s, path_map)[0]
        with open(path, "rb") as fh:
            return fh.read().count(b"\n") > cap
    except Exception:
        return False


def _load_transform_exprs(
    td: TableDef, cols, set_exprs, posname, engine: str
) -> list[str]:
    """Projection expressions (engine SQL text) mapping positional CSV
    fields onto the target table's columns: listed real columns map
    directly, @vars feed the SET expressions, unlisted columns take
    their DEFAULT."""
    listed = cols if cols is not None else [c.name for c in td.columns]
    pos = {
        listed[i].lower(): posname(i)
        for i in range(len(listed))
    }
    sets = {}
    for cname, expr in set_exprs:
        e = re.sub(
            r"@(\w+)",
            lambda m: pos.get("@" + m.group(1).lower(), "NULL"),
            expr,
        )
        sets[cname.lower()] = rewrite_expr(e, engine)
    q = "`" if engine == "spark" else '"'
    out = []
    for c in td.columns:
        ctype = c.spark_type if engine == "spark" else c.duck_type
        if c.name.lower() in sets:
            src = sets[c.name.lower()]
        elif c.name.lower() in pos:
            src = pos[c.name.lower()]
        else:
            src = (
                rewrite_expr(c.default, engine)
                if c.default is not None else "NULL"
            )
        # TRY_CAST: LOAD DATA clamps malformed values to NULL with a
        # warning, never errors (issue880's free-text fields)
        if ctype == _DERIVED:
            out.append(f"({src}) AS {q}{c.name}{q}")
        else:
            out.append(f"TRY_CAST(({src}) AS {ctype}) AS {q}{c.name}{q}")
    return out


def _load_data_distributed(run, s: str):
    """Distributed LOAD DATA (files beyond the compiled-INSERT cap):
    spark.read.csv over the fixture, declarative transforms, PK-dedup
    (tianmu skips duplicate keys on load — issue1263.result keeps
    65542 of 65543), one insertInto write.  This is the same plan the
    production path (sources/csvload.py) runs at scale."""
    (path, table, sep, enc, esc, line_sep, skip, cols, set_exprs) = \
        _parse_load_spec(s, run.outfiles)
    td = run.tables[table.lower()]
    sc = run.spark.sparkContext
    rdd = sc.textFile(path)
    if skip:
        rdd = (
            rdd.zipWithIndex()
            .filter(lambda x: x[1] >= skip)
            .map(lambda x: x[0])
        )
    df = run.spark.read.csv(
        rdd,
        sep=sep or ";",
        quote=(enc or "\u0000"),
        escape=(esc or "\\"),
        header=False,
        inferSchema=False,
    )
    exprs = _load_transform_exprs(
        td, cols, set_exprs, lambda i: f"`{df.columns[i]}`", "spark"
    )
    out = df.selectExpr(*exprs)
    if td.pk:
        out = out.dropDuplicates(td.pk)
    out.write.insertInto(f"`{td.name}`")
    td.seen_pk = None
    return None


def _load_data_to_insert(
    s: str,
    td: "TableDef | None" = None,
    max_rows: int = 20000,
    path_map: dict | None = None,
    strict_short: bool = False,
) -> str:
    """Compile a LOAD DATA INFILE statement into the equivalent
    multi-row ``INSERT INTO t [(cols)] VALUES …`` text.  LOAD DATA
    clamps out-of-range values with a warning rather than erroring
    (MySQL treats LOCAL loads as IGNORE), so callers run the produced
    INSERT in non-strict mode.  ``ncols`` (the target table's column
    count) enables MySQL's ragged-row repair: rows with extra fields
    are truncated (warning 1262), short rows are padded with NULL
    (warning 1261; tianmu stores NULL, issue1209.result)."""
    (path, table, sep, enc, esc, line_sep, skip, cols, set_exprs) = \
        _parse_load_spec(s, path_map)
    with open(path, newline="") as fh:
        data = fh.read()
    rows = _ld_parse(data, sep, enc, esc, line_sep)[skip:]
    if len(rows) > max_rows:
        raise ValueError(
            f"LOAD DATA fixture {path} has {len(rows)} rows; the MTR "
            f"front-end caps at {max_rows} (production path: csvload)"
        )
    ncols = len(cols) if cols is not None else (
        len(td.columns) if td is not None else None
    )

    def lit(v: str | None) -> str:
        if v is None:
            return "NULL"
        return "'" + v.replace("\\", "\\\\").replace("'", "''") + "'"

    def varlit(v: str | None) -> str:
        # a @var substituted into a SET arithmetic expression: emit a
        # bare numeric literal when the field is numeric so Spark's
        # ANSI arithmetic doesn't reject string operands
        if v is not None and re.fullmatch(r"[+-]?\d+(\.\d+)?", v.strip()):
            return v.strip()
        return lit(v)

    def colfix(cname: str, v: str | None) -> str:
        # LOAD DATA never errors on NULL into NOT NULL: MySQL stores
        # the column's implicit default with warning 1263
        # (issue1153.test's bigint NOT NULL legs)
        if v is None and td is not None:
            for c in td.columns:
                if c.name.lower() == cname.lower() and c.notnull:
                    return _implicit_default(c)
        return lit(v)

    out_cols: list[str] | None = None
    collist = None
    tuples = []
    for r in rows:
        if ncols is not None:
            if strict_short and len(r) < ncols:
                # strict sql_mode + non-LOCAL: a short row is an ERROR
                # (issue1263's ragged leg); LOCAL downgrades to the
                # 1261 warning with NULL padding (issue1209)
                raise ValueError(
                    "Row 1 doesn't contain data for all columns "
                    "(MySQL error 1261 analog, strict non-LOCAL load)"
                )
            r = r[:ncols] + [None] * (ncols - len(r))
        if cols is None:
            names = [c.name for c in td.columns] if td else []
            if set_exprs and names:
                # SET overrides the named columns after the positional
                # field mapping (issue1153: set a = @var1/2)
                byname = {
                    n.lower(): colfix(n, v) for n, v in zip(names, r)
                }
                for target, expr in set_exprs:
                    byname[target.lower()] = f"({expr})"
                vals = [byname[n.lower()] for n in names]
            elif names:
                vals = [colfix(n, v) for n, v in zip(names, r)]
            else:
                vals = [lit(v) for v in r]
            row_cols: list[str] = []
        else:
            vars_: dict[str, str] = {}
            vals, row_cols = [], []
            for cname, v in zip(cols, r):
                if cname.startswith("@"):
                    vars_[cname] = varlit(v)
                else:
                    row_cols.append(cname)
                    vals.append(colfix(cname, v))
            for target, expr in set_exprs:
                for vn, vv in sorted(
                    vars_.items(), key=lambda kv: -len(kv[0])
                ):
                    expr = expr.replace(vn, vv)
                # fold NULLIF(lit, '') driver-side: Spark's inline
                # VALUES can't evaluate the mixed-type compare that
                # MySQL folds loosely (issue1263's ID=NULLIF(@ID,''))
                nm = re.fullmatch(
                    r"(?is)\s*NULLIF\s*\(\s*('(?:[^'\\]|\\.)*'|[\w.+-]+)"
                    r"\s*,\s*''\s*\)\s*", expr,
                )
                if nm:
                    arg = nm.group(1)
                    expr = (
                        "NULL"
                        if arg.strip("'\"").strip() == "" else arg
                    )
                row_cols.append(target)
                vals.append(f"({expr})")
            if out_cols is None:
                out_cols = row_cols
        tuples.append("(" + ", ".join(vals) + ")")
    if not tuples:
        return None  # zero rows after IGNORE n LINES: a no-op load
    if out_cols:
        collist = "(" + ", ".join(f"`{c}`" for c in out_cols) + ")"
    return (
        f"INSERT INTO `{table}` {collist or ''} VALUES " + ", ".join(tuples)
    )


def run_statement(run: MTRRun, stmt: str):
    """Execute one MySQL statement on Spark.  Returns a DataFrame for
    SELECT, else None."""
    raw = _strip_modifiers(stmt.strip())
    vm = _SET_USERVAR.match(raw)
    if vm and re.fullmatch(r"@@(session\.)?SQL_MODE", vm.group(2).strip(),
                           re.I):
        run.vars[vm.group(1)] = _py_to_literal(
            _mode_text(run.strict, run.full_group_by))
        return None
    if vm:
        # SET @v = expr — BEFORE @var substitution, which would
        # otherwise rewrite the assignment target on re-assignment
        # (insert.test re-SETs @value repeatedly)
        rhs = _inline_funcs(
            _subst_uservars(vm.group(2).strip(), run.vars), run.funcs
        )
        lit = _bind_literal_uservar(rhs)  # may raise 1367
        if lit is None:
            val = run.sql(
                f"SELECT ({rewrite_expr(rhs, 'spark')}) AS v"
            ).collect()[0][0]
            lit = _py_to_literal(val)
        run.vars[vm.group(1)] = lit
        return None
    s = _subst_uservars(raw, run.vars)
    s = _normalize_insert_set(_normalize_create_index(
        _backtick_dollar_idents(_inline_funcs(s, run.funcs))))
    if re.match(r"^\s*(DELETE|UPDATE)\b", s, re.I):
        _check_nzd_dml(s, run.tables, run.strict)  # may 1292
        # DELETE/UPDATE WHERE clauses need the same temporal-column
        # compare normalization SELECTs get (issue682's
        # ``delete from t1 where a=0`` over a DATE column) — WHERE
        # clause only, so SET assignments stay untouched
        s = _normalize_dml_where(s, run.tables, "spark")
    upd_ignore = bool(re.match(r"^\s*UPDATE\s+IGNORE\b", s, re.I))
    s = re.sub(r"^(\s*UPDATE)\s+IGNORE\b", r"\1", s, flags=re.I)
    # DROP TABLE … RESTRICT/CASCADE: MySQL parses and ignores the
    # clause (drop_restric.test — the drop still happens)
    s = re.sub(
        r"(?is)^(\s*DROP\s+(?:TEMPORARY\s+)?TABLES?\b.*?)"
        r"\s+(RESTRICT|CASCADE)\s*$", r"\1", s)
    sm2 = re.match(
        r"^\s*SET\s+(?:SESSION\s+|GLOBAL\s+)?(?:@@(?:session\.|global\.)?)?sql_mode\s*=\s*(.+)$",
        s, re.I,
    )
    if sm2:
        val = sm2.group(1).strip().strip("'\"").upper()
        run.strict = "STRICT" in val or "TRADITIONAL" in val or val == "DEFAULT"
        run.full_group_by = "ONLY_FULL_GROUP_BY" in val or val == "DEFAULT"
        _NUS_MODE[0] = "NO_UNSIGNED_SUBTRACTION" in val
        _NZD_MODE[0] = ("NO_ZERO_DATE" in val or "TRADITIONAL" in val
                        or val == "DEFAULT")
        run.sqlmode_text = (
            type(run).sqlmode_text if val == "DEFAULT" else val
        )
        return None
    tzm = _SET_TIMEZONE.match(s)
    if tzm:
        sign = -1 if tzm.group(1) == "-" else 1
        _TZ_OFFSET_MIN[0] = sign * (
            int(tzm.group(2)) * 60 + int(tzm.group(3))
        )
        return None
    fn = _parse_create_function(s)
    if fn is not None:
        run.funcs[fn[0]] = (fn[1], fn[2], fn[3])
        return None
    if re.match(r"^\s*DROP\s+FUNCTION\b", s, re.I):
        m = re.match(
            r"^\s*DROP\s+FUNCTION\s+(IF\s+EXISTS\s+)?(`[^`]+`|\w+)",
            s, re.I,
        )
        fname_ = _unquote_ident(m.group(2))
        if fname_ not in run.funcs and not m.group(1):
            raise ValueError(
                f"FUNCTION {fname_} does not exist "
                f"(MySQL error 1305 analog)"
            )
        run.funcs.pop(fname_, None)
        return None
    if _is_infoschema(s):
        return None
    cdm = re.match(
        r"^\s*CREATE\s+(?:DATABASE|SCHEMA)\s+(IF\s+NOT\s+EXISTS\s+)?"
        r"(.+?)\s*$",
        s, re.I | re.S,
    )
    if cdm:
        nm = cdm.group(2).strip()
        _check_db_name(nm)  # 1064/1059 analogs (create_db.test)
        name = _unquote_ident(nm).lower()
        if name in run.dbs and not cdm.group(1):
            raise ValueError(
                f"Can't create database '{name}'; database exists "
                f"(MySQL error 1007 analog)"
            )
        run.dbs.add(name)
        return None
    if re.match(r"^\s*DROP\s+DATABASE\b", s, re.I):
        dm0 = re.match(
            r"^\s*DROP\s+DATABASE\s+(IF\s+EXISTS\s+)?(.+?)\s*$",
            s, re.I | re.S,
        )
        _check_db_name(dm0.group(2).strip())
        dbname = _unquote_ident(dm0.group(2).strip()).lower()
        run.dbs.discard(dbname)
        # MySQL drops the database's tables with it.  With flattened
        # multi-namespace names only that db's ``db__*`` keys go; a
        # single-namespace run wipes everything (type_timestamp.test
        # re-creates its db mid-script)
        flat = [k for k in run.tables if k.startswith(f"{dbname}__")]
        victims = flat if any("__" in k for k in run.tables) else \
            list(run.tables)
        for key in victims:
            run.sql(
                f"DROP TABLE IF EXISTS `{run.tables[key].name}`"
            )
            del run.tables[key]
            prior = run.shadowed.pop(key, None)
            if prior is not None:
                run.spark.sql(
                    f"DROP TABLE IF EXISTS `{_parked_name(prior.name)}`")
        return None
    svm = _SHOW_VARS_RX.match(s)
    if svm:
        rows = _show_variables_rows(
            svm.group(2), run.sysvars, run.sqlmode_text
        )
        return run.spark.createDataFrame(
            rows if rows else [],
            schema="Variable_name string, Value string",
        )
    sdbm = re.match(
        r"^\s*SHOW\s+(?:DATABASES|SCHEMAS)(?:\s+LIKE\s+'([^']*)')?\s*$",
        s, re.I,
    )
    if sdbm:
        pat = sdbm.group(1)
        title = f"Database ({pat})" if pat is not None else "Database"
        rx = re.compile(
            "^" + re.escape(pat).replace("%", ".*").replace("_", ".")
            + "$", re.I,
        ) if pat is not None else None
        rows = [(d,) for d in sorted(run.dbs)
                if rx is None or rx.match(d)]
        return run.spark.createDataFrame(
            rows, schema=f"`{title}` string",
        ) if rows else run.spark.createDataFrame(
            [], schema=f"`{title}` string",
        )
    stbm = re.match(
        r"^\s*SHOW\s+TABLES(?:\s+IN\s+(`[^`]+`|\w+))?\s*$", s, re.I,
    )
    if stbm:
        db = _unquote_ident(stbm.group(1)).lower() if stbm.group(1) \
            else "test"
        names = sorted(
            k[len(db) + 2:] if k.startswith(f"{db}__")
            else k
            for k, td in run.tables.items()
            if not td.temporary
            and (k.startswith(f"{db}__")
                 or (db == "test" and "__" not in k))
        )
        title = f"Tables_in_{db}"
        rows = [(n,) for n in names]
        return run.spark.createDataFrame(
            rows if rows else [], schema=f"`{title}` string",
        )
    shm = re.match(r"^\s*SHOW\s+CREATE\s+TABLE\s+(`[^`]+`|\w+)\s*$", s, re.I)
    if shm:
        key = _unquote_ident(shm.group(1)).lower()
        if key not in run.tables:
            raise ValueError(
                f"Table '{key}' doesn't exist (MySQL error 1146 analog)"
            )
        td = run.tables[key]
        return run.spark.createDataFrame(
            [(td.name, _show_create_text(td))],
            schema="`Table` string, `Create Table` string",
        )
    dsm = re.match(
        r"^\s*(?:DESC(?:RIBE)?|SHOW\s+(?:FULL\s+)?COLUMNS\s+FROM)\s+"
        r"(`[^`]+`|\w+)\s*$", s, re.I,
    )
    if dsm:
        key = _unquote_ident(dsm.group(1)).lower()
        if key not in run.tables:
            raise ValueError(
                f"Table '{key}' doesn't exist (MySQL error 1146 analog)"
            )
        return run.spark.createDataFrame(
            _describe_rows(run.tables[key]),
            schema="Field string, Type string, `Null` string, "
                   "Key string, `Default` string, Extra string",
        )
    dfm = re.match(r"^\s*DIFF_FILES\s+(\S+)\s+(\S+)\s*$", s)
    if dfm:
        # MTR --diff_files: compare the committed expected export with
        # the file this run produced.  Lines compare as a SORTED
        # multiset — the content is byte-exact per line, but a Spark
        # write's global row order is partition order, not tianmu's
        # storage order (same normalization class as issue1848's
        # GROUP_CONCAT note).
        import glob as _glob

        def _read_lines(p: str) -> list[str]:
            # the $-identifier pass backticks unquoted $VARDIR paths
            p = p.replace("`", "")
            p = run.outfiles.get(p, p)
            if os.path.isdir(p):  # a Spark text-write directory
                parts = sorted(_glob.glob(os.path.join(p, "part-*")))
                raw = b"".join(open(f, "rb").read() for f in parts)
            else:
                raw = open(p, "rb").read()
            return sorted(
                raw.decode("utf-8", errors="surrogateescape")
                .replace("\r\n", "\n").rstrip("\n").split("\n")
            )

        a, b = _read_lines(dfm.group(1)), _read_lines(dfm.group(2))
        if a != b:
            na, nb = len(a), len(b)
            first = next(
                (i for i, (x, y) in enumerate(zip(a, b)) if x != y),
                min(na, nb),
            )
            raise ValueError(
                f"--diff_files mismatch: {na} vs {nb} lines, first "
                f"difference at sorted line {first} "
                f"(MTR diff_files analog)"
            )
        return None
    ssv = _SET_SERVER_VAR_RX.match(s)
    if ssv:
        run.sysvars[ssv.group(1).lower()] = _canon_set_var(
            ssv.group(1), ssv.group(2)
        )
        return None
    if _IGNORED.match(s):
        return None
    ofm = (
        _split_into_outfile(s)
        if re.match(r"^\s*SELECT\b", s, re.I)
        and re.search(r"\bINTO\s+OUTFILE\b", s, re.I)
        else None
    )
    if ofm:
        # SELECT ... INTO OUTFILE: run the bare select, write MySQL's
        # OUTFILE text format into the run workdir — the MTR target
        # path sits under the read-only reference tree — and remember
        # the mapping so a later LOAD DATA round-trips through the
        # real text file (unsigned_support_issue1267.test's
        # export-then-reload leg; reference: sql/sql_class.cc
        # select_export semantics)
        bare, path, fmt = ofm
        df = run_statement(run, bare)
        actual = os.path.join(
            run.workdir, "outfile_%d_%s" % (
                len(run.outfiles), os.path.basename(path)
            ),
        )
        # tianmu renders NULL as the empty field unless the session
        # set @TIANMU_LOAD_NULL (issue1169.test's two exports)
        nullm = (
            (fmt["esc"] or "\\") + "N"
            if run.vars.get("TIANMU_LOAD_NULL") else ""
        )
        # Driver-side formatting is bounded: limit(cap+1) is ONE job
        # with bounded driver transfer, so `catalog.mysql()` can't be
        # driven into collecting a big table here.  Over the cap the
        # SAME cell encoder runs inside the executors (mapInPandas)
        # and the export lands as a part-file directory — the shape a
        # 1000-executor export needs anyway.
        cap = int(os.environ.get("SPARK_GRAFT_OUTFILE_DRIVER_MAX", "100000"))
        head = df.limit(cap + 1).collect()
        if len(head) <= cap:
            with open(actual, "w") as fh:
                for row in head:
                    fh.write(
                        fmt["sep"].join(
                            _outfile_cell(v, null_marker=nullm, **fmt)
                            for v in row
                        ) + fmt["line_sep"]
                    )
        else:
            if not fmt["line_sep"].endswith("\n"):
                raise ValueError(
                    "INTO OUTFILE result exceeds the driver cap "
                    f"({cap} rows) and LINES TERMINATED BY is not "
                    "newline-terminated; raise "
                    "SPARK_GRAFT_OUTFILE_DRIVER_MAX or end LINES "
                    "TERMINATED BY with '\\n'"
                )
            # the text writer adds the trailing '\n' itself
            _fmt, _nullm = dict(fmt), nullm
            _tail = fmt["line_sep"][:-1]

            def _render(batches):
                import pandas as pd

                for pdf in batches:
                    lines = [
                        _fmt["sep"].join(
                            _outfile_cell(
                                None if v is None or v != v else v,
                                null_marker=_nullm, **_fmt,
                            )
                            for v in row
                        ) + _tail
                        for row in pdf.itertuples(index=False, name=None)
                    ]
                    yield pd.DataFrame({"value": lines})

            (
                df.mapInPandas(_render, "value string")
                .write.mode("overwrite").text(actual)
            )
        run.outfiles[path] = actual
        return None
    if re.match(r"^\s*LOAD\s+DATA\b", s, re.I):
        # LOAD DATA clamps (never errors) on bad values → run the
        # compiled INSERT in non-strict mode regardless of sql_mode
        lm = _LOAD_DATA.match(s)
        ltd = run.tables.get(_unquote_ident(lm.group(2)).lower()) if lm else None
        is_local = bool(re.match(
            r"^\s*LOAD\s+DATA\s+LOCAL\b", s, re.I
        ))
        if _load_is_big(s, run.outfiles):
            # oversized fixture (issue1263: 65k rows): the distributed
            # reader path — spark.read.csv over the file, transforms
            # declaratively, ONE distributed write — instead of a
            # compiled 65k-tuple INSERT the SQL parser would choke on
            return _load_data_distributed(run, s)
        explicit_sep = bool(re.search(
            r"\b(?:FIELDS|COLUMNS)\s+TERMINATED\s+BY\b", s, re.I
        ))
        ins = _load_data_to_insert(
            s, ltd, path_map=run.outfiles,
            # short-row = hard error only for strict non-LOCAL loads
            # with an EXPLICIT field terminator (issue1263's ragged
            # leg); implicit-terminator loads pad like issue1865
            strict_short=run.strict and not is_local and explicit_sep,
        )
        if ins is None:
            return None
        saved, run.strict = run.strict, False
        try:
            return run_statement(run, ins)
        finally:
            run.strict = saved
    if re.match(r"^\s*DROP\s+(TEMPORARY\s+)?(TABLES?|VIEW)\b", s, re.I):
        m = re.match(
            r"^\s*DROP\s+(?:TEMPORARY\s+)?(TABLES?|VIEW)\s+(IF\s+EXISTS\s+)?(.*)$",
            s, re.I | re.S,
        )
        kind = m.group(1).upper()
        for name in _split_top_commas(m.group(3)):
            name = _unquote_ident(name)
            if kind.startswith("TABLE"):  # DROP TABLES is a synonym
                if not m.group(2) and name.lower() not in run.tables:
                    # without IF EXISTS, MySQL errors on a missing
                    # table (drop_restric.test's second DROP)
                    raise ValueError(
                        f"Unknown table '{name}' "
                        f"(MySQL error 1051 analog)")
                run.sql(f"DROP TABLE IF EXISTS `{name}`")
                run.tables.pop(name.lower(), None)
                prior = run.shadowed.pop(name.lower(), None)
                if prior is not None:  # the permanent table is back
                    run.spark.sql(
                        f"ALTER TABLE `{_parked_name(prior.name)}` "
                        f"RENAME TO `{_physname(prior.name)}`")
                    run.tables[name.lower()] = prior
            else:
                run.sql(f"DROP VIEW IF EXISTS `{name}`")
        return None
    mc = _split_create_select(s)
    if mc:  # CREATE TABLE t (coldefs) [options] SELECT … (ctas1.test)
        create_part, select_part = mc
        tdd = parse_create_table(create_part)
        sel_names = _select_out_names(select_part, run.tables)
        inner = rewrite_expr(select_part, "spark")
        proj = _merged_ctas_projection(tdd, sel_names, "spark")
        name = tdd.name
        _park_shadowed(run, name, tdd.temporary)
        run.sql(f"DROP TABLE IF EXISTS `{name}`")
        run.incarnation += 1
        loc = f"{run.workdir}/{name}_{run.incarnation}"
        run.sql(
            f"CREATE TABLE `{name}` USING PARQUET LOCATION '{loc}' AS "
            f"SELECT {proj} FROM ({inner}) AS _cs"
        )
        cols = [
            ColumnDef(f.name, f.dataType.simpleString().upper(),
                      _duck_type_from_spark(f.dataType), None)
            for f in run.spark.table(f"`{_physname(name)}`").schema.fields
        ]
        run.tables[name.lower()] = TableDef(name, cols, temporary=tdd.temporary)
        return None
    cm = re.match(
        r"^\s*CREATE\s+(?:TEMPORARY\s+)?TABLE\s+(`[^`]+`|\w+)\s+"
        r"(?:AS\s+)?(\(?\s*SELECT\b.*)$",
        s,
        re.I | re.S,
    )
    if cm:  # CTAS — MySQL allows both `AS SELECT` and bare `SELECT`
        name = _unquote_ident(cm.group(1))
        sel = rewrite_expr(cm.group(2), "spark")
        temporary = _creates_temporary(s)
        _park_shadowed(run, name, temporary)
        run.sql(f"DROP TABLE IF EXISTS `{name}`")
        run.incarnation += 1
        loc = f"{run.workdir}/{name}_{run.incarnation}"
        run.sql(
            f"CREATE TABLE `{name}` USING PARQUET LOCATION '{loc}' AS {sel}"
        )
        cols = [
            ColumnDef(f.name, f.dataType.simpleString().upper(),
                      _duck_type_from_spark(f.dataType), None)
            for f in run.spark.table(f"`{_physname(name)}`").schema.fields
        ]
        run.tables[name.lower()] = TableDef(name, cols, temporary=temporary)
        return None
    lm = re.match(
        r"^\s*CREATE\s+(?:TEMPORARY\s+)?TABLE\s+(`[^`]+`|\w+)\s+LIKE\s+"
        r"(`[^`]+`|\w+)\s*$",
        s,
        re.I,
    )
    if lm:  # CREATE TABLE x LIKE y: clone schema, start empty
        name = _unquote_ident(lm.group(1))
        src = run.tables[_unquote_ident(lm.group(2)).lower()]
        td = TableDef(name, list(src.columns), list(src.pk),
                      temporary=_creates_temporary(s))
        _park_shadowed(run, name, td.temporary)
        run.tables[name.lower()] = td
        coldefs = ", ".join(f"`{c.name}` {c.spark_type}" for c in td.columns)
        run.sql(f"DROP TABLE IF EXISTS `{name}`")
        run.incarnation += 1
        loc = f"{run.workdir}/{name}_{run.incarnation}"
        os.makedirs(loc, exist_ok=True)
        run.sql(
            f"CREATE TABLE `{name}` ({coldefs}) USING PARQUET "
            f"LOCATION '{loc}'"
        )
        return None
    tm = re.match(
        r"^\s*TRUNCATE\s+(?:TABLE\s+)?(?:(\w+)\.)?(`[^`]+`|\w+)\s*$", s, re.I
    )
    if tm:
        tname = _unquote_ident(tm.group(2))
        if tname.lower() not in run.tables:
            raise ValueError(
                f"Table '{tname}' doesn't exist (MySQL error 1146 analog)"
            )
        tbl = run.spark.table(f"`{_physname(tname)}`")
        materialize(tbl.limit(0), eager=True).write.insertInto(
            f"`{tname}`", overwrite=True
        )
        run.tables[tname.lower()].next_auto = 1  # TRUNCATE resets it
        run.tables[tname.lower()].seen_pk = set()
        return None
    if re.match(r"^\s*TRUNCATE\b", s, re.I):
        raise ValueError(f"unsupported TRUNCATE syntax: {s[:80]}")
    if re.match(r"^\s*CREATE\s+(TEMPORARY\s+)?TABLE\b.*\(", s, re.I | re.S):
        td = parse_create_table(s)
        prior = run.tables.get(td.name.lower())
        if prior is not None:
            if re.search(r"\bIF\s+NOT\s+EXISTS\b", s, re.I):
                return None  # keep the existing table untouched
            if not (td.temporary and not prior.temporary):
                # same-kind name collision; TEMPORARY may shadow a
                # permanent table (temporary.test / create_table.test)
                raise ValueError(
                    f"Table '{td.name}' already exists "
                    f"(MySQL error 1050 analog)"
                )
            _park_shadowed(run, td.name, td.temporary)
        run.tables[td.name.lower()] = td
        coldefs = ", ".join(f"`{c.name}` {c.spark_type}" for c in td.columns)
        run.sql(f"DROP TABLE IF EXISTS `{td.name}`")
        run.incarnation += 1
        loc = f"{run.workdir}/{td.name}_{run.incarnation}"
        os.makedirs(loc, exist_ok=True)
        run.sql(
            f"CREATE TABLE `{td.name}` ({coldefs}) USING PARQUET "
            f"LOCATION '{loc}'"
        )
        return None
    if re.match(
        r"^\s*CREATE\s+(ALGORITHM\s*=\s*\w+\s+)?(OR\s+REPLACE\s+)?VIEW\b",
        s, re.I,
    ):
        m = re.match(
            r"^\s*CREATE\s+(?:ALGORITHM\s*=\s*\w+\s+)?"
            r"(?:OR\s+REPLACE\s+)?VIEW\s+(`[^`]+`|\w+)\s+AS\s+(.*)$",
            s,
            re.I | re.S,
        )
        body = rewrite_expr(m.group(2), "spark")
        vname = _unquote_ident(m.group(1))
        run.viewdefs[vname.lower()] = m.group(2)
        run.sql(
            f"CREATE OR REPLACE TEMPORARY VIEW `{vname}` AS {body}"
        )
        return None
    if re.match(r"^\s*PREPARE\b", s, re.I):
        # only --error PREPAREs reach here (others splice at split
        # time): MySQL validates at prepare — raise its analog
        pm = re.match(
            r"^\s*PREPARE\s+\w+\s+FROM\s+(['\"])(.*)\1\s*$",
            s, re.I | re.S,
        )
        body = _normalize_insert_set(
            pm.group(2).replace(pm.group(1) * 2, pm.group(1))
        )
        _check_insert_shape(body)
        return None
    if re.match(r"^\s*(INSERT|REPLACE)\b", s, re.I):
        _check_insert_shape(s)
        tm = re.match(
            r"^\s*(?:INSERT|REPLACE)\s+(?:IGNORE\s+)?(?:INTO\s+)?"
            r"(`[^`]+`|\w+)", s, re.I,
        )
        tname = _unquote_ident(tm.group(1)).lower()
        if tname not in run.tables and tname in run.viewdefs:
            clm = re.match(
                r"^\s*(?:INSERT|REPLACE)\s+(?:IGNORE\s+)?(?:INTO\s+)?"
                r"(?:`[^`]+`|\w+)\s*\(([^()]*)\)", s, re.I,
            )
            _vcols = (
                [_unquote_ident(c) for c in
                 _split_top_commas(clm.group(1))] if clm else None
            )
            if _vcols is not None:
                _vcols += _dup_clause_idents(s)
            base = _view_insert_target(
                tname, run.viewdefs, run.tables, _vcols
            )  # may 1393
            s = s[: tm.start(1)] + f"`{base}`" + s[tm.end(1):]
    if re.match(r"^\s*REPLACE\s+(INTO\b|`|\w)", s, re.I):
        # REPLACE [INTO] t …: delete PK-colliding rows, then insert
        # (MySQL delete+insert semantics — replace.test)
        rsm = re.match(
            r"^\s*REPLACE\s+(?:INTO\s+)?(`[^`]+`|\w+)\s*"
            r"(?:\(([^()]*)\)\s*)?(SELECT\b.*)$",
            s, re.I | re.S,
        )
        if rsm:  # REPLACE INTO t [(cols)] SELECT … (replace_into.test)
            td = run.tables[_unquote_ident(rsm.group(1)).lower()]
            td.seen_pk = None
            fed = run.sql(rewrite_expr(rsm.group(3), "spark"))
            listed = (
                [_unquote_ident(c).lower()
                 for c in _split_top_commas(rsm.group(2))]
                if rsm.group(2) else
                [c.name.lower() for c in td.columns]
            )
            fed = fed.toDF(*listed)
            proj = []
            for c in td.columns:
                if c.name.lower() in listed:
                    proj.append(
                        F.col(f"`{c.name.lower()}`").cast(c.spark_type)
                        .alias(c.name)
                    )
                else:
                    dv = (
                        rewrite_expr(c.default, "spark")
                        if c.default is not None else "NULL"
                    )
                    proj.append(
                        F.expr(dv).cast(c.spark_type).alias(c.name)
                    )
            new_df = fed.select(*proj)
            tbl = run.spark.table(f"`{_physname(td.name)}`")
            if td.pk:
                survivors = tbl.join(
                    new_df.select(*td.pk).distinct(), on=td.pk,
                    how="left_anti",
                ).select(*[F.col(f"`{c.name}`") for c in td.columns])
            else:
                survivors = tbl
            staged = materialize(survivors.unionByName(new_df), eager=True)
            staged.write.insertInto(f"`{td.name}`", overwrite=True)
            return None
        ins = re.sub(r"^\s*REPLACE\s+(INTO\s+)?", "INSERT INTO ", s, flags=re.I)
        td, rows = _parse_insert_values(run.tables, ins, run.strict)
        td.seen_pk = None  # REPLACE overwrites; stop 1062 tracking
        new_df = run.sql(_values_select(td, rows, "spark"))
        tbl = run.spark.table(f"`{_physname(td.name)}`")
        if td.pk:
            survivors = tbl.join(
                new_df.select(*td.pk).distinct(), on=td.pk, how="left_anti"
            ).select(*[F.col(f"`{c.name}`") for c in td.columns])
        else:
            survivors = tbl
        staged = materialize(survivors.unionByName(new_df), eager=True)
        staged.write.insertInto(f"`{td.name}`", overwrite=True)
        return None
    if re.match(r"^\s*INSERT\b", s, re.I):
        base, dup = _split_on_duplicate(s)
        if dup is not None:
            im0 = re.match(
                r"^\s*INSERT\s+(?:IGNORE\s+)?(?:INTO\s+)?(`[^`]+`|\w+)",
                base, re.I,
            )
            if not run.tables[_unquote_ident(im0.group(1)).lower()].pk:
                # no key on the target: MySQL runs the plain INSERT and
                # the ON DUPLICATE clause never fires (insert.test)
                s, dup = base, None
        if dup is not None:
            td, rows = _parse_insert_values(run.tables, base, run.strict)
            td.seen_pk = None  # upsert may overwrite: stop 1062 tracking
            set_exprs = {
                k: _recode_string_literals(
                    _translate_upsert_rhs(v, td), "spark"
                )
                for k, v in _parse_assignments(dup).items()
            }
            inc_ref = "(" + _values_select(td, rows, "spark") + ")"
            sel = _upsert_select(
                td, set_exprs, f"`{td.name}`", inc_ref, "spark"
            )
            staged = materialize(run.sql(sel), eager=True)
            staged.write.insertInto(f"`{td.name}`", overwrite=True)
            return None
        if re.search(r"\bVALUES?\s*\(", s, re.I) or re.search(
            r"\bVALUES?\s*\(\s*\)", s, re.I
        ):
            ign = bool(re.match(r"^\s*INSERT\s+IGNORE\b", s, re.I))
            td, rows = _parse_insert_values(
                run.tables, s, run.strict and not ign, insert_ignore=ign
            )
            rows = _check_pk_duplicates(td, rows, drop=ign)
            if not rows:
                return None  # every row was an ignored duplicate
            # CAST every value to its column type: MySQL inserts coerce
            # string literals into numeric/temporal columns; Spark ANSI
            # store-assignment needs the cast spelled out.
            castfn = "CAST" if run.strict else "TRY_CAST"
            cast_rows = [
                "("
                + ", ".join(
                    f"{castfn}(({rewrite_expr(v, 'spark')}) "
                    f"AS {c.spark_type})"
                    for v, c in zip(row, td.columns)
                )
                + ")"
                for row in rows
            ]
            if any(
                re.search(r"(?i)\bSELECT\b", _ANY_STRLIT.sub("''", r))
                for r in cast_rows
            ):
                # Spark rejects scalar subqueries inside VALUES
                # (issue581's trigger-substituted tuples) — render the
                # same rows as a UNION ALL of one-row SELECTs
                run.sql(
                    f"INSERT INTO `{td.name}` "
                    + " UNION ALL ".join(
                        "SELECT " + r[1:-1] for r in cast_rows
                    )
                )
            else:
                run.sql(
                    f"INSERT INTO `{td.name}` VALUES "
                    + ",\n".join(cast_rows)
                )
            run.last_rowcount = len(rows)
        else:  # INSERT [INTO] t SELECT ...
            s = re.sub(
                r"^\s*INSERT\s+(?!INTO\b)", "INSERT INTO ", s, flags=re.I
            )
            im = re.match(r"\s*INSERT\s+INTO\s+(`[^`]+`|\w+)", s, re.I)
            itd = run.tables.get(_unquote_ident(im.group(1)).lower())
            if itd is not None:
                itd.seen_pk = None  # non-literal rows: stop tracking
            run.sql(rewrite_expr(s, "spark"))
        return None
    if re.match(r"^\s*DELETE\s+FROM\b", s, re.I):
        m = _DELETE_STMT.match(s)
        if not m:
            raise ValueError(f"unsupported DELETE syntax: {s[:90]}")
        tname = _unquote_ident(m.group(1))
        td = run.tables[tname.lower()]
        td.seen_pk = None  # deletions invalidate the tracked PK view
        cond = rewrite_expr(m.group(2), "spark") if m.group(2) else None
        order = rewrite_expr(m.group(3), "spark") if m.group(3) else None
        n = int(m.group(4)) if m.group(4) else None
        if cond is None and n is None:
            keep = run.spark.table(f"`{_physname(tname)}`").limit(0)
        else:
            keep = run.sql(
                _delete_keep_sql(f"`{tname}`", td, cond, order, n, "spark")
            )
        staged = materialize(keep, eager=True)
        staged.write.insertInto(f"`{tname}`", overwrite=True)
        return None
    if re.match(r"^\s*DELETE\b", s, re.I) and not re.match(
        r"^\s*DELETE\s+FROM\b", s, re.I
    ):
        mm = _MULTI_DELETE.match(s)
        if not mm:
            raise ValueError(f"unsupported DELETE syntax: {s[:90]}")
        targets = [
            _unquote_ident(re.sub(r"\.\*\s*$", "", x.strip()))
            for x in _split_top_commas(mm.group(1))
        ]
        joinfrom = rewrite_expr(mm.group(2), "spark")
        where = rewrite_expr(mm.group(3), "spark") if mm.group(3) else None
        keeps = []
        for tn in targets:  # snapshot semantics: read all, then write
            td = run.tables[tn.lower()]
            td.seen_pk = None
            keeps.append((
                td.name,
                materialize(run.sql(_multi_delete_keep_sql(
                    td, td.name, f"`{td.name}`", joinfrom, where, "spark"
                )), eager=True),
            ))
        for tn, df in keeps:
            df.write.insertInto(f"`{tn}`", overwrite=True)
        return None
    if re.match(r"^\s*UPDATE\s+(`[^`]+`|\w+)\s+SET\b", s, re.I):
        m = _match_update(s)
        if not m:
            raise ValueError(f"unsupported UPDATE syntax: {s[:90]}")
        tname = _unquote_ident(m.group(1))
        tbl = run.spark.table(f"`{_physname(tname)}`")
        cond = (
            F.coalesce(
                F.expr(rewrite_expr(
                    _truthy_condition_text(m.group(3)), "spark"
                )),
                F.lit(False),
            )
            if m.group(3)
            else F.lit(True)
        )
        assigns = {}
        for part in _split_top_commas(m.group(2)):
            am = re.match(r"\s*(`[^`]+`|\w+)\s*=\s*(.*)$", part, re.S)
            assigns[_unquote_ident(am.group(1))] = rewrite_expr(
                am.group(2), "spark"
            )
        td = run.tables[tname.lower()]
        td.seen_pk = None  # updates may rewrite PK values
        canon = {c.name.lower(): c.name for c in td.columns}
        for k in list(assigns):
            if k.lower() not in canon:
                raise ValueError(
                    f"Unknown column '{k}' in UPDATE of {tname} "
                    f"(MySQL error 1054 analog)"
                )
            if canon[k.lower()] != k:  # case-insensitive match
                assigns[canon[k.lower()]] = assigns.pop(k)
        for c in td.columns:
            if c.name not in assigns:
                continue
            # literal SET values get the strict range check too
            # (unsigned_type.test UPDATEs expect the 1264 analog)
            if c.mysql_type in _STRICT_INT_RANGES:
                assigns[c.name] = _coerce_int_literal(
                    assigns[c.name], c, td.engine, run.strict
                )
            if c.autoinc:  # UPDATE to a literal above the counter
                lm2 = re.fullmatch(r"\s*(\d+)\s*", assigns[c.name])
                if lm2:  # bumps it (tianmu)
                    td.next_auto = max(td.next_auto, int(lm2.group(1)) + 1)
        checks = []
        for c in td.columns:
            if not run.strict:
                break
            # non-literal SET expressions need a runtime range check —
            # MySQL strict aborts when any updated row leaves the
            # domain (unsigned_greatest.test: SET CUTINYINT=CTINYINT-1)
            if (
                c.name in assigns
                and c.mysql_type in _STRICT_INT_RANGES
                and not re.fullmatch(r"\s*[+-]?\d+\s*", assigns[c.name])
                and assigns[c.name].strip().upper() != "NULL"
            ):
                if td.engine == "tianmu":
                    rng = (
                        _STRICT_UINT_RANGES if c.unsigned
                        else _STRICT_INT_RANGES
                    )
                else:
                    rng = _STD_UINT_RANGES if c.unsigned else _STD_INT_RANGES
                lo, hi = rng[c.mysql_type]
                x = F.expr(assigns[c.name]).cast("decimal(38,0)")
                lod = F.lit(decimal.Decimal(lo)).cast("decimal(38,0)")
                hid = F.lit(decimal.Decimal(hi)).cast("decimal(38,0)")
                checks.append(
                    F.sum(
                        F.when(cond & ((x < lod) | (x > hid)), 1)
                        .otherwise(0)
                    ).alias(c.name)
                )
        if checks:
            bad = tbl.agg(*checks).collect()[0]
            for cname in bad.asDict():
                if bad[cname]:
                    raise ValueError(
                        f"Out of range value for column '{cname}' in "
                        f"UPDATE (MySQL error 1264 analog)"
                    )
        if m.group(5):  # UPDATE ... LIMIT n
            order = rewrite_expr(m.group(4), "spark") if m.group(4) else None
            sel = _update_limit_sql(
                f"`{tname}`", td, assigns,
                rewrite_expr(m.group(3), "spark") if m.group(3) else None,
                order, int(m.group(5)), "spark",
            )
            staged = materialize(run.sql(sel), eager=True)
            staged.write.insertInto(f"`{tname}`", overwrite=True)
            return None
        # PK-rewriting UPDATEs enforce uniqueness (issue1616):
        #   * UPDATE IGNORE, single-column PK: tianmu skips a row whose
        #     new key equals another row's ORIGINAL key (r/issue1616:
        #     {3,4} id=id+1 -> {3,5}); emulated with a left join
        #     against the pre-state keys — no driver-side state.
        #   * UPDATE IGNORE, composite PK: tianmu applies the whole
        #     statement and only final-state duplicates would matter
        #     (same file: T3 {3,4} -> {4,5}) — no narrowing.
        #   * plain UPDATE: any post-state duplicate aborts the whole
        #     statement with the 1062 analog (table unchanged).
        pk_assigned = bool(td.pk) and any(p in assigns for p in td.pk)
        if pk_assigned and upd_ignore and len(td.pk) == 1:
            p = td.pk[0]
            newv = (
                F.when(cond, F.expr(assigns[p]))
                .otherwise(F.col(f"`{p}`"))
                .cast(tbl.schema[p].dataType)
            )
            ex = tbl.select(F.col(f"`{p}`").alias("__stonedb_expk"))
            t2 = tbl.withColumn("__stonedb_newpk", newv)
            t2 = t2.join(
                F.broadcast(ex),
                (t2["__stonedb_newpk"] == ex["__stonedb_expk"])
                & (t2[p] != ex["__stonedb_expk"]),
                "left",
            )
            cond = cond & F.col("__stonedb_expk").isNull()
            tbl = t2
        proj = [
            F.when(cond, F.expr(assigns[c.name]))
            .otherwise(F.col(f"`{c.name}`"))
            .cast(tbl.schema[c.name].dataType)
            .alias(c.name)
            if c.name in assigns
            else F.col(f"`{c.name}`")
            for c in td.columns
        ]
        staged = materialize(tbl.select(*proj), eager=True)
        if pk_assigned and not upd_ignore:
            dup = (
                staged.groupBy(*[F.col(f"`{p}`") for p in td.pk])
                .count().where(F.col("count") > 1).limit(1).collect()
            )
            if dup:
                entry = "-".join(str(dup[0][i]) for i in range(len(td.pk)))
                raise ValueError(
                    f"Duplicate entry '{entry}' for key 'PRIMARY' "
                    f"(MySQL error 1062 analog)"
                )
        staged.write.insertInto(f"`{tname}`", overwrite=True)
        return None
    if re.match(r"^\s*UPDATE\b", s, re.I):  # UPDATE ... JOIN ... SET
        m = _MULTI_UPDATE.match(s)
        if not m:
            raise ValueError(f"unsupported UPDATE syntax: {s[:90]}")
        raw_join = m.group(1)
        joinfrom = rewrite_expr(raw_join, "spark")
        where = rewrite_expr(m.group(3), "spark") if m.group(3) else None
        jtables = [
            w for w in re.findall(r"`[^`]+`|\w+", raw_join)
            if _unquote_ident(w).lower() in run.tables
        ]
        by_tbl: dict[str, dict[str, str]] = {}
        for part in _split_top_commas(m.group(2)):
            am = re.match(
                r"\s*(?:(`[^`]+`|\w+)\.)?(`[^`]+`|\w+)\s*=\s*(.*)$",
                part, re.S,
            )
            coln = _unquote_ident(am.group(2))
            if am.group(1):
                tn = _unquote_ident(am.group(1)).lower()
            else:  # unqualified: the join table owning the column
                owners = [
                    _unquote_ident(j).lower() for j in jtables
                    if any(
                        c.name.lower() == coln.lower()
                        for c in run.tables[_unquote_ident(j).lower()].columns
                    )
                ]
                tn = owners[0]
            canon = {
                c.name.lower(): c.name for c in run.tables[tn].columns
            }
            by_tbl.setdefault(tn, {})[canon[coln.lower()]] = rewrite_expr(
                am.group(3), "spark"
            )
        staged_writes = []
        for tn, assigns in by_tbl.items():
            td = run.tables[tn]
            td.seen_pk = None
            staged_writes.append((
                td.name,
                materialize(run.sql(_multi_update_sql(
                    td, td.name, f"`{td.name}`", joinfrom, where,
                    assigns, "spark",
                )), eager=True),
            ))
        for tn, df in staged_writes:
            df.write.insertInto(f"`{tn}`", overwrite=True)
        return None
    rm = re.match(
        r"^\s*ALTER\s+TABLE\s+(`[^`]+`|\w+)\s+RENAME\s+"
        r"(?:TO\s+|AS\s+)?(`[^`]+`|\w+)\s*$",
        s, re.I,
    )
    if rm:
        old = _unquote_ident(rm.group(1))
        new = _unquote_ident(rm.group(2))
        run.sql(f"ALTER TABLE `{old}` RENAME TO `{new}`")
        td = run.tables.pop(old.lower())
        td.name = new
        run.tables[new.lower()] = td
        return None
    if re.match(r"^\s*ALTER\s+TABLE\b", s, re.I):
        m = re.match(r"^\s*ALTER\s+TABLE\s+(`[^`]+`|\w+)\s+(.*)$", s, re.I | re.S)
        tname = _unquote_ident(m.group(1))
        td = run.tables[tname.lower()]
        um = re.match(
            r"^\s*ADD\s+UNIQUE\s+(?:INDEX|KEY)?\s*(?:`[^`]+`|\w+)?\s*"
            r"\((.*)\)\s*$", m.group(2), re.I | re.S,
        )
        if um and td.engine != "tianmu":
            # building a UNIQUE index validates existing data: MySQL
            # raises ER_DUP_ENTRY when rows collide (create_index.test
            # over a BINARY(5) prefix index on an innodb table)
            keys = ", ".join(
                f"SUBSTRING(`{_unquote_ident(km.group(1))}`, 1, "
                f"{km.group(2)})" if (km := re.match(
                    r"\s*(`[^`]+`|\w+)\s*\((\d+)\)\s*", kc))
                else f"`{_unquote_ident(kc)}`"
                for kc in _split_top_commas(um.group(1))
            )
            dup = run.sql(
                f"SELECT COUNT(*) - COUNT(DISTINCT {keys}) "
                f"FROM `{tname}`"
            ).collect()[0][0]
            if dup:
                raise ValueError(
                    f"Duplicate entry for key '{tname}' while building "
                    f"a UNIQUE index (MySQL error 1062 analog)"
                )
        newtd, mapping = _alter_tabledef(td, _split_top_commas(m.group(2)))
        tbl = run.spark.table(f"`{_physname(tname)}`")
        proj = []
        # (violating-row count, MySQL error) per check; one aggregate
        # validates the existing rows before the rewrite
        checks: list[tuple[Column, str]] = []
        oldtypes = {c.name: c for c in td.columns}
        srcs = {c.name.lower(): src for c, src in mapping}
        pk_srcs = [srcs.get(k.lower()) for k in newtd.pk]
        if ([k.lower() for k in newtd.pk] != [k.lower() for k in td.pk]
                and pk_srcs and None not in pk_srcs):
            # a new PRIMARY KEY validates the existing rows: a NULL key
            # part is 1138 in strict mode, a repeated key is 1062
            keyed = F.expr(" AND ".join(
                f"`{k}` IS NOT NULL" for k in pk_srcs))
            if run.strict:
                checks.append((
                    F.sum(F.when(keyed, 0).otherwise(1)),
                    "Invalid use of NULL value in the PRIMARY KEY "
                    "(MySQL error 1138 analog)",
                ))
            checks.append((
                F.sum(F.when(keyed, 1).otherwise(0))
                - F.countDistinct(*[F.col(f"`{k}`") for k in pk_srcs]),
                "Duplicate entry for key 'PRIMARY' during ALTER "
                "(MySQL error 1062 analog)",
            ))
        for c, src in mapping:
            if src is None:
                lit = c.default if c.default is not None else "NULL"
                proj.append(
                    F.expr(_recode_string_literals(lit, "spark"))
                    .cast(c.spark_type).alias(c.name)
                )
            else:
                proj.append(F.col(f"`{src}`").cast(c.spark_type).alias(c.name))
                oldc = oldtypes.get(src)
                if (run.strict and c.notnull and oldc is not None
                        and not oldc.notnull):
                    # NULL -> NOT NULL over rows holding NULL: strict
                    # mode refuses the conversion
                    checks.append((
                        F.sum(F.col(f"`{src}`").isNull().cast("int")),
                        f"Invalid use of NULL value: column '{c.name}' "
                        f"(MySQL error 1138 analog)",
                    ))
                if (
                    c.mysql_type in _STRICT_INT_RANGES
                    and oldc is not None
                    and (c.mysql_type, c.unsigned)
                    != (oldc.mysql_type, oldc.unsigned)
                ):
                    # MODIFY to a narrower/unsigned int type must
                    # validate existing data (bigint_unsigned.test:
                    # negative rows -> 1264 on MODIFY ... UNSIGNED)
                    if newtd.engine == "tianmu":
                        rng = (
                            _STRICT_UINT_RANGES if c.unsigned
                            else _STRICT_INT_RANGES
                        )
                    else:
                        rng = (
                            _STD_UINT_RANGES if c.unsigned
                            else _STD_INT_RANGES
                        )
                    lo, hi = rng[c.mysql_type]
                    x = F.col(f"`{src}`").cast("decimal(38,0)")
                    lod = F.lit(decimal.Decimal(lo)).cast("decimal(38,0)")
                    hid = F.lit(decimal.Decimal(hi)).cast("decimal(38,0)")
                    checks.append((
                        F.sum(F.when((x < lod) | (x > hid), 1).otherwise(0)),
                        f"Out of range value for column '{c.name}' during "
                        f"ALTER (MySQL error 1264 analog)",
                    ))
        if checks:
            bad = tbl.agg(*[n for n, _ in checks]).collect()[0]
            for n_bad, (_, err) in zip(bad, checks):
                if n_bad:
                    raise ValueError(err)
        staged = materialize(tbl.select(*proj), eager=True)
        tout = newtd.name  # may differ: RENAME action within the ALTER
        run.sql(f"DROP TABLE IF EXISTS `{tname}`")
        run.sql(f"DROP TABLE IF EXISTS `{tout}`")
        run.incarnation += 1
        loc = f"{run.workdir}/{tout}_{run.incarnation}"
        os.makedirs(loc, exist_ok=True)
        coldefs = ", ".join(f"`{c.name}` {c.spark_type}" for c in newtd.columns)
        run.sql(
            f"CREATE TABLE `{tout}` ({coldefs}) USING PARQUET "
            f"LOCATION '{loc}'"
        )
        staged.write.insertInto(f"`{tout}`")
        newtd.seen_pk = None
        run.tables.pop(tname.lower(), None)
        run.tables[tout.lower()] = newtd
        return None
    if re.match(r"^\s*\(?\s*SELECT\b", s, re.I):
        # MySQL caps a join at 61 tables (sql/sql_select.cc MAX_TABLES);
        # select_joins.test asserts ER_TOO_MANY_TABLES on the 62nd.
        # Spark has no such cap, so the dialect surface enforces the
        # analog: JOIN-keyword count + 1 bounds the relation count.
        njoin = len(re.findall(r"\bJOIN\b", s, re.I))
        if njoin + 1 > 61:
            raise ValueError(
                "Too many tables; MySQL can only use 61 tables in a "
                "join (MySQL error 1116 analog)"
            )
        if not run.full_group_by:
            s = _wrap_nongrouped_any_value(s)
        else:
            s = _wrap_nongrouped_any_value(s, equality_dependent_only=True)
        # ROW_COUNT() analog: the last INSERT's written-row count
        s = _sub_outside_strings(
            s, re.compile(r"\bROW_COUNT\s*\(\s*\)", re.I),
            lambda m: f"{run.last_rowcount} AS `row_count()`",
        )
        s = _guard_unsigned_arith(s, run.tables)
        return run.sql(
            rewrite_expr(_apply_zerofill(_apply_zerodate_isnull(
                _apply_temporal_numeric_cmp(
                    _apply_temporal_string_cmp(
                        _apply_tz_select_shift(
                            _apply_union_string_coercion(
                                _apply_string_numeric_cmp(
                                    _apply_bitwise_mysql(
                                        _apply_truthy_on(s, "spark"),
                                        run.tables, "spark"),
                                    run.tables, "spark"),
                                run.tables, "spark"),
                            run.tables, "spark"),
                        run.tables, "spark"),
                    run.tables, "spark"),
                run.tables, "spark"), run.tables, "spark"), "spark")
        )
    raise ValueError(f"unsupported statement: {s[:120]}")


def run_script(
    spark: SparkSession,
    script: str,
    designated: int = -1,
    out_names: list[str] | None = None,
    final_casts: dict[str, str] | None = None,
    show_designated: int | None = None,
    zerodate_render: dict[str, str] | None = None,
) -> DataFrame:
    """Execute a verbatim MTR script on Spark; return the
    ``designated``-th SELECT's result (default: last).  Every other
    SELECT is forced with count() so errors surface; DDL/DML execute
    in order.  The designated result is materialized so the script's
    own cleanup (DROP TABLE …) can't invalidate it.  When
    ``show_designated`` is set, the result is instead the Nth SHOW
    CREATE TABLE / DESCRIBE output (separately numbered)."""
    workdir = tempfile.mkdtemp(prefix="stonedb_mtr_")
    run = MTRRun(spark, workdir)
    _NUS_MODE[0] = False  # fresh session sql_mode
    _NZD_MODE[0] = True
    _TZ_OFFSET_MIN[0] = 0  # fresh session time_zone
    script = _fold_get_format(script)
    _STR_FMT_POOL[:] = _collect_std_formats(script)
    if re.search(r"(?i)STR_TO_DATE", script):
        _register_str_to_date_udf(spark)
    stmts = split_mtr(script)
    n_selects = sum(
        1
        for st in stmts
        if re.match(r"^\s*\(?\s*SELECT\b", st.text, re.I)
        and not st.expect_error
        and not _IGNORED.match(st.text)
        and not re.search(r"\bINTO\s+OUTFILE\b", st.text, re.I)
        and not _is_infoschema(st.text)
    )
    target = designated if designated >= 0 else n_selects + designated
    if show_designated is not None and show_designated < 0:
        n_shows = sum(
            1 for st in stmts
            if _SHOWDESC.match(st.text) and not st.expect_error
        )
        show_designated += n_shows
    result = None
    seen = shows_seen = 0
    try:
        for st in stmts:
            if st.expect_error:
                try:
                    out = run_statement(run, st.text)
                    if out is not None:
                        # collect(), not count(): count() prunes the
                        # projection, so a SELECT whose expression is
                        # the expected runtime error (unsigned_support
                        # _issue1267's overflow multiplies) would
                        # never evaluate it and "succeed"
                        out.collect()
                except Exception:
                    continue  # expected
                raise AssertionError(
                    f"statement expected to error but succeeded: {st.text[:90]}"
                )
            out = run_statement(run, st.text)
            if out is not None:
                if _SHOWDESC.match(st.text):
                    # SHOW CREATE / DESCRIBE outputs are numbered
                    # separately so adding them never shifts the
                    # SELECT designation of existing entries
                    if shows_seen == show_designated:
                        result = materialize(out, eager=True)
                    shows_seen += 1
                    continue
                if seen == target and show_designated is None:
                    result = materialize(out, eager=True)
                else:
                    out.count()
                seen += 1
        if result is None:
            raise ValueError("script has no designated SELECT")
        if out_names:
            result = result.toDF(*out_names)
        if final_casts:
            # comparison-harness canonicalization (like int_sum_cast):
            # the SAME cast is applied to the DuckDB oracle, so dtype
            # parity is checked at the canonical type — used where the
            # pandas bridges disagree on a type's rendering (DuckDB
            # df() renders DECIMAL as float64; Spark keeps Decimal)
            for cname, ctype in final_casts.items():
                canon = F.col(f"`{cname}`").cast(ctype)
                if ctype.upper() in ("DOUBLE", "FLOAT"):
                    # +0 folds IEEE -0.0 to +0.0 (engines disagree on
                    # the sign of ROUND(-2.13, -1)'s zero)
                    canon = (canon + F.lit(0)).cast(ctype)
                result = result.withColumn(cname, canon)
        if zerodate_render:
            # MySQL-faithful rendering of stored zero temporals:
            # '0000-00-00 [00:00:00]' instead of the 0001-01-01
            # sentinel (issue682 legs).  col -> 'date' | 'ts'.
            for cname, kind in zerodate_render.items():
                sent, zrep = (
                    (F.lit(_ZD_DATE).cast("date"), "0000-00-00")
                    if kind == "date"
                    else (F.lit(_ZD_TS).cast("timestamp"),
                          "0000-00-00 00:00:00")
                )
                col = F.col(f"`{cname}`")
                result = result.withColumn(
                    cname,
                    F.when(col == sent, F.lit(zrep))
                    .otherwise(col.cast("string")),
                )
        return result
    finally:
        for name, td_ in list(run.tables.items()):
            # physname of the ORIGINAL-cased name — run.tables keys are
            # lowercased, and _physname hashes case-sensitively, so a
            # mixed-case weird name would otherwise leak its table
            spark.sql(f"DROP TABLE IF EXISTS `{_physname(td_.name)}`")
        for td_ in run.shadowed.values():
            spark.sql(f"DROP TABLE IF EXISTS `{_parked_name(td_.name)}`")
        shutil.rmtree(workdir, ignore_errors=True)


# ---------------------------------------------------------------------------
# DuckDB oracle

_REL_KEYWORDS = {
    "WHERE", "ON", "GROUP", "ORDER", "LIMIT", "HAVING", "JOIN", "LEFT",
    "RIGHT", "INNER", "OUTER", "CROSS", "NATURAL", "UNION", "EXCEPT",
    "INTERSECT", "USING", "SET", "STRAIGHT_JOIN", "FOR", "WHEN", "THEN",
    "ELSE", "END", "AND", "OR", "NOT", "IN", "IS", "SELECT",
}


def _retarget_relations(sql: str, mapping: dict[str, tuple[str, str]]) -> str:
    """Replace table names in relation positions (FROM x / JOIN x /
    , x) per ``mapping`` {lower_name: (orig_name, replacement)};
    appends ``AS orig_name`` when the relation has no explicit alias."""
    # the optional '(' covers MySQL's parenthesized-join FROM clause
    # (issue880's ``from (t3 a join t1 b)``)
    pat = re.compile(
        r"(\b(?:FROM|JOIN)\s+\(*\s*|,\s*)(`[^`]+`|\"[^\"]+\"|\w+)", re.I
    )

    def rep(m: re.Match) -> str:
        name = _unquote_ident(m.group(2)).strip('"').lower()
        if name not in mapping:
            return m.group(0)
        after = sql[m.end():]
        if after.startswith("."):
            # qualified column ref (t2.user_id) in a SELECT list after
            # a comma — not a relation position
            return m.group(0)
        orig, repl = mapping[name]
        am = re.match(r"\s+(AS\s+)?(`[^`]+`|\"[^\"]+\"|\w+)", after, re.I)
        has_alias = False
        if am:
            tok = _unquote_ident(am.group(2)).strip('"').upper()
            has_alias = bool(am.group(1)) or tok not in _REL_KEYWORDS
        if has_alias:
            return m.group(1) + repl
        # quote the alias when the logical name isn't a plain ident
        # (issue222's $tt, issue362's non-ASCII name)
        qorig = orig if re.fullmatch(r"\w+", orig, re.A) else f'"{orig}"'
        return m.group(1) + f"{repl} AS {qorig}"

    return pat.sub(rep, sql)


_DERIVED = "?DERIVED"  # sentinel duck_type for CTAS select-derived columns


def _dc(v: str, c: ColumnDef, try_: bool = False) -> str:
    """CAST v to the column's duck type — or pass through uncast for
    CTAS select-derived columns (type unknown at oracle build time;
    DuckDB's set-op type unification against the CTAS v0 SELECT keeps
    the real type, issue226 / SCRIPT_CTAS parity)."""
    if c.duck_type == _DERIVED:
        return f"({v})"
    fn = "TRY_CAST" if try_ else "CAST"
    return f"{fn}(({v}) AS {c.duck_type})"


def _duck_values_cte(td: TableDef, rows: list[list[str]]) -> str:
    """Typed VALUES relation.  The casts sit INSIDE each tuple: DuckDB
    (and Spark) type-unify a VALUES column across rows BEFORE any
    outer projection, so mixed int/string literals in one column
    (`insert into t values (1,1000,1000),(4,2002,'a')`) would fault
    without per-value casts."""
    vnames = ", ".join(f"v{i}" for i in range(len(td.columns)))
    names = ", ".join(f'v{i} AS "{c.name}"' for i, c in enumerate(td.columns))
    if not rows:
        nulls = ", ".join(
            (f'NULL AS "{c.name}"' if c.duck_type == _DERIVED
             else f'CAST(NULL AS {c.duck_type}) AS "{c.name}"')
            for c in td.columns
        )
        return f"SELECT {nulls} WHERE FALSE"
    tuples = ", ".join(
        "("
        + ", ".join(
            # TRY_CAST: the oracle replays only non-error statements,
            # and MySQL's non-strict coercions clamp rather than error
            # (issue880's free-text-into-timestamp LOAD fields)
            _dc(v, c, try_=True)
            for v, c in zip(row, td.columns)
        )
        + ")"
        for row in rows
    )
    return f"SELECT {names} FROM (VALUES {tuples}) AS _v({vnames})"


def build_oracle_sql(
    script: str,
    designated: int = -1,
    out_names: list[str] | None = None,
    int_sum_cast: bool = False,
    final_casts: dict[str, str] | None = None,
    show_designated: int | None = None,
    zerodate_render: dict[str, str] | None = None,
) -> str:
    """Compile the MTR script into ONE DuckDB SELECT: replay every
    table's DDL/DML as a chain of CTE versions, bind each table's
    final version to its bare name, then append the translated
    designated SELECT.  ``int_sum_cast`` wraps SUM(…) in CAST(… AS
    BIGINT) — DuckDB's integral SUM returns HUGEINT (float64 in
    pandas) while Spark returns BIGINT."""
    _NUS_MODE[0] = False  # fresh session sql_mode
    _NZD_MODE[0] = True
    _TZ_OFFSET_MIN[0] = 0  # fresh session time_zone
    script = _fold_get_format(script)
    _STR_FMT_POOL[:] = _collect_std_formats(script)
    stmts = split_mtr(script)
    tables: dict[str, TableDef] = {}
    versions: dict[str, int] = {}
    incarn: dict[str, int] = {}  # DROP+re-CREATE gets fresh CTE names
    ctes: list[tuple[str, str]] = []
    pending_rows: dict[str, list[list[str]]] = {}
    # permanent tables hidden by a TEMPORARY one: key -> (TableDef,
    # the CTE of its last version)
    shadowed: dict[str, tuple[TableDef, str]] = {}

    def vname(t: str) -> str:
        return f"{_physname(t)}__c{incarn[t]}v{versions[t]}"

    def flush(t: str) -> None:
        """Materialize accumulated VALUES rows as the next version."""
        rows = pending_rows.pop(t, None)
        if rows is None:
            return
        td = tables[t]
        if versions[t] == 0 and not _has_version0(t):
            ctes.append((vname(t), _duck_values_cte(td, rows)))
        else:
            prev = vname(t)
            versions[t] += 1
            ctes.append(
                (
                    vname(t),
                    f"SELECT * FROM {prev} UNION ALL "
                    + _duck_values_cte(td, rows),
                )
            )

    def _has_version0(t: str) -> bool:
        return any(
            n == f"{_physname(t)}__c{incarn[t]}v0" for n, _ in ctes
        )

    def park(t: str, temporary: bool) -> None:
        """A TEMPORARY table hides the permanent table ``t``: keep the
        permanent one's last version for the DROP that brings it back."""
        if temporary and t in tables and not tables[t].temporary:
            flush(t)
            if versions[t] == 0 and not _has_version0(t):
                ctes.append((vname(t), _duck_values_cte(tables[t], [])))
            shadowed[t] = (tables[t], vname(t))

    def retarget(sql: str) -> str:
        """Point table references at their current CTE version —
        relation positions only (after FROM / JOIN / a relation comma),
        preserving explicit aliases and adding ``AS <name>`` otherwise
        so qualified column refs (t1.a) keep resolving.  Alias
        shadowing (``FROM t2 t1``) stays correct because only the
        relation name is swapped, never qualifiers."""
        for t in list(tables):
            if t in pending_rows:
                flush(t)
        for t, td in tables.items():
            if versions[t] == 0 and not _has_version0(t):
                ctes.append((vname(t), _duck_values_cte(td, [])))
        mapping = {t: (tables[t].name, vname(t)) for t in tables}
        # MySQL views are LIVE queries: re-emit a view CTE whenever a
        # referenced table gained versions since the last emit
        # (issue502-2 creates the view BEFORE inserting through it)
        for vkey in list(view_raw):
            if vkey not in views:
                continue  # dropped
            raw = view_raw[vkey]
            snap = tuple(
                (t, versions.get(t), incarn.get(t))
                for t in sorted(tables)
                if re.search(rf"(?i)(?<![\w.`])`?{re.escape(t)}`?(?![\w])",
                             raw)
            )
            if view_snap.get(vkey) == snap:
                continue
            view_inc[vkey] = view_inc.get(vkey, 0) + 1
            vn = views[vkey][0]
            cte_name = f"{vn}__view{view_inc[vkey]}"
            m2 = dict(mapping)
            m2.update({k: v for k, v in views.items() if k != vkey})
            ctes.append((cte_name, _retarget_relations(raw, m2)))
            views[vkey] = (vn, cte_name)
            view_snap[vkey] = snap
        mapping.update(views)  # re-created views point at their latest
        return _retarget_relations(sql, mapping)

    n_selects = sum(
        1
        for st in stmts
        if re.match(r"^\s*\(?\s*SELECT\b", st.text, re.I)
        and not st.expect_error
        and not _IGNORED.match(st.text)
        and not re.search(r"\bINTO\s+OUTFILE\b", st.text, re.I)
        and not _is_infoschema(st.text)
    )
    target = designated if designated >= 0 else n_selects + designated
    seen = 0
    final_sql = None
    shows_seen, show_final = 0, None
    show_target = show_designated
    if show_target is not None and show_target < 0:
        show_target += sum(
            1 for st in stmts
            if _SHOWDESC.match(st.text) and not st.expect_error
        )
    uservars: dict[str, str] = {}
    oraclefuncs: dict = {}
    oracle_dbs: set[str] = set()
    views: dict[str, tuple[str, str]] = {}
    viewbodies: dict[str, str] = {}  # view -> original MySQL body
    view_raw: dict[str, str] = {}  # view -> duck body, NOT retargeted
    view_snap: dict[str, tuple] = {}  # table versions at last emit
    outfile_snaps: dict[str, str] = {}  # INTO OUTFILE path -> frozen select
    view_inc: dict[str, int] = {}
    oraclestrict = True
    oracle_fullgb = True
    oracle_sysvars: dict = {}
    oracle_sqlmode = ("ONLY_FULL_GROUP_BY,STRICT_TRANS_TABLES,"
                      "NO_ZERO_IN_DATE,NO_ZERO_DATE,"
                      "ERROR_FOR_DIVISION_BY_ZERO,"
                      "NO_AUTO_CREATE_USER,NO_ENGINE_SUBSTITUTION")
    for st in stmts:
        if st.expect_error:
            continue
        raw = _strip_modifiers(st.text.strip())
        vm = _SET_USERVAR.match(raw)
        if vm and re.fullmatch(r"@@(session\.)?SQL_MODE",
                               vm.group(2).strip(), re.I):
            uservars[vm.group(1)] = _py_to_literal(
                _mode_text(oraclestrict, oracle_fullgb))
            continue
        if vm:
            rhs = _inline_funcs(
                _subst_uservars(vm.group(2).strip(), uservars), oraclefuncs
            )
            lit = _bind_literal_uservar(rhs)
            if lit is None:
                import duckdb as _duckdb

                expr = rewrite_expr(rhs, "duck")
                body = f"SELECT ({expr}) AS v"
                if re.search(r"(?i)\bSELECT\b", expr):
                    # data-dependent RHS (trigger side-effect folds,
                    # SELECT … INTO-style probes): evaluate against
                    # the version chain built SO FAR — the same
                    # pre-statement state the runner's live eval sees
                    body = f"SELECT ({retarget(expr)}) AS v"
                    if ctes:
                        body = (
                            "WITH "
                            + ", ".join(f"{n} AS ({q})" for n, q in ctes)
                            + " " + body
                        )
                val = _duckdb.connect().execute(body).fetchone()[0]
                lit = _py_to_literal(val)
            uservars[vm.group(1)] = lit
            continue
        s = _subst_uservars(raw, uservars)
        s = _normalize_insert_set(_normalize_create_index(
            _backtick_dollar_idents(_inline_funcs(s, oraclefuncs))))
        if re.match(r"^\s*(DELETE|UPDATE)\b", s, re.I):
            _check_nzd_dml(s, tables, oraclestrict)  # may 1292
            # mirror of the runner's DML WHERE normalization
            s = _normalize_dml_where(s, tables, "duck")
        upd_ignore = bool(re.match(r"^\s*UPDATE\s+IGNORE\b", s, re.I))
        s = re.sub(r"^(\s*UPDATE)\s+IGNORE\b", r"\1", s, flags=re.I)
        s = re.sub(
            r"(?is)^(\s*DROP\s+(?:TEMPORARY\s+)?TABLES?\b.*?)"
            r"\s+(RESTRICT|CASCADE)\s*$", r"\1", s)
        sm2 = re.match(
            r"^\s*SET\s+(?:SESSION\s+|GLOBAL\s+)?(?:@@(?:session\.|global\.)?)?sql_mode\s*=\s*(.+)$",
            s, re.I,
        )
        if sm2:
            val = sm2.group(1).strip().strip("'\"").upper()
            oraclestrict = "STRICT" in val or "TRADITIONAL" in val or val == "DEFAULT"
            oracle_fullgb = "ONLY_FULL_GROUP_BY" in val or val == "DEFAULT"
            _NUS_MODE[0] = "NO_UNSIGNED_SUBTRACTION" in val
            _NZD_MODE[0] = ("NO_ZERO_DATE" in val or "TRADITIONAL" in val
                            or val == "DEFAULT")
            if val != "DEFAULT":
                oracle_sqlmode = val
            continue
        ssv = _SET_SERVER_VAR_RX.match(s)
        if ssv:
            oracle_sysvars[ssv.group(1).lower()] = _canon_set_var(
                ssv.group(1), ssv.group(2)
            )
            continue
        tzm = _SET_TIMEZONE.match(s)
        if tzm:
            sign = -1 if tzm.group(1) == "-" else 1
            _TZ_OFFSET_MIN[0] = sign * (
                int(tzm.group(2)) * 60 + int(tzm.group(3))
            )
            continue
        fn = _parse_create_function(s)
        if fn is not None:
            oraclefuncs[fn[0]] = (fn[1], fn[2], fn[3])
            continue
        if re.match(r"^\s*DROP\s+FUNCTION\b", s, re.I):
            m = re.match(
                r"^\s*DROP\s+FUNCTION\s+(?:IF\s+EXISTS\s+)?(`[^`]+`|\w+)",
                s, re.I,
            )
            oraclefuncs.pop(_unquote_ident(m.group(1)), None)
            continue
        dbm = _CREATE_DB_STMT.match(s)
        if dbm:
            oracle_dbs.add(_unquote_ident(dbm.group(1)).lower())
            continue
        if re.match(r"^\s*DROP\s+DATABASE\b", s, re.I):
            # mirror of the runner: the db's tables go with it (only
            # that db's flattened ``db__*`` keys when the script is
            # multi-namespace); a later CREATE of the same name starts
            # a fresh incarnation
            dm0 = re.match(
                r"^\s*DROP\s+DATABASE\s+(?:IF\s+EXISTS\s+)?"
                r"(`[^`]+`|\w+)", s, re.I,
            )
            dbname = _unquote_ident(dm0.group(1)).lower() if dm0 else ""
            oracle_dbs.discard(dbname)
            flat = [k for k in tables if k.startswith(f"{dbname}__")]
            victims = flat if any("__" in k for k in tables) else \
                list(tables)
            for key in victims:
                pending_rows.pop(key, None)
                tables.pop(key)
                shadowed.pop(key, None)
            continue
        if not _SHOWDESC.match(s) and (
            _IGNORED.match(s) or re.match(r"^\s*DROP\s+VIEW\b", s, re.I)
        ):
            continue
        if re.match(r"^\s*DROP\s+(TEMPORARY\s+)?TABLES?\b", s, re.I):
            # forget the schema so a later CREATE IF NOT EXISTS really
            # re-creates (bit.test drops t1 dozens of times); version
            # CTEs already emitted stay valid
            dm_ = re.match(
                r"^\s*DROP\s+(?:TEMPORARY\s+)?TABLES?\s+"
                r"(?:IF\s+EXISTS\s+)?(.*)$", s, re.I | re.S,
            )
            for nm_ in _split_top_commas(dm_.group(1)):
                key = _unquote_ident(nm_).lower()
                tables.pop(key, None)
                if key in shadowed:  # the permanent table is back
                    pending_rows.pop(key, None)
                    tables[key], last = shadowed.pop(key)
                    versions[key] = 0
                    incarn[key] += 1
                    ctes.append((vname(key), f"SELECT * FROM {last}"))
            continue
        mc = _split_create_select(s)
        if mc:  # CREATE TABLE t (coldefs) [options] SELECT …
            create_part, select_part = mc
            tdd = parse_create_table(create_part)
            sel_names = _select_out_names(select_part, tables)
            sel = retarget(rewrite_expr(select_part, "duck"))
            proj = _merged_ctas_projection(tdd, sel_names, "duck")
            key = tdd.name.lower()
            park(key, tdd.temporary)
            # register the merged column list (declared cols keep their
            # types; select-derived extras read as text) so a later
            # INSERT INTO the CTAS table parses (issue226)
            merged_cols = list(tdd.columns)
            have = {c.name.lower() for c in merged_cols}
            for n in sel_names:
                if n.lower() not in have:
                    merged_cols.append(
                        ColumnDef(n, "STRING", _DERIVED, None))
            tables[key] = TableDef(tdd.name, merged_cols,
                                   temporary=tdd.temporary)
            versions[key] = 0
            incarn[key] = incarn.get(key, 0) + 1
            ctes.append(
                (vname(key), f"SELECT {proj} FROM ({sel}) AS _cs")
            )
            continue
        cm = re.match(
            r"^\s*CREATE\s+(?:TEMPORARY\s+)?TABLE\s+(`[^`]+`|\w+)\s+"
            r"(?:AS\s+)?(\(?\s*SELECT\b.*)$",
            s,
            re.I | re.S,
        )
        if cm:  # CTAS: the new table's v0 IS the translated select
            name = _unquote_ident(cm.group(1))
            key = name.lower()
            sel = retarget(rewrite_expr(cm.group(2), "duck"))
            # derive the column list from the SELECT so a later INSERT
            # into the CTAS table parses (issue226); select-derived
            # columns read as text
            try:
                ctas_cols = [
                    ColumnDef(n, "STRING", _DERIVED, None)
                    for n in _select_out_names(cm.group(2), tables)
                ]
            except (ValueError, KeyError):
                ctas_cols = []
            temporary = _creates_temporary(s)
            park(key, temporary)
            tables[key] = TableDef(name, ctas_cols, temporary=temporary)
            versions[key] = 0
            incarn[key] = incarn.get(key, 0) + 1
            ctes.append((vname(key), sel))
            continue
        if re.match(r"^\s*CREATE\s+(TEMPORARY\s+)?TABLE\b.*\(", s, re.I | re.S):
            td = parse_create_table(s)
            key = td.name.lower()
            if key in tables and re.search(
                r"\bIF\s+NOT\s+EXISTS\b", s, re.I
            ):
                continue  # keep the existing table untouched
            park(key, td.temporary)
            tables[key] = td
            versions[key] = 0
            incarn[key] = incarn.get(key, 0) + 1
            pending_rows[key] = []
            continue
        if re.match(
            r"^\s*CREATE\s+(ALGORITHM\s*=\s*\w+\s+)?"
            r"(OR\s+REPLACE\s+)?VIEW\b", s, re.I,
        ):
            m = re.match(
                r"^\s*CREATE\s+(?:ALGORITHM\s*=\s*\w+\s+)?"
                r"(?:OR\s+REPLACE\s+)?VIEW\s+(`[^`]+`|\w+)\s+AS\s+(.*)$",
                s,
                re.I | re.S,
            )
            raw = rewrite_expr(m.group(2), "duck")
            body = retarget(raw)
            vn = _unquote_ident(m.group(1))
            vkey = vn.lower()
            viewbodies[vkey] = m.group(2)
            view_raw[vkey] = raw
            view_inc[vkey] = view_inc.get(vkey, 0) + 1
            cte_name = f"{vn}__view{view_inc[vkey]}"
            ctes.append((cte_name, body))
            views[vkey] = (vn, cte_name)
            view_snap[vkey] = tuple(
                (t, versions.get(t), incarn.get(t))
                for t in sorted(tables)
                if re.search(rf"(?i)(?<![\w.`])`?{re.escape(t)}`?(?![\w])",
                             raw)
            )
            continue
        lm = re.match(
            r"^\s*CREATE\s+(?:TEMPORARY\s+)?TABLE\s+(`[^`]+`|\w+)\s+LIKE\s+"
            r"(`[^`]+`|\w+)\s*$",
            s,
            re.I,
        )
        if lm:
            name = _unquote_ident(lm.group(1))
            src = tables[_unquote_ident(lm.group(2)).lower()]
            key = name.lower()
            temporary = _creates_temporary(s)
            park(key, temporary)
            tables[key] = TableDef(name, list(src.columns), list(src.pk),
                                   temporary=temporary)
            versions[key] = 0
            incarn[key] = incarn.get(key, 0) + 1
            pending_rows[key] = []
            continue
        tm = re.match(
            r"^\s*TRUNCATE\s+(?:TABLE\s+)?(?:(\w+)\.)?(`[^`]+`|\w+)\s*$",
            s, re.I,
        )
        if tm:
            t = _unquote_ident(tm.group(2)).lower()
            tables[t].seen_pk = set()
            # rows never inserted can simply be dropped; otherwise chain
            # an empty version
            if pending_rows.get(t):
                pending_rows[t] = []
            if versions[t] > 0 or _has_version0(t):
                prev = vname(t)
                versions[t] += 1
                ctes.append((vname(t), f"SELECT * FROM {prev} WHERE FALSE"))
            continue
        stmt_strict = oraclestrict
        if (
            re.match(r"^\s*SELECT\b", s, re.I)
            and re.search(r"\bINTO\s+OUTFILE\b", s, re.I)
        ):
            # SELECT INTO OUTFILE on the oracle side: freeze the
            # version-retargeted select under the target path; a later
            # LOAD DATA of that path replays as INSERT..SELECT from
            # the frozen snapshot (the text round-trip is identity for
            # the corpus's numeric columns)
            ofm = _split_into_outfile(s)
            if ofm:
                bare, opath, _fmt = ofm
                outfile_snaps[opath] = retarget(rewrite_expr(bare, "duck"))
                continue
        if re.match(r"^\s*LOAD\s+DATA\b", s, re.I):
            lm = _LOAD_DATA.match(s)
            if lm and lm.group(1) in outfile_snaps:
                tn = _unquote_ident(lm.group(2))
                s = (
                    f"INSERT INTO `{tn}` SELECT * FROM "
                    f"({outfile_snaps[lm.group(1)]}) AS _of"
                )
            elif _load_is_big(s):
                # oversized fixture: the oracle reads the SAME file via
                # DuckDB's read_csv — independent of the Spark reader
                (path, table, sep, enc, esc, _ls, skip, cols,
                 set_exprs) = _parse_load_spec(s)
                btd = tables[table.lower()]
                btd.seen_pk = None
                ncsv = len(cols) if cols is not None else len(btd.columns)
                csvnames = ", ".join(f"'_lc{i}'" for i in range(ncsv))
                rel = (
                    f"read_csv('{path}', delim='{sep}', "
                    f"quote='{enc}', escape='{esc or chr(92)}', "
                    f"header=false, skip={skip}, all_varchar=true, "
                    f"null_padding=true, ignore_errors=true, "
                    f"names=[{csvnames}])"
                )
                exprs = _load_transform_exprs(
                    btd, cols, set_exprs,
                    # backticks survive rewrite_expr's duck pass (whose
                    # double-quote recode reads "x" as a string literal)
                    lambda i: f"`_lc{i}`", "duck",
                )
                sel = f"SELECT {', '.join(exprs)} FROM {rel}"
                # direct positional refs bypass rewrite_expr: finish
                # their backtick→double-quote conversion here
                sel = re.sub(r"`([^`]+)`", r'"\1"', sel)
                if btd.pk:
                    pkc = ", ".join(f'"{k}"' for k in btd.pk)
                    sel = (
                        f"SELECT DISTINCT ON({pkc}) * "
                        f"FROM ({sel}) AS _bigload"
                    )
                t = btd.name.lower()
                flush(t)
                prev = vname(t)
                if versions[t] == 0 and not _has_version0(t):
                    ctes.append((prev, _duck_values_cte(btd, [])))
                versions[t] += 1
                ctes.append((
                    vname(t),
                    f"SELECT * FROM {prev} UNION ALL "
                    f"SELECT * FROM ({sel}) AS _new",
                ))
                continue
            else:
                ltd = (
                    tables.get(_unquote_ident(lm.group(2)).lower())
                    if lm else None
                )
                s = _load_data_to_insert(s, ltd)
                if s is None:
                    continue  # zero-row load: no-op
                stmt_strict = False  # LOAD DATA clamps, never errors
        if re.match(r"^\s*REPLACE\s+(INTO\b|`|\w)", s, re.I):
            rsm = re.match(
                r"^\s*REPLACE\s+(?:INTO\s+)?(`[^`]+`|\w+)\s*"
                r"(?:\(([^()]*)\)\s*)?(SELECT\b.*)$",
                s, re.I | re.S,
            )
            if rsm:  # REPLACE INTO t [(cols)] SELECT …
                td = tables[_unquote_ident(rsm.group(1)).lower()]
                td.seen_pk = None
                listed = (
                    [_unquote_ident(c).lower()
                     for c in _split_top_commas(rsm.group(2))]
                    if rsm.group(2) else
                    [c.name.lower() for c in td.columns]
                )
                sel = retarget(rewrite_expr(rsm.group(3), "duck"))
                vnames_i = ", ".join(f"_i{i}" for i in range(len(listed)))
                parts_i = []
                for c in td.columns:
                    if c.name.lower() in listed:
                        i = listed.index(c.name.lower())
                        parts_i.append(
                            f'{_dc(f"_i{i}", c)} AS "{c.name}"'
                        )
                    else:
                        dv = (
                            rewrite_expr(c.default, "duck")
                            if c.default is not None else "NULL"
                        )
                        parts_i.append(
                            f'{_dc(dv, c)} AS "{c.name}"'
                        )
                inc = (
                    f"(SELECT {', '.join(parts_i)} FROM ({sel}) "
                    f"AS _ins({vnames_i})) AS _new"
                )
                t = td.name.lower()
                flush(t)
                prev = vname(t)
                if versions[t] == 0 and not _has_version0(t):
                    ctes.append((prev, _duck_values_cte(td, [])))
                versions[t] += 1
                if td.pk:
                    cond = " AND ".join(
                        f'_old."{c}" = _new."{c}"' for c in td.pk
                    )
                    body = (
                        f"SELECT * FROM {prev} AS _old WHERE NOT EXISTS "
                        f"(SELECT 1 FROM {inc} WHERE {cond}) "
                        f"UNION ALL SELECT * FROM {inc}"
                    )
                else:
                    body = (
                        f"SELECT * FROM {prev} "
                        f"UNION ALL SELECT * FROM {inc}"
                    )
                ctes.append((vname(t), body))
                continue
            ins = re.sub(
                r"^\s*REPLACE\s+(INTO\s+)?", "INSERT INTO ", s, flags=re.I
            )
            td, rows = _parse_insert_values(tables, ins, oraclestrict)
            td.seen_pk = None
            rows = [
                [rewrite_expr(v, "duck") for v in row]
                for row in rows
            ]
            t = td.name.lower()
            flush(t)
            prev = vname(t)
            if versions[t] == 0 and not _has_version0(t):
                ctes.append((prev, _duck_values_cte(td, [])))
            versions[t] += 1
            inc = "(" + _values_select(td, rows, "duck") + ") AS _new"
            if td.pk:
                # NOT EXISTS, not row-value NOT IN: DuckDB's binder
                # rejects (a,b) IN (SELECT a,b …) (issue1152.test's
                # composite-PK REPLACE)
                cond = " AND ".join(
                    f'_old."{c}" = _new."{c}"' for c in td.pk
                )
                body = (
                    f"SELECT * FROM {prev} AS _old WHERE NOT EXISTS "
                    f"(SELECT 1 FROM {inc} WHERE {cond}) "
                    f"UNION ALL SELECT * FROM {inc}"
                )
            else:
                body = f"SELECT * FROM {prev} UNION ALL SELECT * FROM {inc}"
            ctes.append((vname(t), body))
            continue
        if re.match(r"^\s*INSERT\b", s, re.I):
            m = re.match(r"^\s*INSERT\s+(?:IGNORE\s+)?(?:INTO\s+)?(`[^`]+`|\w+)", s, re.I)
            t = _unquote_ident(m.group(1)).lower()
            if t not in tables and t in viewbodies:
                # insert-through-view: route to the single base table
                clm = re.match(
                    r"^\s*INSERT\s+(?:IGNORE\s+)?(?:INTO\s+)?"
                    r"(?:`[^`]+`|\w+)\s*\(([^()]*)\)", s, re.I,
                )
                _vcols = (
                    [_unquote_ident(c) for c in
                     _split_top_commas(clm.group(1))] if clm else None
                )
                if _vcols is not None:
                    _vcols += _dup_clause_idents(s)
                t = _view_insert_target(t, viewbodies, tables, _vcols)
                s = s[: m.start(1)] + f"`{t}`" + s[m.end(1):]
            base, dup = _split_on_duplicate(s)
            if dup is not None and not tables[t].pk:
                s, dup = base, None  # keyless: ON DUPLICATE never fires
            if dup is not None:
                td = tables[t]
                td.seen_pk = None
                _td, rows = _parse_insert_values(tables, base, oraclestrict)
                set_exprs = {
                    k: _recode_string_literals(
                        _translate_upsert_rhs(v, td), "duck"
                    )
                    for k, v in _parse_assignments(dup).items()
                }
                flush(t)
                prev = vname(t)
                if versions[t] == 0 and not _has_version0(t):
                    ctes.append((prev, _duck_values_cte(td, [])))
                versions[t] += 1
                inc_ref = "(" + _values_select(td, rows, "duck") + ")"
                ctes.append(
                    (
                        vname(t),
                        _upsert_select(td, set_exprs, prev, inc_ref, "duck"),
                    )
                )
                continue
            if re.search(r"\bVALUES?\s*\(", s, re.I):
                ign = bool(re.match(r"^\s*INSERT\s+IGNORE\b", s, re.I))
                _td, rows = _parse_insert_values(
                    tables, s, stmt_strict and not ign, insert_ignore=ign
                )
                rows = _check_pk_duplicates(_td, rows, drop=ign)
                # a tuple holding a scalar subquery (issue581's
                # trigger-substituted values) binds to the referenced
                # tables' CURRENT versions.  Materialize BEFORE
                # touching pending_rows: retarget() flushes pending
                # tables, so building rows lazily inside the extend
                # would pop the very list being extended.
                new_rows = [
                    [
                        retarget(rewrite_expr(v, "duck"))
                        if re.search(r"(?i)\bSELECT\b",
                                     _ANY_STRLIT.sub("''", v))
                        else rewrite_expr(v, "duck")
                        for v in row
                    ]
                    for row in rows
                ]
                pending_rows.setdefault(t, []).extend(new_rows)
            else:
                tables[t].seen_pk = None
                rest = re.sub(
                    r"^\s*INSERT\s+(?:IGNORE\s+)?(?:INTO\s+)?(`[^`]+`|\w+)\s*", "", s,
                    flags=re.I,
                )
                td_ins = tables[t]
                listed = None
                clm = re.match(r"\(([^()]*)\)\s*(SELECT\b.*)$", rest, re.I | re.S)
                if clm:  # INSERT INTO t (cols) SELECT ...
                    listed = [
                        _unquote_ident(c).lower()
                        for c in _split_top_commas(clm.group(1))
                    ]
                    rest = clm.group(2)
                sel = retarget(rewrite_expr(rest, "duck"))
                prev = vname(t)
                versions[t] += 1
                # cast the fed rows to the column types (positional),
                # mirroring the Spark runner's insertInto store-
                # assignment casts — without this, UNION ALL would
                # type-unify the VERSION CHAIN to the select's types
                if listed is None:
                    vnames_i = ", ".join(
                        f"_i{i}" for i in range(len(td_ins.columns))
                    )
                    casted = ", ".join(
                        f'{_dc(f"_i{i}", c)} AS "{c.name}"'
                        for i, c in enumerate(td_ins.columns)
                    )
                else:  # unlisted columns take their DEFAULT (or NULL)
                    vnames_i = ", ".join(
                        f"_i{i}" for i in range(len(listed))
                    )
                    parts_i = []
                    for c in td_ins.columns:
                        if c.name.lower() in listed:
                            i = listed.index(c.name.lower())
                            parts_i.append(
                                f'{_dc(f"_i{i}", c)} AS "{c.name}"'
                            )
                        else:
                            dv = (
                                rewrite_expr(c.default, "duck")
                                if c.default is not None else "NULL"
                            )
                            parts_i.append(
                                f'{_dc(dv, c)} AS "{c.name}"'
                            )
                    casted = ", ".join(parts_i)
                ctes.append(
                    (
                        vname(t),
                        f"SELECT * FROM {prev} UNION ALL "
                        f"(SELECT {casted} FROM ({sel}) AS _ins({vnames_i}))",
                    )
                )
            continue
        if re.match(r"^\s*DELETE\s+FROM\b", s, re.I):
            m = _DELETE_STMT.match(s)
            if not m:
                raise ValueError(f"oracle: unsupported DELETE {s[:90]}")
            t = _unquote_ident(m.group(1)).lower()
            td = tables[t]
            td.seen_pk = None
            flush(t)
            prev = vname(t)
            cond = rewrite_expr(m.group(2), "duck") if m.group(2) else None
            if cond and re.search(r"(?i)\bSELECT\b", cond):
                # a subquery in the WHERE references OTHER tables
                # (issue669's correlated NOT IN): point them at their
                # current version CTEs — but NOT the deleted table
                # itself, whose correlation alias must keep reading
                # the row under test
                sub = {
                    k: v for k, v in tables.items() if k != t
                }
                for k in sub:
                    if k in pending_rows:
                        flush(k)
                    if versions[k] == 0 and not _has_version0(k):
                        ctes.append((vname(k), _duck_values_cte(sub[k], [])))
                cond = _retarget_relations(
                    cond, {k: (sub[k].name, vname(k)) for k in sub}
                )
            versions[t] += 1
            order = rewrite_expr(m.group(3), "duck") if m.group(3) else None
            n = int(m.group(4)) if m.group(4) else None
            if cond is None and n is None:
                body = f"SELECT * FROM {prev} WHERE FALSE"
            else:
                body = _delete_keep_sql(
                    prev, td, cond, order, n, "duck", alias=td.name
                )
            ctes.append((vname(t), body))
            continue
        if re.match(r"^\s*DELETE\b", s, re.I) and not re.match(
            r"^\s*DELETE\s+FROM\b", s, re.I
        ):
            mm = _MULTI_DELETE.match(s)
            if not mm:
                raise ValueError(f"oracle: unsupported DELETE {s[:90]}")
            targets = [
                _unquote_ident(re.sub(r"\.\*\s*$", "", x.strip()))
                for x in _split_top_commas(mm.group(1))
            ]
            # prefix FROM so the leading relation retargets too
            joinfrom = retarget(
                "FROM " + rewrite_expr(mm.group(2), "duck")
            )[len("FROM "):]
            where = (
                rewrite_expr(mm.group(3), "duck") if mm.group(3) else None
            )
            bodies = []
            for tn in targets:  # snapshot semantics: build all bodies
                t = tn.lower()   # against pre-statement versions
                td = tables[t]
                td.seen_pk = None
                bodies.append((t, _multi_delete_keep_sql(
                    td, td.name, vname(t), joinfrom, where, "duck"
                )))
            for t, body in bodies:
                versions[t] += 1
                ctes.append((vname(t), body))
            continue
        if re.match(r"^\s*UPDATE\s+(`[^`]+`|\w+)\s+SET\b", s, re.I):
            m = _match_update(s)
            if not m:
                raise ValueError(f"oracle: unsupported UPDATE {s[:90]}")
            t = _unquote_ident(m.group(1)).lower()
            td = tables[t]
            td.seen_pk = None
            flush(t)
            prev = vname(t)
            versions[t] += 1
            def _rt_sub(e: str) -> str:
                # a scalar subquery in SET/WHERE binds to the
                # referenced tables' CURRENT versions (issue581's
                # trigger fold)
                return (
                    retarget(e)
                    if re.search(r"(?i)\bSELECT\b",
                                 _ANY_STRLIT.sub("''", e))
                    else e
                )

            cond = (
                f"COALESCE(({_rt_sub(rewrite_expr(_truthy_condition_text(m.group(3)), 'duck'))}), {_BFALSE})"
                if m.group(3)
                else _BTRUE
            )
            assigns = {}
            for part in _split_top_commas(m.group(2)):
                am = re.match(r"\s*(`[^`]+`|\w+)\s*=\s*(.*)$", part, re.S)
                assigns[_unquote_ident(am.group(1))] = _rt_sub(
                    rewrite_expr(am.group(2), "duck")
                )
            for c in td.columns:  # mirror the runner's checks/bumps
                if c.name not in assigns:
                    continue
                if c.mysql_type in _STRICT_INT_RANGES:
                    assigns[c.name] = _coerce_int_literal(
                        assigns[c.name], c, td.engine, oraclestrict
                    )
                if c.autoinc:
                    lm2 = re.fullmatch(r"\s*(\d+)\s*", assigns[c.name])
                    if lm2:
                        td.next_auto = max(
                            td.next_auto, int(lm2.group(1)) + 1
                        )
            if m.group(5):  # UPDATE ... LIMIT n
                order = (
                    rewrite_expr(m.group(4), "duck") if m.group(4) else None
                )
                ctes.append((
                    vname(t),
                    _update_limit_sql(
                        prev, td, assigns,
                        # _rt_sub: an EXISTS/scalar subquery in the
                        # WHERE binds to the referenced tables'
                        # CURRENT versions (issue781's safe-mode
                        # EXISTS … LIMIT 1)
                        _rt_sub(rewrite_expr(m.group(3), "duck"))
                        if m.group(3) else None,
                        order, int(m.group(5)), "duck", alias=td.name,
                    ),
                ))
                continue
            if (upd_ignore and len(td.pk) == 1
                    and td.pk[0] in assigns):
                # UPDATE IGNORE, single-column PK (issue1616): mirror
                # the runner — skip a row whose new key equals another
                # row's pre-statement key
                p = td.pk[0]
                pc = next(c for c in td.columns if c.name == p)
                nv = _dc(assigns[p], pc)
                cond = (
                    f"(({cond}) AND NOT (({nv}) IS DISTINCT FROM "
                    f'"{p}" AND ({nv}) IN '
                    f'(SELECT "{p}" FROM {prev})))'
                )
            proj = ", ".join(
                (
                    f'CASE WHEN {cond} THEN {_dc(assigns[c.name], c)} '
                    f'ELSE "{c.name}" END AS "{c.name}"'
                )
                if c.name in assigns
                else f'"{c.name}"'
                for c in td.columns
            )
            ctes.append(
                (vname(t), f'SELECT {proj} FROM {prev} AS "{td.name}"')
            )
            continue
        if re.match(r"^\s*UPDATE\b", s, re.I):  # UPDATE ... JOIN ... SET
            m = _MULTI_UPDATE.match(s)
            if not m:
                raise ValueError(f"oracle: unsupported UPDATE {s[:90]}")
            raw_join = m.group(1)
            joinfrom = retarget(
                "FROM " + rewrite_expr(raw_join, "duck")
            )[len("FROM "):]
            where = (
                rewrite_expr(m.group(3), "duck") if m.group(3) else None
            )
            jtables = [
                w for w in re.findall(r"`[^`]+`|\w+", raw_join)
                if _unquote_ident(w).lower() in tables
            ]
            by_tbl: dict[str, dict[str, str]] = {}
            for part in _split_top_commas(m.group(2)):
                am = re.match(
                    r"\s*(?:(`[^`]+`|\w+)\.)?(`[^`]+`|\w+)\s*=\s*(.*)$",
                    part, re.S,
                )
                coln = _unquote_ident(am.group(2))
                if am.group(1):
                    tn = _unquote_ident(am.group(1)).lower()
                else:
                    tn = next(
                        _unquote_ident(j).lower() for j in jtables
                        if any(
                            c.name.lower() == coln.lower()
                            for c in tables[_unquote_ident(j).lower()].columns
                        )
                    )
                canon = {
                    c.name.lower(): c.name for c in tables[tn].columns
                }
                by_tbl.setdefault(tn, {})[canon[coln.lower()]] = (
                    rewrite_expr(am.group(3), "duck")
                )
            bodies = []
            for tn, assigns in by_tbl.items():
                td = tables[tn]
                td.seen_pk = None
                bodies.append((tn, _multi_update_sql(
                    td, td.name, vname(tn), joinfrom, where,
                    assigns, "duck",
                )))
            for tn, body in bodies:
                versions[tn] += 1
                ctes.append((vname(tn), body))
            continue
        rm = re.match(
            r"^\s*ALTER\s+TABLE\s+(`[^`]+`|\w+)\s+RENAME\s+"
            r"(?:TO\s+|AS\s+)?(`[^`]+`|\w+)\s*$",
            s, re.I,
        )
        if rm:
            old = _unquote_ident(rm.group(1)).lower()
            new = _unquote_ident(rm.group(2))
            flush(old)
            if versions[old] == 0 and not _has_version0(old):
                ctes.append((vname(old), _duck_values_cte(tables[old], [])))
            prev = vname(old)
            td = tables.pop(old)
            td.name = new
            key = new.lower()
            tables[key] = td
            versions.pop(old, None)
            # keep incarn[old]: a later table reusing the old name must
            # still get fresh CTE names
            incarn[key] = incarn.get(key, 0) + 1
            versions[key] = 0
            ctes.append((vname(key), f"SELECT * FROM {prev}"))
            continue
        if re.match(r"^\s*ALTER\s+TABLE\b", s, re.I):
            m = re.match(
                r"^\s*ALTER\s+TABLE\s+(`[^`]+`|\w+)\s+(.*)$", s, re.I | re.S
            )
            t = _unquote_ident(m.group(1)).lower()
            td = tables[t]
            newtd, mapping = _alter_tabledef(
                td, _split_top_commas(m.group(2))
            )
            flush(t)
            prev = vname(t)
            if versions[t] == 0 and not _has_version0(t):
                ctes.append((prev, _duck_values_cte(td, [])))
            versions[t] += 1
            parts = []
            for c, src in mapping:
                if src is None:
                    lit = (
                        _recode_string_literals(c.default, "duck")
                        if c.default is not None
                        else "NULL"
                    )
                    parts.append(f'{_dc(lit, c)} AS "{c.name}"')
                else:
                    qsrc = f'"{src}"'
                    parts.append(f'{_dc(qsrc, c)} AS "{c.name}"')
            ctes.append((vname(t), f"SELECT {', '.join(parts)} FROM {prev}"))
            newtd.seen_pk = None
            key = newtd.name.lower()
            if key != t:  # RENAME action within the ALTER
                prev2 = vname(t)
                tables.pop(t)
                versions.pop(t, None)
                incarn[key] = incarn.get(key, 0) + 1
                versions[key] = 0
                ctes.append((vname(key), f"SELECT * FROM {prev2}"))
            tables[key] = newtd
            continue
        if _is_infoschema(s):
            continue
        if _SHOWDESC.match(s):
            if shows_seen == show_target:
                shm = re.match(
                    r"^\s*SHOW\s+CREATE\s+TABLE\s+(`[^`]+`|\w+)\s*$",
                    s, re.I,
                )

                def lit(x):
                    return (
                        "CAST(NULL AS VARCHAR)" if x is None
                        else "'" + str(x).replace("'", "''") + "'"
                    )

                def _one_col(title: str, vals: list[str]) -> str:
                    if not vals:
                        return (f"SELECT CAST(NULL AS VARCHAR) AS "
                                f"\"{title}\" WHERE 1 = 0")
                    tuples = ", ".join(f"({lit(v)})" for v in vals)
                    return (f"SELECT * FROM (VALUES {tuples}) "
                            f"AS _s(\"{title}\")")

                svm2 = _SHOW_VARS_RX.match(s)
                sdb = re.match(
                    r"^\s*SHOW\s+(?:DATABASES|SCHEMAS)"
                    r"(?:\s+LIKE\s+'([^']*)')?\s*$", s, re.I,
                )
                stb = re.match(
                    r"^\s*SHOW\s+TABLES(?:\s+IN\s+(`[^`]+`|\w+))?\s*$",
                    s, re.I,
                )
                if svm2:
                    vrows = _show_variables_rows(
                        svm2.group(2), oracle_sysvars, oracle_sqlmode
                    )
                    if vrows:
                        tuples = ", ".join(
                            f"({lit(k)}, {lit(v)})" for k, v in vrows
                        )
                        show_final = (
                            f"SELECT * FROM (VALUES {tuples}) AS _v("
                            f"\"Variable_name\", \"Value\")"
                        )
                    else:
                        show_final = (
                            "SELECT CAST(NULL AS VARCHAR) AS "
                            "\"Variable_name\", CAST(NULL AS VARCHAR) "
                            "AS \"Value\" WHERE 1 = 0"
                        )
                elif sdb:
                    pat0 = sdb.group(1)
                    rx = re.compile(
                        "^" + re.escape(pat0).replace("%", ".*")
                        .replace("_", ".") + "$", re.I,
                    ) if pat0 is not None else None
                    title = (f"Database ({pat0})" if pat0 is not None
                             else "Database")
                    show_final = _one_col(
                        title,
                        [d for d in sorted(oracle_dbs)
                         if rx is None or rx.match(d)],
                    )
                elif stb:
                    db = (_unquote_ident(stb.group(1)).lower()
                          if stb.group(1) else "test")
                    names = sorted(
                        k[len(db) + 2:] if k.startswith(f"{db}__") else k
                        for k, std0 in tables.items()
                        if not getattr(std0, "temporary", False)
                        and (k.startswith(f"{db}__")
                             or (db == "test" and "__" not in k))
                    )
                    show_final = _one_col(f"Tables_in_{db}", names)
                elif shm:
                    std = tables[_unquote_ident(shm.group(1)).lower()]
                    show_final = (
                        f"SELECT {lit(std.name)} AS \"Table\", "
                        f"{lit(_show_create_text(std))} AS \"Create Table\""
                    )
                else:
                    dsm = re.match(
                        r"^\s*(?:DESC(?:RIBE)?|SHOW\s+(?:FULL\s+)?COLUMNS"
                        r"\s+FROM)\s+(`[^`]+`|\w+)\s*$", s, re.I,
                    )
                    std = tables[_unquote_ident(dsm.group(1)).lower()]
                    tuples = ", ".join(
                        "(" + ", ".join(lit(v) for v in row) + ")"
                        for row in _describe_rows(std)
                    )
                    show_final = (
                        f"SELECT * FROM (VALUES {tuples}) AS _d("
                        f"\"Field\", \"Type\", \"Null\", \"Key\", "
                        f"\"Default\", \"Extra\")"
                    )
            shows_seen += 1
            continue
        if re.match(r"^\s*\(?\s*SELECT\b", s, re.I):
            if seen == target:
                if not oracle_fullgb:
                    s = _wrap_nongrouped_any_value(s)
                else:
                    s = _wrap_nongrouped_any_value(
                        s, equality_dependent_only=True)
                final_sql = retarget(
                    rewrite_expr(_apply_zerofill(_apply_zerodate_isnull(
                        _apply_temporal_numeric_cmp(
                            _apply_temporal_string_cmp(
                                _apply_tz_select_shift(
                                    _apply_union_string_coercion(
                                        _apply_string_numeric_cmp(
                                            _apply_bitwise_mysql(
                                                _apply_truthy_on(s, "duck"),
                                                tables, "duck"),
                                            tables, "duck"),
                                        tables, "duck"),
                                    tables, "duck"),
                                tables, "duck"),
                            tables, "duck"),
                        tables, "duck"), tables, "duck"), "duck")
                )
            seen += 1
            continue
        raise ValueError(f"oracle: unsupported statement {s[:90]}")
    if show_designated is not None:
        final_sql = show_final
    if final_sql is None:
        raise ValueError("no designated SELECT found")
    if int_sum_cast:
        final_sql = _wrap_calls(
            final_sql, "SUM", lambda inner: f"CAST(SUM({inner}) AS BIGINT)"
        )
    if out_names:
        cols = ", ".join(f'"{c}"' for c in out_names)
        final_sql = f"SELECT * FROM ({final_sql}) AS _renamed({cols})"
    if final_casts:
        # mirror of run_script's final_casts (DuckDB SELECT * REPLACE);
        # type names are given Spark-side, map the spellings DuckDB
        # doesn't share.  Runs AFTER the out_names rename, like the
        # Spark side.
        _duckt = {"STRING": "VARCHAR", "BINARY": "BLOB"}
        reps = ", ".join(
            (
                f'CAST(CAST("{c}" AS {_duckt.get(t.upper(), t)}) + 0 '
                f'AS {_duckt.get(t.upper(), t)}) AS "{c}"'
                if t.upper() in ("DOUBLE", "FLOAT")
                else f'CAST("{c}" AS {_duckt.get(t.upper(), t)}) AS "{c}"'
            )
            for c, t in final_casts.items()
        )
        final_sql = f"SELECT * REPLACE ({reps}) FROM ({final_sql}) AS _fc"
    if zerodate_render:
        # mirror of run_script's zerodate_render: the 0001-01-01
        # sentinel prints as MySQL's '0000-00-00' (issue682 legs)
        reps = ", ".join(
            (
                f"CASE WHEN \"{c}\" = DATE '{_ZD_DATE}' "
                f"THEN '0000-00-00' "
                f'ELSE CAST("{c}" AS VARCHAR) END AS "{c}"'
                if kind == "date"
                else f"CASE WHEN \"{c}\" = TIMESTAMP '{_ZD_TS}' "
                f"THEN '0000-00-00 00:00:00' "
                f'ELSE CAST("{c}" AS VARCHAR) END AS "{c}"'
            )
            for c, kind in zerodate_render.items()
        )
        final_sql = f"SELECT * REPLACE ({reps}) FROM ({final_sql}) AS _zd"
    with_clause = ""
    if ctes:
        with_clause = "WITH " + ",\n".join(
            f"{name} AS ({body})" for name, body in ctes
        ) + "\n"
    return with_clause + final_sql
