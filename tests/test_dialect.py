"""MySQL-dialect text front-end: rewriter unit tests + runner/oracle
round-trips.

The registry-level parity of all dialect_* entries is covered by the
strict sweep (tests/test_strict_sweep.py); these tests pin the
individual rewrite rules and the runner behaviors that broke during
bring-up (stale external-table dirs on DROP+re-CREATE, CTE name
collisions across table incarnations)."""

from __future__ import annotations

import ast
import re
from pathlib import Path

import duckdb
import pytest

from stonedb_spark import dialect
from stonedb_spark.dialect import (
    _close_paren,
    _duck_order_nulls,
    _parse_insert_values,
    _rewrite_div,
    _rewrite_limit_comma,
    _rewrite_quoted_alias,
    _rewrite_str_num_compare,
    _split_top_commas,
    _split_top_unions,
    _wrap_calls,
    build_oracle_sql,
    parse_create_table,
    rewrite_expr,
    run_script,
    split_mtr,
)
from stonedb_spark.testing import compare_frames, script_vs_oracle


# ---------------------------------------------------------------- text layer


def test_split_mtr_directives_and_errors():
    stmts = split_mtr(
        "--echo # hi\n--disable_warnings\nSELECT 1;\n"
        "--error ER_PARSE_ERROR\nSELECT bad;\nSELECT 2;"
    )
    assert [s.text for s in stmts] == ["SELECT 1", "SELECT bad", "SELECT 2"]
    assert [s.expect_error for s in stmts] == [False, True, False]


def test_split_mtr_semicolon_in_string():
    stmts = split_mtr("SELECT 'a;b';\nSELECT 2;")
    assert len(stmts) == 2
    assert stmts[0].text == "SELECT 'a;b'"


# (argument text, its top-level comma split); each argument list is also
# probed as a call F(...) ahead of a top-level UNION
SCAN_CASES = [
    ("'a\\'b,c', d", ["'a\\'b,c'", "d"]),             # escaped quote
    ("'a'',b)', c", ["'a'',b)'", "c"]),                # doubled quote
    ('"x),y", z', ['"x),y"', "z"]),                    # ) and , in "…"
    ("`a(,b`, c", ["`a(,b`", "c"]),                    # backtick ident
    ("g(a, (b, c)), d", ["g(a, (b, c))", "d"]),        # nested parens
]


@pytest.mark.parametrize("args,parts", SCAN_CASES)
def test_scanner_literals_and_parens(args, parts):
    assert _split_top_commas(args) == parts
    sql = f"SELECT F({args}) UNION SELECT 1"
    assert _close_paren(sql, len("SELECT F(")) == len("SELECT F(") + len(args)
    assert _split_top_unions(sql) == (
        [f"SELECT F({args}) ", " SELECT 1"], ["UNION"])
    assert _wrap_calls(sql, "F", lambda inner: f"<{inner}>") == (
        f"SELECT <{args}> UNION SELECT 1")


def test_scanner_unclosed_paren():
    sql = "SELECT F(a, (b, c) UNION SELECT 1"
    assert _close_paren(sql, len("SELECT F(")) == len(sql)
    assert _split_top_commas("f(a, b") == ["f(a, b"]
    assert _split_top_unions(sql) == ([sql], [])


SCRIPT_ESCAPED_CALL_ARGS = r"""
SELECT LEFT('it\'s (x', 4) AS l, ROUND(LENGTH('a\')b'), 0) AS r,
  DATE_ADD('2020-01-01', INTERVAL LENGTH('a\'(') DAY) AS d;
"""


def test_escaped_quote_in_rewritten_call_args(spark):
    """A rewritten call's argument holding an escaped quote and a paren
    keeps the rest of the statement (an alias was swallowed when the
    call's close paren was searched with \\' ending the literal)."""
    import datetime

    assert script_vs_oracle(spark, SCRIPT_ESCAPED_CALL_ARGS) == [
        ["it's", 4, datetime.date(2020, 1, 4)]
    ]


def test_select_constant_division_by_zero_is_null(spark):
    """MySQL (and the DuckDB oracle) read a SELECT's x/0 as NULL; Spark's
    ANSI mode would raise DIVIDE_BY_ZERO."""
    [[a, c, z]] = script_vs_oracle(
        spark, "SELECT 1/3 AS a, 7.5/2 AS c, 1/0 AS z;")
    assert (round(a, 4), float(c)) == (0.3333, 3.75)
    assert z != z or z is None  # NULL reads NaN in a double column


# A quote-state toggle or a mask over _ANY_STRLIT outside the scanner
# section is a second definition of a string literal.
SCANNER = {"_scan", "_open_quote", "_mask_strlits"}
QUOTE_STATE = re.compile(
    r"""\bin_str\b|\bquote = ch\b|\bch in \("'", '"'|\bch in "'\\"|"""
    r"""_ANY_STRLIT\.sub\((?!"''")""")


def test_scanner_is_the_only_literal_scan():
    src = Path(dialect.__file__).read_text()
    owner = {}
    for node in ast.parse(src).body:
        if isinstance(node, ast.FunctionDef):
            for ln in range(node.lineno, node.end_lineno + 1):
                owner[ln] = node.name
    hits = [
        f"dialect.py:{i} {owner.get(i, '<module>')}: {line.strip()}"
        for i, line in enumerate(src.splitlines(), 1)
        if QUOTE_STATE.search(line) and owner.get(i) not in SCANNER
    ]
    assert not hits, "\n".join(hits)


def test_parse_create_table_mysql_decorations():
    td = parse_create_table(
        "CREATE TABLE `t` (\n"
        "  `id` int(11) DEFAULT NULL COMMENT 'x',\n"
        "  n smallint(4) DEFAULT '0000' NOT NULL,\n"
        "  u int unsigned,\n"
        "  v varchar(255) DEFAULT 'hello world!',\n"
        "  d datetime,\n"
        "  PRIMARY KEY (id),\n"
        "  KEY idx_n (n)\n"
        ") ENGINE=TIANMU DEFAULT CHARSET=utf8mb4"
    )
    assert [c.name for c in td.columns] == ["id", "n", "u", "v", "d"]
    assert [c.spark_type for c in td.columns] == [
        "INT", "SMALLINT", "BIGINT", "STRING", "TIMESTAMP",
    ]
    assert td.columns[1].default == "'0000'"
    assert td.columns[3].default == "'hello world!'"
    assert td.pk == ["id"]


def test_parse_create_inline_pk():
    td = parse_create_table("create table t1(a int primary key, b int)")
    assert td.pk == ["a"]


def test_insert_values_fills_defaults():
    td = parse_create_table(
        "CREATE TABLE t (a int DEFAULT 7, b int, c varchar(5) DEFAULT 'x')"
    )
    _, rows = _parse_insert_values({"t": td}, "INSERT INTO t VALUES()")
    assert rows == [["7", "NULL", "'x'"]]
    _, rows = _parse_insert_values({"t": td}, "INSERT INTO t (b) VALUES (1),(2)")
    assert rows == [["7", "1", "'x'"], ["7", "2", "'x'"]]


def test_limit_comma():
    assert _rewrite_limit_comma("SELECT * FROM t LIMIT 2, 5") == (
        "SELECT * FROM t LIMIT 5 OFFSET 2"
    )


def test_quoted_alias_rules():
    out = _rewrite_quoted_alias("SELECT 1 AS 'Total Rows' FROM t", "spark")
    assert "AS `Total Rows`" in out
    # implicit alias before FROM
    out = _rewrite_quoted_alias("SELECT a 'x', b 'y' FROM t", "duck")
    assert 'a "x", b "y"' in out
    # a string after LIKE is an operand, never an alias
    s = "SELECT * FROM t WHERE a LIKE '%o%', b FROM t"
    assert _rewrite_quoted_alias(s, "spark") == s


def test_div_rewrites_null_safe():
    spark_sql = _rewrite_div("SELECT a DIV 0 FROM t", "spark")
    assert "TRY_DIVIDE" in spark_sql and " DIV " not in spark_sql
    duck_sql = _rewrite_div("SELECT a DIV 0 FROM t", "duck")
    assert "NULLIF" in duck_sql
    assert duckdb.connect().execute(
        _rewrite_div("SELECT 7 DIV 2 AS q, 7 DIV 0 AS z", "duck")
    ).fetchone() == (3, None)


def test_str_num_compare_mysql_coercion():
    out = _rewrite_str_num_compare("WHERE 'Decimal' >= -300")
    assert out == "WHERE 0 >= -300"
    out = _rewrite_str_num_compare("WHERE '12abc' > 5")
    assert out == "WHERE 12 > 5"
    # string-vs-string comparisons untouched
    s = "WHERE a = 'abc'"
    assert _rewrite_str_num_compare(s) == s


def test_short_year_literal_padding_pivot():
    """MySQL temporal-literal year widths (sql-common/my_time.c):
    1- and 3-digit years read literally; 2-digit years PIVOT
    (00-69 -> 20yy, 70-99 -> 19yy).  timestampdiff_function.test's
    '09-02-11 01:08:59' must become 2009, not year 9 (the r10
    regression class — 17 two-digit-year literals exist across the
    embedded MTR scripts)."""
    for engine in ("spark", "duck"):
        out = rewrite_expr("SELECT '09-02-11 01:08:59' d", engine)
        assert "'2009-02-11 01:08:59'" in out
        out = rewrite_expr("SELECT '70-1-2' d", engine)
        assert "'1970-01-02'" in out
        out = rewrite_expr("SELECT '69-12-31' d", engine)
        assert "'2069-12-31'" in out
        # 1- and 3-digit years are literal, zero-padded to 4
        out = rewrite_expr("SELECT '111-11-10' d", engine)
        assert "'0111-11-10'" in out
        out = rewrite_expr("SELECT '9-2-11' d", engine)
        assert "'0009-02-11'" in out
        # literals inside STRING-function args are plain strings:
        # SUBSTR('15-01-20', 1, 2) must stay '15', not '20'
        out = rewrite_expr("SELECT SUBSTR('15-01-20', 1, 2)", engine)
        assert "'15-01-20'" in out
        out = rewrite_expr("SELECT CONCAT('a', '9-2-11')", engine)
        assert "'9-2-11'" in out


def test_group_concat_translation():
    sql = "select id, group_concat(name order by name desc SEPARATOR ':') from t group by id"
    spark = rewrite_expr(sql, "spark")
    assert "listagg(name, ':')" in spark and "ORDER BY name desc" in spark
    duck = rewrite_expr(sql, "duck")
    assert "string_agg(name, ':' ORDER BY name desc" in duck


def test_date_format_percent_codes():
    spark = rewrite_expr("SELECT DATE_FORMAT(d, '%Y-%m-%d %H:%i:%S')", "spark")
    assert "'yyyy-MM-dd HH:mm:ss'" in spark
    duck = rewrite_expr("SELECT DATE_FORMAT(d, '%Y-%m')", "duck")
    assert "strftime" in duck and "'%Y-%m'" in duck


def test_date_sub_interval_forms():
    row = duckdb.connect().execute(
        rewrite_expr(
            "SELECT DATE_SUB('2017-03-30', INTERVAL 1 MONTH) r, "
            "DATE_SUB('2017-02-29', INTERVAL - 1 DAY) bad", "duck")
    ).fetchone()
    assert str(row[0]) == "2017-02-28" and row[1] is None


def test_cast_signed():
    assert "AS BIGINT" in rewrite_expr("SELECT CAST(x AS SIGNED)", "spark")


def test_duck_nulls_first_spacing():
    out = _duck_order_nulls("SELECT * FROM t ORDER BY a ASC LIMIT 1 OFFSET 1")
    assert "a ASC NULLS FIRST LIMIT" in out
    out = _duck_order_nulls("SELECT * FROM t ORDER BY a DESC, b")
    assert "a DESC NULLS LAST" in out and "b NULLS FIRST" in out


# ------------------------------------------------------------- runner layer

SCRIPT_REINCARNATE = """
create table t1 (a int);
insert into t1 values (1),(2);
drop table t1;
create table t1 (a int, b int);
insert into t1 values (10, 20);
select * from t1 order by a;
"""

SCRIPT_UPSERT = """
create table t1(a int primary key, b int);
insert into t1 values(1,1),(2,2);
insert into t1 values(2,22),(3,33) on duplicate key update b=b+100;
select * from t1 order by a;
"""


@pytest.mark.usefixtures("spark")
class TestRunner:
    def test_reincarnated_table_is_fresh(self, spark):
        """DROP + re-CREATE must not resurrect the old incarnation's
        parquet files (regression: shared LOCATION leaked rows)."""
        pdf = run_script(spark, SCRIPT_REINCARNATE).toPandas()
        assert pdf.values.tolist() == [[10, 20]]
        oracle = build_oracle_sql(SCRIPT_REINCARNATE)
        assert not compare_frames(pdf, duckdb.connect().execute(oracle).df())

    def test_upsert_matches_oracle(self, spark):
        pdf = run_script(spark, SCRIPT_UPSERT).toPandas()
        # matched key 2 updated with OLD b + 100; key 3 inserted
        assert pdf.values.tolist() == [[1, 1], [2, 102], [3, 33]]
        oracle = build_oracle_sql(SCRIPT_UPSERT)
        assert not compare_frames(pdf, duckdb.connect().execute(oracle).df())

    def test_expected_error_statement_must_fail(self, spark):
        ok = "create table t9 (a int);\n--error X\nSELECT * FROM t9 LIMIT -1;\nselect * from t9;"
        run_script(spark, ok).count()  # LIMIT -1 fails on Spark too -> fine
        bad = "create table t9 (a int);\n--error X\nSELECT 1;\nselect * from t9;"
        with pytest.raises(AssertionError):
            run_script(spark, bad)

SCRIPT_CTAS = """
create table src (a int, b varchar(10));
insert into src values (1,'x'),(2,'y'),(3,'y');
create table dst as select a*2 as a2, b from src where a > 1;
insert into dst values (99, 'z');
select * from dst order by a2;
"""


def test_ctas_runner_and_oracle(spark):
    """CREATE TABLE .. AS SELECT: runner derives the TableDef from the
    result schema (so later INSERT VALUES still works); oracle binds
    the new table's v0 to the translated select."""
    import duckdb

    pdf = run_script(spark, SCRIPT_CTAS).toPandas()
    assert pdf.values.tolist() == [[4, "y"], [6, "y"], [99, "z"]]
    # since the issue226 fix, the oracle derives the CTAS column list
    # from the SELECT, so INSERT VALUES into the CTAS table builds too —
    # assert full runner-vs-oracle parity on the whole script
    odf_full = duckdb.connect().execute(build_oracle_sql(SCRIPT_CTAS)).df()
    assert not compare_frames(pdf, odf_full)
    no_insert = SCRIPT_CTAS.replace("insert into dst values (99, 'z');\n", "")
    pdf2 = run_script(spark, no_insert).toPandas()
    odf = duckdb.connect().execute(build_oracle_sql(no_insert)).df()
    assert not compare_frames(pdf2, odf)


def test_catalog_mysql_facade(spark, sf_dir):
    """catalog.mysql(): MySQL-dialect query text runs directly over the
    registered fixture tables."""
    from stonedb_spark.catalog import mysql

    rows = mysql(
        spark,
        "select n_name, count(*) cnt from nation group by n_name "
        "order by n_name limit 2, 3",
        sf_dir,
    ).collect()
    assert len(rows) == 3
    rows2 = mysql(
        spark,
        "select group_concat(r_name order by r_name separator '|') as g from region",
        sf_dir,
    ).collect()
    assert rows2[0]["g"] == "AFRICA|AMERICA|ASIA|EUROPE|MIDDLE EAST"


# ------------------------------------------------- round-7 rewrite passes


def test_mysql_string_literal_recode():
    from stonedb_spark.dialect import _recode_string_literals

    # MySQL '\\\\' is two escaped backslashes; Spark re-escapes, DuckDB
    # takes backslashes literally (escape.test values)
    raw = r"SELECT '_a\\\\'"
    assert _recode_string_literals(raw, "spark") == r"SELECT '_a\\\\'"
    assert _recode_string_literals(raw, "duck") == r"SELECT '_a\\'"
    # double-quoted MySQL strings canonicalize to single quotes
    assert _recode_string_literals('SELECT "x"', "duck") == "SELECT 'x'"


def test_like_pattern_canonicalization():
    from stonedb_spark.dialect import _rewrite_like_patterns

    # escape char == wildcard char (strings.test)
    out = _rewrite_like_patterns("SELECT 'maca' LIKE 'm%aca' ESCAPE '%'")
    assert "LIKE 'maca' ESCAPE '!'" in out
    # default backslash escape resolves \% to a literal percent
    out = _rewrite_like_patterns(r"SELECT a LIKE '%\%'")
    assert "LIKE '%!%' ESCAPE '!'" in out
    # CONCAT-of-literals patterns fold (escape.test)
    out = _rewrite_like_patterns('SELECT a LIKE CONCAT("%", "san", "%")')
    assert "LIKE '%san%' ESCAPE '!'" in out


def test_week_sql_all_modes_vs_mysql_result_file():
    """_week_sql vs the WEEK() outputs recorded in the reference's own
    week_function.result (MySQL ground truth, not cross-engine)."""
    from stonedb_spark.dialect import _week_sql

    cases = {
        ("1987-01-01", 0): 0, ("1987-01-01", 1): 1, ("1987-01-01", 2): 52,
        ("1987-01-01", 3): 1, ("1987-01-01", 4): 0, ("1987-01-01", 5): 0,
        ("1987-01-01", 6): 53, ("1987-01-01", 7): 52,
        ("2000-01-01", 2): 52, ("2000-01-01", 6): 52,
        ("2087-12-21", 4): 52, ("2087-12-21", 5): 50, ("2087-12-21", 7): 50,
    }
    con = duckdb.connect()
    for (d, m), exp in cases.items():
        expr = _week_sql(f"'{d}'", m, "duck")[0]
        assert con.execute(f"SELECT {expr}").fetchone()[0] == exp, (d, m)


def test_timediff_reference_semantics():
    from stonedb_spark.dialect import rewrite_expr as rw

    con = duckdb.connect()
    for e, exp in [
        ("TIMEDIFF('20:28:30', '11:22:33.4455')", "09:05:56.0000"),
        ("TIMEDIFF(DATE'2011-08-27', '2008-02-19 22:22:22')", None),
        ("TIMEDIFF(TIMESTAMP'1997-12-12 22:12:02', '2001-02-19 22:22:22')",
         "-838:59:59"),
    ]:
        got = con.execute(rw(f"SELECT {e} AS v", "duck")).fetchone()[0]
        assert got == exp, (e, got)


def test_autoincrement_fill():
    tables = {}
    td = parse_create_table(
        "CREATE TABLE t (id BIGINT NOT NULL AUTO_INCREMENT, "
        "v VARCHAR(5), PRIMARY KEY (id))"
    )
    tables["t"] = td
    _, r1 = _parse_insert_values(tables, "INSERT INTO t (v) VALUES('a')")
    _, r2 = _parse_insert_values(tables, "INSERT INTO t (v) VALUES('b'),('c')")
    _, r3 = _parse_insert_values(tables, "INSERT INTO t VALUES(NULL, 'd')")
    assert [r[0] for r in r1 + r2 + r3] == ["1", "2", "3", "4"]


def test_timestampdiff_complete_units():
    from stonedb_spark.dialect import rewrite_expr as rw

    con = duckdb.connect()
    # anniversary counting, not boundary crossings
    for e, exp in [
        ("TIMESTAMPDIFF(MONTH, '2012-3-15 1:12:22', '2013-3-4 3:12:11')", 11),
        ("TIMESTAMPDIFF(MONTH, '2013-3-4 3:12:11', '2012-3-15 1:12:22')", -11),
        ("TIMESTAMPDIFF(WEEK, '2012-3-3 1:12:22', '2013-3-4 3:12:11')", 52),
        ("TIMESTAMPDIFF(MICROSECOND, '2011-3-4 3:12:11.123', "
         "'2011-3-4 3:12:11.111')", -12000),
    ]:
        got = con.execute(rw(f"SELECT {e} AS v", "duck")).fetchone()[0]
        assert got == exp, (e, got)


# ------------------------------------- round-7 strict-insert / DDL passes


def test_strict_int_coercion_classes():
    import pytest
    from stonedb_spark.dialect import _coerce_int_literal, ColumnDef

    c = ColumnDef("f1", "TINYINT", "TINYINT", None, mysql_type="tinyint")
    # MySQL trims, rounds half away from zero (integer_range.result)
    assert _coerce_int_literal("'  14 '", c) == "14"
    assert _coerce_int_literal("'34.5'", c) == "35"
    assert _coerce_int_literal("'-128'", c) == "-128"  # full 2's-comp min
    for bad, code in [
        ("'128'", "1264"), ("'-129'", "1264"), ("'100000'", "1264"),
        ("'asdf'", "1366"), ("''", "1366"), ("'- 1234'", "1366"),
        ("'4 444'", "1265"), ("'123 dt'", "1265"),
    ]:
        with pytest.raises(ValueError, match=code):
            _coerce_int_literal(bad, c)
    # INT/BIGINT lose their sentinel minima (signed_boundary.result)
    ci = ColumnDef("x", "INT", "INTEGER", None, mysql_type="int")
    with pytest.raises(ValueError, match="1264"):
        _coerce_int_literal("-2147483648", ci)
    cb = ColumnDef("x", "BIGINT", "BIGINT", None, mysql_type="bigint")
    with pytest.raises(ValueError, match="1264"):
        _coerce_int_literal("-9223372036854775807", cb)
    assert _coerce_int_literal("-9223372036854775806", cb)
    # unsigned rejects negatives (zerofill.test st5)
    cu = ColumnDef("x", "SMALLINT", "SMALLINT", None,
                   mysql_type="tinyint", unsigned=True)
    with pytest.raises(ValueError, match="1264"):
        _coerce_int_literal("-5", cu)
    # expressions and NULL pass through untouched
    assert _coerce_int_literal("NULL", c) == "NULL"
    assert _coerce_int_literal("1+2", c) == "1+2"


def test_zerofill_parse_and_select_rewrite():
    from stonedb_spark.dialect import parse_create_table, _apply_zerofill

    td = parse_create_table(
        "CREATE TABLE st1 (x INT(8) ZEROFILL NOT NULL, y INT NOT NULL)"
    )
    assert td.columns[0].zerofill == 8
    assert td.columns[0].unsigned  # ZEROFILL implies UNSIGNED
    assert td.columns[0].spark_type == "BIGINT"  # widened
    assert td.columns[1].zerofill == 0
    out = _apply_zerofill("SELECT * FROM st1", {"st1": td}, "spark")
    assert "LPAD" in out and "`y`" in out
    # arithmetic items stay numeric
    out2 = _apply_zerofill("SELECT x+1 FROM st1", {"st1": td}, "spark")
    assert "LPAD" not in out2


def test_alter_tabledef_actions():
    from stonedb_spark.dialect import parse_create_table, _alter_tabledef

    td = parse_create_table("CREATE TABLE t (a INT, b VARCHAR(5), c INT)")
    ntd, mapping = _alter_tabledef(
        td,
        ["ADD COLUMN d BIGINT DEFAULT 7 AFTER a", "DROP COLUMN c",
         "MODIFY b VARCHAR(20)", "CHANGE a a2 BIGINT FIRST"],
    )
    assert [c.name for c in ntd.columns] == ["a2", "d", "b"]
    srcs = {c.name: s for c, s in mapping}
    assert srcs == {"a2": "a", "d": None, "b": "b"}
    assert ntd.columns[2].spark_type == "STRING"


def test_pk_duplicate_tracking():
    import pytest
    from stonedb_spark.dialect import (
        parse_create_table, _parse_insert_values, _check_pk_duplicates,
    )

    tables = {}
    td = parse_create_table(
        "CREATE TABLE ttt(id int, c1 varchar(10), c2 varchar(10), "
        "primary key(id, c1))"
    )
    tables["ttt"] = td
    _, r1 = _parse_insert_values(tables, "INSERT INTO ttt VALUES(1,'xxx','xxx')")
    _check_pk_duplicates(td, r1)
    _, r2 = _parse_insert_values(tables, "INSERT INTO ttt VALUES(1,'','xxx')")
    _check_pk_duplicates(td, r2)  # ('', differs from 'xxx') → ok
    _, r3 = _parse_insert_values(tables, "INSERT INTO ttt VALUES(1,'','yyy')")
    with pytest.raises(ValueError, match="1062"):
        _check_pk_duplicates(td, r3)  # same (1,'') key → duplicate
    # non-literal PK value disables tracking instead of guessing
    _, r4 = _parse_insert_values(tables, "INSERT INTO ttt VALUES(1+1,'a','b')")
    _check_pk_duplicates(td, r4)
    assert td.seen_pk is None


def test_notnull_and_engine_ranges():
    import pytest
    from stonedb_spark.dialect import (
        parse_create_table, _parse_insert_values, _coerce_int_literal,
    )

    tables = {}
    td = parse_create_table("CREATE TABLE t (b char(0) not null)")
    tables["t"] = td
    with pytest.raises(ValueError, match="1048"):
        _parse_insert_values(tables, "insert into t values (null)")
    # innodb keeps the full int64 domain; tianmu reserves the minima
    tdi = parse_create_table("CREATE TABLE j2 (x bigint) ENGINE=innodb")
    assert tdi.engine == "innodb"
    c = tdi.columns[0]
    assert _coerce_int_literal("-9223372036854775808", c, "innodb")
    with pytest.raises(ValueError, match="1264"):
        _coerce_int_literal("-9223372036854775808", c, "tianmu")
    # tianmu unsigned bigint caps at 2^63-1 (unsigned_type.result)
    cu = parse_create_table(
        "CREATE TABLE j (x bigint unsigned)"
    ).columns[0]
    with pytest.raises(ValueError, match="1264"):
        _coerce_int_literal("18446744073709551613", cu, "tianmu")
    assert _coerce_int_literal("18446744073709551613", cu, "innodb")


def test_mod_and_hex_rewrites():
    from stonedb_spark.dialect import rewrite_expr

    out = rewrite_expr("SELECT a mod 50, MOD(a, 7), 0xFF FROM t", "duck")
    assert "% 50" in out and "MOD(" in out.upper() and "255" in out
    # hex inside a string literal is untouched
    out2 = rewrite_expr("SELECT '0xFF'", "duck")
    assert "'0xFF'" in out2


def test_ld_parse_enclosure_aware_stream():
    """MySQL's LOAD DATA reader scans enclosure-aware BEFORE splitting
    lines (sql/sql_load.cc READ_INFO::read_field): separators and line
    terminators inside an enclosed field are data (issue852.txt), an
    unterminated trailing enclosure stays raw including its opening
    quote (issue1209-2.txt per the tianmu result file)."""
    from stonedb_spark.dialect import _ld_parse

    # comma inside an enclosed field is data, not a separator
    rows = _ld_parse('a,"x,y",b\n', ",", '"', "\\", "\n")
    assert rows == [["a", "x,y", "b"]]
    # line terminator inside an enclosed field is data
    rows = _ld_parse('1,"l1\nl2"\n2,b\n', ",", '"', "\\", "\n")
    assert rows == [["1", "l1\nl2"], ["2", "b"]]
    # issue1209-1: ragged rows, empty field -> NULL, trailing raw text
    rows = _ld_parse("1,chai,6;2,x,3,4;3,y;;\n", ",", "", "\\", ";")
    assert rows == [
        ["1", "chai", "6"], ["2", "x", "3", "4"], ["3", "y"],
        [None], ["\n"],
    ]
    # issue1209-2: unterminated enclosure keeps the opening quote
    rows = _ld_parse('"5";"4",";\n', ",", '"', "\\", ";")
    assert rows == [["5"], ["4", '";\n']]
    # escape decoding + \N NULL marker (unenclosed only)
    rows = _ld_parse("a\\tb\t\\N\tc\n", "\t", "", "\\", "\n")
    assert rows == [["a\tb", None, "c"]]
    # doubled enclosure is one literal enclosure char
    rows = _ld_parse('"a""b"\n', ",", '"', "\\", "\n")
    assert rows == [['a"b']]
    # enclosed empty string stays '' while bare empty field is NULL
    rows = _ld_parse('"",\n', ",", '"', "\\", "\n")
    assert rows == [["", None]]


def test_load_data_to_insert_pads_and_truncates():
    import tempfile, os
    from stonedb_spark.dialect import (
        ColumnDef, TableDef, _load_data_to_insert,
    )

    td = TableDef("t", [
        ColumnDef("x", "INT", "INTEGER", None, mysql_type="int"),
        ColumnDef("y", "STRING", "VARCHAR", None, mysql_type="varchar"),
    ])
    with tempfile.NamedTemporaryFile(
        "w", suffix=".txt", delete=False
    ) as fh:
        fh.write("1|a\n2|b|EXTRA\n3\n")
        p = fh.name
    try:
        ins = _load_data_to_insert(
            f"LOAD DATA INFILE '{p}' INTO TABLE t "
            "FIELDS TERMINATED BY '|'",
            td,
        )
        assert ins == (
            "INSERT INTO `t`  VALUES ('1', 'a'), ('2', 'b'), ('3', NULL)"
        )
    finally:
        os.unlink(p)


def test_cast_mysql_semantics_rewrite():
    """CAST AS SIGNED / CHAR(n) / DECIMAL(p,s) get MySQL's lenient
    read + clamp semantics (cast_data_types.test); bad DECIMAL
    declarations raise the 1427/1426/1425 analogs."""
    from stonedb_spark.dialect import rewrite_expr

    out = rewrite_expr("SELECT CAST(x AS SIGNED) FROM t", "duck")
    assert "TRY_CAST" in out and "regexp_extract" in out
    assert "18446744073709551616" in out  # strtoull reinterpret leg
    out = rewrite_expr("SELECT CAST(x AS CHAR(10)) FROM t", "spark")
    assert "SUBSTR(CAST((x) AS STRING), 1, 10)" in out
    out = rewrite_expr("SELECT CAST(x AS DECIMAL(6,5)) FROM t", "duck")
    assert "9.99999" in out and "DECIMAL(6,5)" in out
    for bad, code in [
        ("DECIMAL(4,5)", "1427"),
        ("DECIMAL(66,6)", "1426"),
        ("DECIMAL(64,63)", "1425"),
    ]:
        with pytest.raises(ValueError, match=code):
            rewrite_expr(f"SELECT CAST(x AS {bad}) FROM t", "spark")
    # STD/STDDEV/VARIANCE are population statistics in MySQL
    out = rewrite_expr("SELECT STD(a), STDDEV(a), VARIANCE(a) FROM t", "duck")
    assert out.count("STDDEV_POP(") == 2 and "VAR_POP(" in out
    # the explicit _SAMP/_POP spellings pass through
    out = rewrite_expr("SELECT STDDEV_SAMP(a), VAR_SAMP(a) FROM t", "duck")
    assert "STDDEV_SAMP(" in out and "VAR_SAMP(" in out


def test_outfile_byte_parity_with_reference(spark):
    """Run issue1169.test's two SELECT INTO OUTFILE exports and compare
    the written files BYTE-FOR-BYTE against the reference's committed
    expected outputs (std_data/issue1169_out_{1,2}.txt) — covering
    tianmu's NULL-as-empty default, the @TIANMU_LOAD_NULL='\\N' mode,
    the always-6-digit DATETIME fraction, and ENCLOSED BY '"' wrapping
    (reference: the --diff_files assertions in issue1169.test)."""
    import os
    import tempfile

    from stonedb_spark.dialect import MTRRun, run_statement, split_mtr

    tdir = "/root/reference/mysql-test/suite/tianmu"
    if not os.path.exists(f"{tdir}/t/issue1169.test"):
        pytest.skip("reference MTR corpus not present")
    script = open(f"{tdir}/t/issue1169.test").read()
    workdir = tempfile.mkdtemp(prefix="outfile_parity_")
    run = MTRRun(spark, workdir)
    try:
        for st in split_mtr(script):
            if st.text.lower().startswith("drop table"):
                break
            run_statement(run, st.text)
        assert len(run.outfiles) == 2
        for tag in ("out_1", "out_2"):
            key = [k for k in run.outfiles if tag in k][0]
            mine = open(run.outfiles[key], "rb").read()
            exp = open(f"{tdir}/std_data/issue1169_{tag}.txt", "rb").read()
            assert mine == exp, f"{tag}: OUTFILE bytes diverge"
    finally:
        for name in list(run.tables):
            spark.sql(f"DROP TABLE IF EXISTS `{name}`")


def test_outfile_byte_parity_issue1006(spark):
    """issue1006.test: load 10 TPC-H orders rows (space-separated,
    enclosed), export them with the same format, and the bytes must
    equal the input fixture — the reference asserts exactly this with
    --diff_files."""
    import os
    import tempfile

    from stonedb_spark.dialect import MTRRun, run_statement, split_mtr

    tdir = "/root/reference/mysql-test/suite/tianmu"
    if not os.path.exists(f"{tdir}/t/issue1006.test"):
        pytest.skip("reference MTR corpus not present")
    script = open(f"{tdir}/t/issue1006.test").read()
    workdir = tempfile.mkdtemp(prefix="outfile_parity_")
    run = MTRRun(spark, workdir)
    try:
        for st in split_mtr(script):
            if st.text.lower().startswith("drop table"):
                break
            run_statement(run, st.text)
        assert len(run.outfiles) == 1
        mine = open(list(run.outfiles.values())[0], "rb").read()
        exp = open(f"{tdir}/std_data/issue1006.txt", "rb").read()
        # the export has no ORDER BY, so Spark's row order is partition
        # order, not insertion order — compare the LINE MULTISET
        # byte-for-byte (tianmu's --diff_files passes only because its
        # scan order happens to equal load order)
        assert sorted(mine.splitlines()) == sorted(exp.splitlines()), (
            "issue1006 OUTFILE line set diverges from fixture"
        )
    finally:
        for name in list(run.tables):
            spark.sql(f"DROP TABLE IF EXISTS `{name}`")


def test_outfile_parity_issue850_ssb_join(spark):
    """issue850.test: 32k rows of SSB fixtures loaded, a 4-way join
    filtered to 1998 orders, exported with OPTIONALLY ENCLOSED BY '"'
    ESCAPED BY '"' and CRLF lines — the line multiset must equal the
    reference's committed issue850_out.txt (its --diff_files check).
    Pins: optionally-enclosed wraps only string columns, quote-escaping
    by doubling, \\r\\n terminators, 10k-row compiled LOADs."""
    import os
    import tempfile

    from stonedb_spark.dialect import MTRRun, run_statement, split_mtr

    tdir = "/root/reference/mysql-test/suite/tianmu"
    if not os.path.exists(f"{tdir}/t/issue850.test"):
        pytest.skip("reference MTR corpus not present")
    script = open(f"{tdir}/t/issue850.test").read()
    run = MTRRun(spark, tempfile.mkdtemp(prefix="outfile_parity_"))
    try:
        for st in split_mtr(script):
            if st.text.lower().startswith("drop table"):
                break
            run_statement(run, st.text)
        mine = open(list(run.outfiles.values())[0], "rb").read()
        exp = open(f"{tdir}/std_data/issue850_out.txt", "rb").read()
        assert sorted(mine.split(b"\r\n")) == sorted(exp.split(b"\r\n"))
    finally:
        for name in list(run.tables):
            spark.sql(f"DROP TABLE IF EXISTS `{name}`")


def test_wrap_nongrouped_min():
    """ONLY_FULL_GROUP_BY-off rewrite: non-aggregated select items not
    covered by GROUP BY get MIN() with the MySQL implicit output name;
    grouped items, aggregates, *, and DISTINCT blocks stay untouched."""
    from stonedb_spark.dialect import _wrap_nongrouped_any_value as wrap

    out = wrap("SELECT a, b, COUNT(*) FROM t GROUP BY a")
    assert "MIN(b) AS b" in out and "MIN(a)" not in out
    assert "COUNT(*)" in out
    # qualified refs + explicit aliases; derived-table inner select
    out = wrap(
        "select * from (SELECT x.k AS k, x.v AS val FROM x GROUP BY k) d"
    )
    assert "MIN(x.v) AS val" in out and "x.k AS k" in out
    # fully grouped: unchanged
    s = "SELECT a, COUNT(*) FROM t GROUP BY a"
    assert wrap(s) == s
    # no GROUP BY: unchanged
    s = "SELECT a, b FROM t"
    assert wrap(s) == s
    # star select: left alone
    s = "SELECT * FROM t GROUP BY a"
    assert wrap(s) == s


def test_truncate_and_drop_database():
    """TRUNCATE(x, d) truncates toward zero at d places (negative d
    too); DROP DATABASE wipes the run's tables so a re-created db can
    re-CREATE the same table name (type_timestamp.test shape)."""
    import duckdb as _duck

    from stonedb_spark.dialect import rewrite_expr

    q = rewrite_expr(
        "SELECT TRUNCATE(1.999, 2) a, TRUNCATE(-1.999, 2) b, "
        "TRUNCATE(1234, -2) c", "duck",
    )
    assert _duck.connect().execute(q).fetchone() == (1.99, -1.99, 1200.0)


def test_drop_database_wipes_tables(spark):
    from stonedb_spark.dialect import build_oracle_sql, run_script

    script = (
        "create table tdb (a int);\n"
        "insert into tdb values (1);\n"
        "DROP DATABASE d1;\n"
        "CREATE DATABASE d1;\n"
        "create table tdb (a int, b int);\n"
        "insert into tdb values (7, 8);\n"
        "select * from tdb;\n"
    )
    pdf = run_script(spark, script).toPandas()
    assert pdf.values.tolist() == [[7, 8]]
    import duckdb as _duck

    odf = _duck.connect().execute(build_oracle_sql(script)).df()
    assert odf.values.tolist() == [[7, 8]]


def test_outfile_driver_cap_distributed_fallback(spark, monkeypatch):
    """Round-8 guard (VERDICT item 6): an INTO OUTFILE whose result
    exceeds SPARK_GRAFT_OUTFILE_DRIVER_MAX must NOT be collected on
    the driver — it lands as a part-file directory written by the
    executors, with the SAME tianmu cell encoding per line.  Under the
    cap the single-file path (byte-parity tested above) is unchanged.
    An over-cap export whose LINES TERMINATED BY does not end in a
    newline cannot use the line-oriented writer: it raises, naming only
    remedies that exist."""
    import os
    import tempfile

    from stonedb_spark.dialect import MTRRun, run_statement

    monkeypatch.setenv("SPARK_GRAFT_OUTFILE_DRIVER_MAX", "10")
    workdir = tempfile.mkdtemp(prefix="outfile_cap_")
    run = MTRRun(spark, workdir)
    try:
        run_statement(run, "CREATE TABLE ofcap (a INT, b VARCHAR(10))")
        vals = ", ".join(f"({i}, 'r{i}')" for i in range(25))
        run_statement(run, f"INSERT INTO ofcap VALUES {vals}")
        run_statement(
            run,
            "SELECT a, b FROM ofcap ORDER BY a INTO OUTFILE "
            "'/tmp/ofcap_big.txt'",
        )
        out = run.outfiles["/tmp/ofcap_big.txt"]
        assert os.path.isdir(out), "over-cap export must be a directory"
        lines = []
        for part in sorted(os.listdir(out)):
            if part.startswith("part-"):
                lines += open(os.path.join(out, part)).read().splitlines()
        assert sorted(lines) == sorted(f"{i};r{i}" for i in range(25))
        # under the cap: unchanged single-file driver path
        run_statement(
            run,
            "SELECT a, b FROM ofcap WHERE a < 5 ORDER BY a INTO OUTFILE "
            "'/tmp/ofcap_small.txt'",
        )
        small = run.outfiles["/tmp/ofcap_small.txt"]
        assert os.path.isfile(small)
        assert open(small).read() == "".join(
            f"{i};r{i}\n" for i in range(5)
        )
        with pytest.raises(ValueError) as err:
            run_statement(
                run,
                "SELECT a, b FROM ofcap ORDER BY a INTO OUTFILE "
                "'/tmp/ofcap_bar.txt' LINES TERMINATED BY '|'",
            )
        msg = str(err.value)
        assert "exceeds the driver cap (10 rows)" in msg, msg
        assert "SPARK_GRAFT_OUTFILE_DRIVER_MAX" in msg, msg
        assert "end LINES TERMINATED BY with '\\n'" in msg, msg
        assert "stonedb_spark.sources" not in msg, msg
    finally:
        for name in list(run.tables):
            spark.sql(f"DROP TABLE IF EXISTS `{name}`")


def test_rewrite_expr_idempotent_on_truthy_bool_corpus():
    """rewrite_expr must be a fixpoint on its own output: compiled
    fragments re-enter it (the UPDATE…WHERE path), so any pass that
    re-matches generated text (the round-8 TRUE/FALSE→1/0 literalizer
    vs the truthiness generators' COALESCE(…, FALSE)) silently breaks
    whole entry families.  This corpus covers every truthiness
    generator plus the raw TRUE/FALSE keyword forms."""
    corpus = [
        "SELECT * FROM t WHERE b = TRUE",
        "SELECT TRUE, FALSE",
        "UPDATE t1 SET a = 1 WHERE t",
        "SELECT * FROM t WHERE 1/0 OR 1",
        "SELECT * FROM t WHERE NOT a AND b",
        "SELECT (a = 1) IS TRUE FROM t",
        "SELECT (a = 1) IS NOT FALSE FROM t",
        "SELECT a IS TRUE, a IS FALSE FROM t",
        "SELECT !(a+b) FROM t",
        "SELECT a XOR b FROM t",
        "SELECT * FROM t WHERE (c0 IS NULL) IS TRUE",
        "DELETE FROM t WHERE x",
    ]
    for engine in ("spark", "duck"):
        for sql in corpus:
            once = rewrite_expr(sql, engine)
            twice = rewrite_expr(once, engine)
            assert twice == once, (
                f"rewrite_expr not idempotent on {sql!r} ({engine}):"
                f"\n  once : {once}\n  twice: {twice}"
            )
        # CAST forms re-expand through the lenient-num machinery
        # (semantic-preserving, not byte-stable) — re-entry must at
        # least never raise (the 2^64 literal rides inside a CAST so
        # the 1690 guard can't re-match it)
        rewrite_expr(
            rewrite_expr("SELECT CAST(a AS UNSIGNED) FROM t", engine),
            engine,
        )


def test_is_false_null_boolean_operand(spark):
    """MySQL: (1=NULL) IS FALSE = 0 and (1=NULL) IS NOT FALSE = 1 —
    the NOT must apply after the NULL→FALSE mapping (ADVICE r8)."""
    s = rewrite_expr(
        "SELECT (1=NULL) IS FALSE AS f, (1=NULL) IS NOT FALSE AS nf,"
        " (1=NULL) IS TRUE AS t, (1=NULL) IS NOT TRUE AS nt", "spark"
    )
    row = spark.sql(s).collect()[0]
    assert (row.f, row.nf, row.t, row.nt) == (0, 1, 0, 1)


# ------------------------------------------------- ADVICE r11 regression set

def test_rewrite_expr_memo_keys_session_state(monkeypatch):
    """rewrite_expr is memoised, and the two pieces of per-script state
    it reads are part of the key: a text legal under
    NO_UNSIGNED_SUBTRACTION still raises 1690 without it, and a
    STR_TO_DATE over a format column dispatches over the current
    script's format pool, not the pool of the first caller."""
    import stonedb_spark.dialect as D

    monkeypatch.setattr(D, "_NUS_MODE", [True])
    monkeypatch.setattr(D, "_STR_FMT_POOL", ["%Y"])
    neg = "SELECT CAST(0 AS UNSIGNED) - 1"
    rewrite_expr(neg, "spark")
    D._NUS_MODE[0] = False
    with pytest.raises(ValueError, match="1690"):
        rewrite_expr(neg, "spark")
    dyn = "SELECT STR_TO_DATE(a, f) FROM t"
    one = rewrite_expr(dyn, "duck")
    D._STR_FMT_POOL[:] = ["%Y", "%d/%m/%Y"]
    assert rewrite_expr(dyn, "duck") != one
    assert "%d/%m/%Y" not in one


def test_truthy_on_boolean_literals():
    """ON TRUE/FALSE are boolean join conditions, not bare columns —
    the lenient-prefix read would render 'true' -> 0 -> always-false,
    a semantic inversion (ADVICE r11 medium; issue502-2's view join
    uses ON TRUE).  ON NULL is never-match = FALSE."""
    from stonedb_spark.dialect import _apply_truthy_on

    for engine in ("spark", "duck"):
        s = _apply_truthy_on(
            "SELECT * FROM a JOIN b ON TRUE WHERE a.x = 1", engine)
        assert "ON TRUE" in s and "COALESCE" not in s
        s = _apply_truthy_on("SELECT * FROM a JOIN b ON false", engine)
        assert "ON false" in s
        s = _apply_truthy_on("SELECT * FROM a JOIN b ON NULL", engine)
        assert "CAST(0 AS BOOLEAN)" in s
        # bare-column truthiness still rewrites
        s = _apply_truthy_on("SELECT * FROM a JOIN b ON b.nm", engine)
        assert "<> 0" in s


def test_prevcol_idiom_position_anchored():
    """`@v := col` rewrites only at select-list positions; embedded in
    function args or WHERE it must survive so the survived-site guard
    passes the statement through untouched (ADVICE r11)."""
    from stonedb_spark.dialect import Statement, _expand_var_recurrences

    # embedded in CONCAT args: must pass through verbatim
    st = [Statement("SET @a = 0", False),
          Statement("SELECT CONCAT(@a := name, '-') FROM t", False)]
    out = _expand_var_recurrences(st)
    assert out[1].text == st[1].text
    # WHERE-clause assignment: untouched too
    st2 = [Statement("SET @a = 0", False),
           Statement("SELECT x FROM t WHERE @a := y, z FROM u", False)]
    out2 = _expand_var_recurrences(st2)
    assert out2[1].text == st2[1].text
    # genuine select-list previous-key holder still rewrites
    st3 = [Statement("SET @p = 7", False),
           Statement("SELECT k, @p := k FROM t", False)]
    out3 = _expand_var_recurrences(st3)
    assert "@p" not in out3[1].text and "k AS p" in out3[1].text


def test_recur_stmt_quoted_alias_normalized():
    """AS 'rankno' on the whole-statement recurrence: the alias must
    splice as an identifier, not a string literal (ADVICE r11)."""
    from stonedb_spark.dialect import Statement, _expand_var_recurrences

    st = [Statement("SET @r = 0", False),
          Statement(
              "SELECT IF(@r != a, @r := 1, @r := @r + 1) AS 'rankno' "
              "FROM t1", False)]
    out = _expand_var_recurrences(st)
    assert "'rankno'" not in out[1].text
    assert "`rankno`" in out[1].text


def test_dml_where_only_temporal_normalization():
    """UPDATE ... SET d = 20230101 keeps the assignment verbatim; only
    the WHERE clause gets the temporal-compare rewrite (ADVICE r11)."""
    from stonedb_spark.dialect import _normalize_dml_where, parse_create_table

    td1 = parse_create_table(
        "CREATE TABLE t1 (id INT, d DATE) ENGINE=TIANMU")
    td2 = parse_create_table(
        "CREATE TABLE t2 (id INT, d DATE) ENGINE=TIANMU")
    tables = {"t1": td1, "t2": td2}
    s = ("UPDATE t1 JOIN t2 ON t1.id = t2.id "
         "SET t1.d = 20230101 WHERE t2.d = 20230101")
    out = _normalize_dml_where(s, tables, "spark")
    assert "SET t1.d = 20230101 " in out       # assignment untouched
    assert "COALESCE" in out.split("WHERE", 1)[1]  # compare rewritten
    # no WHERE: statement returned verbatim
    s2 = "UPDATE t1 SET d = 20230101"
    assert _normalize_dml_where(s2, tables, "spark") == s2


# ------------------------------------------------------------ stored programs
#
# CALL, stored functions and triggers share one body parser
# (dialect._sp_parse); each script runs on Spark and compiles to the
# DuckDB oracle from the same text.


SCRIPT_SP_CALL = """
create table t (k int, v varchar(10));
DELIMITER //
CREATE PROCEDURE fill(IN n INT)
BEGIN
  DECLARE i INT DEFAULT 0;
  WHILE i < n DO
    INSERT INTO t VALUES (i, 'w');
    SET i = i + 1;
  END WHILE;
  REPEAT
    SET i = i - 1;
  UNTIL i <= 2 END REPEAT;
  INSERT INTO t VALUES (100 + i, 'r');
  lbl: LOOP
    SET i = i + 1;
    IF i > 8 THEN
      LEAVE lbl;
    END IF;
    IF MOD(i, 2) = 0 THEN
      ITERATE lbl;
    END IF;
    INSERT INTO t VALUES (200 + i, 'l');
  END LOOP lbl;
  CASE i
    WHEN 8 THEN INSERT INTO t VALUES (300, 'eight');
    WHEN 9 THEN INSERT INTO t VALUES (301, 'nine');
    ELSE BEGIN END;
  END CASE;
END //
DELIMITER ;
CALL fill(5);
select * from t;
"""


def test_call_loops_and_case(spark):
    """WHILE, REPEAT … UNTIL, a labeled LOOP with LEAVE / ITERATE and a
    CASE statement, all unrolled at CALL time."""
    assert script_vs_oracle(spark, SCRIPT_SP_CALL) == [
        [0, "w"], [1, "w"], [2, "w"], [3, "w"], [4, "w"],
        [102, "r"], [203, "l"], [205, "l"], [207, "l"], [301, "nine"],
    ]


SCRIPT_SP_FUNCTION = """
create table p (id int, price int);
insert into p values (1, 10), (2, 20);
DELIMITER //
CREATE FUNCTION grade(x INT) RETURNS VARCHAR(10)
BEGIN
  DECLARE g VARCHAR(10) DEFAULT 'low';
  IF x >= 90 THEN
    SET g = 'top';
  ELSEIF x >= 50 THEN
    SET g = 'mid';
  END IF;
  RETURN g;
END //
CREATE FUNCTION total(n INT) RETURNS INT
BEGIN
  DECLARE i INT DEFAULT 1;
  DECLARE s INT DEFAULT 0;
  WHILE i <= n DO
    SET s = s + i;
    SET i = i + 1;
  END WHILE;
  RETURN s;
END //
CREATE FUNCTION price_of(k INT) RETURNS INT
BEGIN
  DECLARE v INT DEFAULT -1;
  SELECT price INTO v FROM p WHERE id = k;
  RETURN v;
END //
DELIMITER ;
select grade(95) as a, grade(60) as b, grade(10) as c, total(4) as s,
       price_of(2) as hit, price_of(7) as miss;
"""


def test_function_if_merge_while_and_select_into(spark):
    """IF/ELSEIF arms merge per variable; WHILE over a bound argument
    unrolls; SELECT … INTO that finds no row keeps the prior value."""
    assert script_vs_oracle(spark, SCRIPT_SP_FUNCTION) == [
        ["top", "mid", "low", 10, 20, -1],
    ]


SCRIPT_SP_TRIGGER = """
create table t1 (a int, b int, c varchar(10));
DELIMITER //
create trigger trg before insert on t1 for each row
begin
  if new.a > 10 then
    set new.b = new.a * 2, new.c = 'big';
  else
    set new.c = 'small';
  end if;
end//
DELIMITER ;
insert into t1 values (5, 0, ''), (20, 0, '');
select * from t1;
"""


def test_before_insert_trigger_sets_new(spark):
    """BEFORE INSERT trigger: SET NEW.x under IF / ELSE folds into the
    inserted rows."""
    assert script_vs_oracle(spark, SCRIPT_SP_TRIGGER) == [
        [5, 0, "small"], [20, 40, "big"],
    ]


def test_stored_program_loop_cap(monkeypatch):
    """One loop bound for every walker: a loop that does not terminate
    within it raises, one that finishes at the bound does not."""
    import stonedb_spark.dialect as D

    monkeypatch.setattr(D, "_SP_LOOP_CAP", 50)
    call = (
        "DELIMITER //\n"
        "CREATE PROCEDURE spin(IN n INT)\nBEGIN\n"
        "  DECLARE i INT DEFAULT 0;\n"
        "  WHILE i < n DO SET i = i + 1; END WHILE;\n"
        "  SELECT i;\nEND //\nDELIMITER ;\nCALL spin({n});\n"
    )
    assert [s.text for s in split_mtr(call.format(n=50))][-1] == "SELECT 50"
    with pytest.raises(ValueError, match="did not terminate"):
        split_mtr(call.format(n=51))
    func = (
        "BEGIN DECLARE i INT DEFAULT 0; "
        "lbl: LOOP SET i = i + 1; END LOOP lbl; RETURN i; END"
    )
    with pytest.raises(ValueError, match="did not terminate"):
        D._compile_proc_body(func)


# ------------------------------------------------- DDL and row triggers
#
# TRUNCATE, ALTER TABLE and triggers run through the dialect, as the
# reference runs them in the MySQL SQL layer above Tianmu.  The
# registered dialect_alter_* / dialect_trg_* entries check the MTR
# scripts; these inline scripts pin the legs those scripts do not reach
# (TEMPORARY tables: test_temptable.py; AUTO_INCREMENT: test_autoinc.py).


SCRIPT_TRIGGER_UPDATE_AUDIT = """
create table emp (id int, lastname varchar(10));
create table audit (id int, lastname varchar(10), old_lastname varchar(10),
                    action varchar(10));
insert into emp values (1, 'smith'), (2, 'jones');
create trigger bu before update on emp for each row
  insert into audit values (new.id, new.lastname, old.lastname, 'update');
update emp set lastname = 'brown' where id = 1;
select * from emp;
select * from audit;
"""


def test_before_update_trigger_writes_audit_row(spark):
    """BEFORE UPDATE trigger inserting one audit row per updated row,
    with the NEW and OLD images of the row (issue1318's audit shape)."""
    assert script_vs_oracle(spark, SCRIPT_TRIGGER_UPDATE_AUDIT, 0) == [
        [1, "brown"], [2, "jones"],
    ]
    assert script_vs_oracle(spark, SCRIPT_TRIGGER_UPDATE_AUDIT, 1) == [
        [1, "brown", "smith", "update"],
    ]


SCRIPT_TRIGGER_DELETE_LOG = """
create table t (id int, v int);
create table log (id int, v int);
insert into t values (1, 10), (2, NULL), (3, 30);
create trigger ad after delete on t for each row
  insert into log values (old.id, old.v);
delete from t where v > 5;
select id from t;
select * from log;
"""


def test_after_delete_trigger_logs_old_rows(spark):
    """AFTER DELETE trigger logging OLD.* per deleted row; the row whose
    WHERE is NULL is neither deleted nor logged."""
    assert script_vs_oracle(spark, SCRIPT_TRIGGER_DELETE_LOG, 0) == [[2]]
    assert script_vs_oracle(spark, SCRIPT_TRIGGER_DELETE_LOG, 1) == [
        [1, 10], [3, 30],
    ]


SCRIPT_ALTER_VALIDATES = """
create table t (a int, b varchar(5), c int);
insert into t values (1, 'x', 300), (2, NULL, 5), (2, 'z', 7);
--error 1060
alter table t change b c varchar(5);
--error 1060
alter table t rename column b to a;
--error 1138
alter table t modify b varchar(5) not null;
--error 1264
alter table t modify c tinyint;
--error 1062
alter table t add primary key (a);
--error 1138
alter table t add primary key (b);
alter table t change b b2 varchar(5);
alter table t add column f int default 7 first;
alter table t add column m int default 8 after a;
update t set b2 = 'y' where b2 is null;
alter table t modify b2 varchar(5) not null;
alter table t add primary key (b2);
select * from t;
"""


def test_alter_validates_existing_rows(spark):
    """ALTER TABLE checks the rows it rewrites: renaming onto a taken
    name is 1060, NULL -> NOT NULL over a NULL is 1138, narrowing past a
    value is 1264, a new PRIMARY KEY over repeats is 1062 and over a
    NULL is 1138.  A refused ALTER leaves the table as it was; FIRST /
    AFTER place new columns, which read their DEFAULT."""
    assert script_vs_oracle(spark, SCRIPT_ALTER_VALIDATES) == [
        [7, 1, 8, "x", 300], [7, 2, 8, "y", 5], [7, 2, 8, "z", 7],
    ]
