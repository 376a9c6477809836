"""TEMPORARY table lifecycle (temporary.test analog) through the
dialect: create/insert/query/drop, the 1050 and 1051 errors, and a
TEMPORARY table shadowing a permanent one until it is dropped.  Each
script runs on Spark and against its DuckDB oracle."""

from __future__ import annotations

from stonedb_spark.testing import script_vs_oracle

SCRIPT_LIFECYCLE = """
create table p (x int, tag varchar(5));
insert into p values (0, 'even'), (1, 'odd');
create temporary table tt (x int);
insert into tt values (0), (1), (2), (3), (4);
select sum(x) as s, count(*) as n from tt;
select p.tag, count(*) as n from tt join p on mod(tt.x, 2) = p.x
group by p.tag;
insert into tt values (0), (1), (2);
--error 1050
create temporary table tt (x int);
select sum(x) as s, count(*) as n from tt;
drop temporary table tt;
--error 1051
drop temporary table tt;
--error 1146
select * from tt;
select count(*) as n from p;
"""


def test_create_insert_query_drop(spark):
    """Inserts append, the table joins a permanent one like any
    relation, a second TEMPORARY table of its name is 1050, and once
    dropped it is gone: a second DROP is 1051."""
    assert script_vs_oracle(spark, SCRIPT_LIFECYCLE, 0) == [[10, 5]]
    assert script_vs_oracle(spark, SCRIPT_LIFECYCLE, 1) == [
        ["even", 3], ["odd", 2],
    ]
    assert script_vs_oracle(spark, SCRIPT_LIFECYCLE, 2) == [[13, 8]]
    assert script_vs_oracle(spark, SCRIPT_LIFECYCLE, 3) == [[2]]


SCRIPT_SHADOW = """
create table t (v int);
insert into t values (1), (2);
create temporary table t (v int);
insert into t values (99);
select * from t;
drop table t;
select * from t;
insert into t values (3);
select * from t;
"""


def test_shadowing_permanent_table(spark):
    """A TEMPORARY table shadows a same-named permanent table; DROP
    removes the temporary one and the permanent table, rows intact,
    takes inserts again."""
    assert script_vs_oracle(spark, SCRIPT_SHADOW, 0) == [[99]]
    assert script_vs_oracle(spark, SCRIPT_SHADOW, 1) == [[1], [2]]
    assert script_vs_oracle(spark, SCRIPT_SHADOW, 2) == [[1], [2], [3]]


SCRIPT_SHADOW_LIKE = """
create table t (v int);
insert into t values (1), (2);
create table s (v int);
create temporary table t like s;
insert into t values (99);
select * from t;
drop table t;
select * from t;
"""

SCRIPT_SHADOW_CTAS = """
create table t (v int);
insert into t values (1), (2);
create table s (v int);
insert into s values (7);
create temporary table t select * from s;
insert into t values (99);
select * from t;
drop table t;
select * from t;
"""


def test_shadowing_by_like_and_ctas(spark):
    """The LIKE and CTAS forms of CREATE TEMPORARY TABLE hide the
    permanent table like the column-definition form: DROP brings it
    back with its rows."""
    assert script_vs_oracle(spark, SCRIPT_SHADOW_LIKE, 0) == [[99]]
    assert script_vs_oracle(spark, SCRIPT_SHADOW_LIKE, 1) == [[1], [2]]
    assert script_vs_oracle(spark, SCRIPT_SHADOW_CTAS, 0) == [[7], [99]]
    assert script_vs_oracle(spark, SCRIPT_SHADOW_CTAS, 1) == [[1], [2]]
