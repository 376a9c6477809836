"""AUTO_INCREMENT lifecycle (auto_increment.test,
init_auto_increment_value.test, issue1848.test analogs) through the
dialect: explicit ids kept, the counter moved past them, the initial
counter value, the counter carried across INSERT statements, and exact
ids past 2^53.  Each script runs on Spark and against its DuckDB
oracle."""

from __future__ import annotations

from stonedb_spark.testing import script_vs_oracle

SCRIPT_EXPLICIT_IDS = """
create table t (id bigint not null auto_increment, v varchar(5),
                primary key (id));
insert into t (id, v) values (100, 'a'), (null, 'b'), (null, 'c'),
                             (7, 'd'), (null, 'e');
insert into t (v) values ('f');
select * from t;
"""


def test_explicit_ids_preserved_and_bump_counter(spark):
    """Explicit ids are kept; the counter starts past the largest one,
    and a smaller explicit id later in the statement leaves it alone."""
    assert script_vs_oracle(spark, SCRIPT_EXPLICIT_IDS) == [
        [7, "d"], [100, "a"], [101, "b"], [102, "c"], [103, "e"],
        [104, "f"],
    ]


SCRIPT_INIT_VALUE = """
create table t (id int not null auto_increment, v int,
                primary key (id)) auto_increment=500;
insert into t (v) values (1), (2);
insert into t (v) values (3);
select * from t;
"""


def test_init_value_floor(spark):
    """AUTO_INCREMENT=500 is the first id assigned."""
    assert script_vs_oracle(spark, SCRIPT_INIT_VALUE) == [
        [500, 1], [501, 2], [502, 3],
    ]


SCRIPT_ACROSS_BATCHES = """
create table t (id bigint not null auto_increment, v int,
                primary key (id)) auto_increment=100;
insert into t (v) values (0), (1), (2), (3), (4), (5), (6), (7), (8), (9);
insert into t (v) values (0), (1), (2), (3), (4);
insert into t (id, v) values (1000, 0), (null, 1);
insert into t (v) values (2);
select id from t;
"""


def test_append_lifecycle_across_batches(spark):
    """The second INSERT continues where the first stopped (no overlap,
    no gap); an explicit high id moves the counter past it."""
    assert script_vs_oracle(spark, SCRIPT_ACROSS_BATCHES) == [
        [i] for i in [*range(100, 115), 1000, 1001, 1002]
    ]


SCRIPT_BIG_SEED = """
create table t (id bigint not null auto_increment, v varchar(5),
                primary key (id)) auto_increment=9007199254740995;
insert into t (id, v) values (9007199254740985, 'x'), (null, 'a'),
                             (null, 'b'), (null, 'c');
insert into t (v) values ('d');
select * from t;
"""


def test_big_seed_exact_past_double_mantissa(spark):
    """issue1848.test seeds the counter near 3e15; a seed past 2^53
    pins that ids never round through a double."""
    seed = 2**53 + 3
    assert script_vs_oracle(spark, SCRIPT_BIG_SEED) == [
        [seed - 10, "x"], [seed, "a"], [seed + 1, "b"], [seed + 2, "c"],
        [seed + 3, "d"],
    ]
