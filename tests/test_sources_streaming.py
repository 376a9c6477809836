"""CSV loader reject path, LOAD DATA and SELECT ... INTO OUTFILE through
the dialect (checked against the DuckDB oracle), and the IVM folds."""

from __future__ import annotations

import pytest
from pyspark.sql import functions as F
from pyspark.sql.types import (
    DoubleType,
    IntegerType,
    StringType,
    StructField,
    StructType,
)

from stonedb_spark.catalog import load_tables
from stonedb_spark.dialect import run_script
from stonedb_spark.sources.csvload import read_csv_with_rejects
from stonedb_spark.testing import script_vs_oracle

SCHEMA = StructType(
    [
        StructField("id", IntegerType()),
        StructField("name", StringType()),
        StructField("amount", DoubleType()),
    ]
)


def test_csv_load_with_rejects(spark, tmp_path):
    csv = tmp_path / "in.csv"
    csv.write_text(
        "1,alpha,10.5\n"
        "2,beta,20.25\n"
        "bad_id,gamma,1.0\n"      # unparseable int
        "3,delta,not_a_number\n"  # unparseable double
        "4,epsilon,40.0\n"
    )
    good, bad = read_csv_with_rejects(spark, str(csv), SCHEMA)
    good_rows = sorted(r.id for r in good.collect())
    bad_rows = sorted(r.raw for r in bad.collect())
    assert good_rows == [1, 2, 4]
    assert bad_rows == ["3,delta,not_a_number", "bad_id,gamma,1.0"]


def test_dml_queries(spark, oracle, sf_dir):
    from stonedb_spark.queries import all_queries
    from stonedb_spark.testing import check_query

    for name in sorted(n for n in all_queries() if n.startswith("dml_")):
        q = all_queries()[name]
        problems = check_query(spark, oracle, q, sf_dir)
        assert not problems, f"{name}: {problems}"
        assert q.build(spark, sf_dir).count() > 0


def test_csv_load_column_subset_with_defaults(spark, tmp_path):
    """issue1865.test: LOAD DATA ... (a, c) into an (a, b, c) table —
    the missing column takes its DEFAULT, and changing the default
    between loads affects only subsequent batches."""
    f = tmp_path / "in.csv"
    f.write_text("1,hello\n2,world\n")
    load = f"load data infile '{f}' into table t fields terminated by ',' (a, c);\n"
    rows = script_vs_oracle(
        spark,
        "create table t (a int, b int, c varchar(10));\n"
        + load
        + "alter table t alter column b set default 10;\n"
        + load
        + "select a, b, c from t;\n",
    )
    # first load: no default -> NULL; second load: the new DEFAULT 10
    assert {(a, None if b != b else b, c) for a, b, c in rows} == {
        (1, None, "hello"), (1, 10, "hello"), (2, None, "world"), (2, 10, "world"),
    }


def test_load_data_infile_skip_lines_collist_set(spark, tmp_path):
    """issue1000.test distilled: IGNORE n LINES for n=0..4, a (col_list)
    in file order, and ``(col, @var) SET col = expr``; issue1153/1209:
    LINES TERMINATED BY with and without ENCLOSED BY."""
    f1 = tmp_path / "issue1000-1.txt"
    f1.write_text("1,one\n2,two\n3,three\n4,four\n")
    ld = f"load data infile '{f1}' into table"
    script = "".join(
        f"create table t{n} (id int, name varchar(10));\n"
        f"{ld} t{n} fields terminated by ',' ignore {n} lines;\n"
        for n in range(5)
    ) + " union all ".join(f"select {n} as n, id from t{n}" for n in range(5))
    rows = script_vs_oracle(spark, script + ";\n")
    assert rows == [[n, i] for n in range(5) for i in range(n + 1, 5)]

    # (col_list) with swapped file order: the file holds (id2, id1)
    f2 = tmp_path / "issue1000-2.txt"
    f2.write_text("hdr,hdr\n20,10\n40,30\n")
    assert script_vs_oracle(
        spark,
        "create table t (id1 int, id2 int);\n"
        f"load data infile '{f2}' into table t fields terminated by ',' "
        "ignore 1 lines (id2, id1);\n"
        "select id1, id2 from t;\n",
    ) == [[10, 20], [30, 40]]

    # (col, @var) SET: the variable feeds an expression, and a SET on a
    # column missing from the list fills it
    assert script_vs_oracle(
        spark,
        "create table t (id int, name varchar(10), x int);\n"
        f"{ld} t fields terminated by ',' (id, @nm) "
        "set name = concat('n-', @nm), x = 888 / 2;\n"
        "select id, name, x from t;\n",
    ) == [[i, f"n-{w}", 444] for i, w in enumerate(["one", "two", "three", "four"], 1)]

    # LINES TERMINATED BY ';' (issue1209); without ENCLOSED BY the quotes
    # are data (issue1153)
    f3 = tmp_path / "issue1209.txt"
    f3.write_text('1,"a",7;2,"b",8;')
    for enclosed, a, b in (("enclosed by '\"'", "a", "b"), ("", '"a"', '"b"')):
        assert script_vs_oracle(
            spark,
            "create table t (id int, a varchar(10), id2 int);\n"
            f"load data infile '{f3}' into table t fields terminated by ',' "
            f"{enclosed} lines terminated by ';';\n"
            "select id, a, id2 from t;\n",
        ) == [[1, a, 7], [2, b, 8]]


def test_ivm_join_parity_stepwise(spark, sf_dir):
    """Delta-join IVM: after EVERY batch of deltas (either side), the
    maintained view must be row-identical (multiset) to the full join
    of the states applied so far — the algebra's disjointness claim,
    checked stepwise, interleaving both sides."""
    from stonedb_spark.operators.ivm import delta_join

    t = load_tables(spark, sf_dir)
    orders = (
        t["orders"]
        .filter(F.col("o_orderkey") <= 600)
        .select("o_orderkey", F.col("o_custkey").alias("custkey"), "o_totalprice")
    )
    cust = t["customer"].select(
        F.col("c_custkey").alias("custkey"), "c_name"
    )
    a_parts = [orders.filter(F.col("o_orderkey") % 3 == i) for i in range(3)]
    b_parts = [cust.filter(F.col("custkey") % 2 == i) for i in range(2)]
    steps = [
        (a_parts[0], None),
        (None, b_parts[0]),
        (a_parts[1], None),
        (None, b_parts[1]),
        (a_parts[2], None),
    ]
    cols = ["custkey", "o_orderkey", "o_totalprice", "c_name"]
    a_state = b_state = view = None
    for da, db in steps:
        nj = delta_join(a_state, b_state, da, db, "custkey")
        if nj is not None:
            view = nj if view is None else view.unionByName(nj)
        if da is not None:
            a_state = da if a_state is None else a_state.unionByName(da)
        if db is not None:
            b_state = db if b_state is None else b_state.unionByName(db)
        if view is None:
            assert a_state is None or b_state is None
            continue
        got = sorted(tuple(r) for r in view.select(*cols).collect())
        expect = sorted(
            tuple(r) for r in a_state.join(b_state, "custkey").select(*cols).collect()
        )
        assert got == expect and len(got) > 0


def test_ivm_join_weighted_retraction(spark, sf_dir):
    """Weighted IVM under DML: insert both sides, then retract a
    subset of orders (w=-1) and update one customer name (retract old
    + insert new).  The consolidated view must equal the join of the
    NET states — deletes cancel every pair they produced, the update
    swaps the payload."""
    from stonedb_spark.operators.ivm import (
        consolidate,
        delta_join_weighted,
    )

    t = load_tables(spark, sf_dir)
    orders = (
        t["orders"]
        .filter(F.col("o_orderkey") <= 500)
        .select("o_orderkey", F.col("o_custkey").alias("custkey"))
    )
    cust = t["customer"].select(F.col("c_custkey").alias("custkey"), "c_name")
    ins_a = orders.withColumn("_w", F.lit(1))
    ins_b = cust.withColumn("_w", F.lit(1))
    del_a = orders.filter(F.col("o_orderkey") % 7 == 0).withColumn(
        "_w", F.lit(-1)
    )
    upd_key = orders.agg(F.min("custkey")).collect()[0][0]
    old_b = cust.filter(F.col("custkey") == upd_key)
    upd_b = old_b.withColumn("_w", F.lit(-1)).unionByName(
        old_b.withColumn("c_name", F.concat(F.col("c_name"), F.lit("_v2")))
        .withColumn("_w", F.lit(1))
    )

    a_state, b_state, view = None, None, None
    for da, db in [(ins_a, None), (None, ins_b), (del_a, None), (None, upd_b)]:
        nj = delta_join_weighted(a_state, b_state, da, db, "custkey")
        if nj is not None:
            view = nj if view is None else view.unionByName(nj)
        if da is not None:
            a_state = da if a_state is None else a_state.unionByName(da)
        if db is not None:
            b_state = db if b_state is None else b_state.unionByName(db)

    got = sorted(
        (r.custkey, r.o_orderkey, r.c_name, r._w)
        for r in consolidate(view).collect()
    )
    net_a = consolidate(a_state).drop("_w")
    net_b = consolidate(b_state).drop("_w")
    expect = sorted(
        (r.custkey, r.o_orderkey, r.c_name, 1)
        for r in net_a.join(net_b, "custkey").collect()
    )
    assert got == expect and len(got) > 0
    # the deleted orders are gone, the updated name is the _v2 one
    assert all(k % 7 != 0 for _, k, _, _ in got)
    v2 = [n for c, _, n, _ in got if c == upd_key]
    assert v2 and all(n.endswith("_v2") for n in v2)


def test_weighted_agg_matview_under_dml(spark, sf_dir):
    """COUNT/SUM are group aggregates with inverses: folding insert
    batches then a delete batch (w=-1 for every 3rd event) must leave
    the view equal to the direct aggregate of the surviving rows, and
    a fully-deleted group must VANISH (net n == 0), not linger as a
    zero row."""
    from stonedb_spark.operators.ivm import fold_weighted_agg

    ev = (
        load_tables(spark, sf_dir)["events"]
        .filter(F.col("event_id") <= 900)
        .select("event_id", "event_type", "value")
    )
    ins = ev.withColumn("_w", F.lit(1))
    dels = ev.filter(F.col("event_id") % 3 == 0).withColumn("_w", F.lit(-1))
    # wipe one whole group to check the vanish rule
    gone = ev.select("event_type").distinct().orderBy("event_type").first()[0]
    dels2 = ev.filter(
        (F.col("event_type") == gone) & (F.col("event_id") % 3 != 0)
    ).withColumn("_w", F.lit(-1))

    state = None
    for half in (ins.filter(F.col("event_id") % 2 == 0),
                 ins.filter(F.col("event_id") % 2 == 1),
                 dels, dels2):
        state = fold_weighted_agg(state, half)

    survivors = ev.filter(
        (F.col("event_id") % 3 != 0) & (F.col("event_type") != gone)
    )
    expect = {
        r["event_type"]: (r["n"], r["total"])
        for r in survivors.groupBy("event_type")
        .agg(
            F.count(F.lit(1)).cast("long").alias("n"),
            F.sum(F.col("value").cast("decimal(38,10)")).alias("total"),
        )
        .collect()
    }
    got = {r["event_type"]: (r["n"], r["total"]) for r in state.collect()}
    assert got == expect
    assert gone not in got and len(got) > 0


def test_ivm_left_join_view(spark, sf_dir):
    """left_view must equal the LEFT JOIN of the net states: matched
    rows come from the consolidated inner view, unmatched left rows
    are null-extended — including rows that BECOME unmatched after
    their only right match is retracted."""
    from stonedb_spark.operators.ivm import (
        consolidate,
        delta_join_weighted,
        left_view,
    )

    t = load_tables(spark, sf_dir)
    orders = (
        t["orders"]
        .filter(F.col("o_orderkey") <= 400)
        .select("o_orderkey", F.col("o_custkey").alias("custkey"))
    )
    # only even custkeys exist on the right; odd-custkey orders are
    # unmatched from the start
    cust = (
        t["customer"]
        .filter(F.col("c_custkey") % 2 == 0)
        .select(F.col("c_custkey").alias("custkey"), "c_name")
    )
    # retract every customer divisible by 6 -> their orders FLIP to
    # unmatched
    dels = cust.filter(F.col("custkey") % 6 == 0).withColumn("_w", F.lit(-1))

    a_state = orders.withColumn("_w", F.lit(1))
    b_state, view = None, None
    for da, db in [(None, cust.withColumn("_w", F.lit(1))), (None, dels)]:
        nj = delta_join_weighted(a_state if db is not None else None,
                                 b_state, da, db, "custkey")
        # first step: a_state exists, b delta joins it; pass states correctly
        if nj is not None:
            view = nj if view is None else view.unionByName(nj)
        if db is not None:
            b_state = db if b_state is None else b_state.unionByName(db)

    lv = left_view(a_state, view, "custkey", ["c_name"])
    got = sorted(
        (r.custkey, r.o_orderkey, r.c_name, r._w) for r in lv.collect()
    )
    net_b = consolidate(b_state).drop("_w")
    expect = sorted(
        (r.custkey, r.o_orderkey, r.c_name, 1)
        for r in orders.join(net_b, "custkey", "left").collect()
    )
    assert got == expect and len(got) > 0
    # both unmatched classes present: never-matched and flipped
    assert any(c % 2 == 1 and n is None for c, _, n, _ in got)
    assert any(c % 6 == 0 and n is None for c, _, n, _ in got)


def test_load_doubled_quotes_multiline_and_odd_quote_reject(spark, tmp_path):
    """issue1263.test distilled: ENCLOSED BY '"' fields escape an
    embedded enclosure by DOUBLING it (`""` -> `"`), and enclosed
    fields may span physical lines (issue1263-2.txt embeds newlines
    mid-message).  An ODD quote run (issue1263-3.txt) mis-terminates
    the field, so the record cannot fill the column list: a strict load
    aborts with error 1261 and loads nothing, a LOCAL load NULL-pads the
    short row and keeps the clean record after the damage."""
    table = "create table t (id int, msg varchar(100), flag varchar(1));\n"
    opts = "into table t fields terminated by ',' enclosed by '\"'"

    f_even = tmp_path / "issue1263-2.txt"
    f_even.write_text(
        '"1","error at ""HOST.SVC"", line 49\n tail","Y"\n'
        '"2","plain","N"\n'
    )
    assert script_vs_oracle(
        spark,
        table + f"load data infile '{f_even}' {opts};\n"
        "select id, msg, flag from t;\n",
    ) == [[1, 'error at "HOST.SVC", line 49\n tail', "Y"], [2, "plain", "N"]]

    f_odd = tmp_path / "issue1263-3.txt"
    f_odd.write_text(
        '"1","error at """HOST.SVC""", line 49\n tail","Y"\n'
        '"2","plain","N"\n'
    )
    strict = table + f"load data infile '{f_odd}' {opts};\nselect count(*) as n from t;\n"
    with pytest.raises(ValueError, match="1261"):
        run_script(spark, strict)
    assert script_vs_oracle(spark, strict.replace("load data", "--error 1261\nload data")) == [[0]]

    rows = script_vs_oracle(
        spark,
        table + f"load data local infile '{f_odd}' {opts};\n"
        "select id, msg, flag from t;\n",
    )
    assert [2, "plain", "N"] in rows
    assert any(flag is None for _, _, flag in rows)  # the NULL-padded short row


def test_outfile_enclosed_null_marker_roundtrip(spark, tmp_path):
    """issue1169.test distilled: SELECT ... INTO OUTFILE with FIELDS
    ENCLOSED BY '"' wraps every non-NULL field and, with
    @TIANMU_LOAD_NULL set, writes NULL as the unquoted \\N marker; LOAD
    DATA back over the same options restores values AND NULLs, and an
    enclosed empty string stays the empty string."""
    out = tmp_path / "issue1169_out.txt"
    export = (
        "create table src (id int, name varchar(20), note varchar(30));\n"
        "insert into src values (1, 'say \"hi\"', NULL), (2, 'plain', 'ok'),"
        " (3, NULL, 'multi \"x\" note'), (4, '', NULL);\n"
        "set @TIANMU_LOAD_NULL = 1;\n"
        f"select id, name, note from src into outfile '{out}' "
        "fields terminated by ',' enclosed by '\"';\n"
    )
    rows = script_vs_oracle(
        spark,
        export
        + "create table dst (id int, name varchar(20), note varchar(30));\n"
        f"load data infile '{out}' into table dst "
        "fields terminated by ',' enclosed by '\"';\n"
        "select id, name, note from dst;\n",
    )
    assert rows == [
        [1, 'say "hi"', None], [2, "plain", "ok"],
        [3, None, 'multi "x" note'], [4, "", None],
    ]
    # the file itself, reloaded one line per row with no field parsing:
    # the enclosure inside a field is escaped with the escape character
    # (MySQL's select_export), and NULL is the bare marker
    lines = run_script(
        spark,
        export
        + "create table raw_lines (line varchar(200));\n"
        f"load data infile '{out}' into table raw_lines "
        "fields terminated by '\\t' escaped by '';\n"
        "select line from raw_lines;\n",
    ).toPandas()["line"]
    assert sorted(lines) == [
        '"1","say \\"hi\\"",\\N', '"2","plain","ok"',
        '"3",\\N,"multi \\"x\\" note"', '"4","",\\N',
    ]


def test_self_doubling_insert_select(spark, tmp_path):
    """issue1079_366.test distilled: INSERT INTO t SELECT f(t) FROM t
    repeatedly doubles the table, and every subsequent statement must
    read its own prior writes (10 -> 20 -> 40 -> 80 rows with distinct
    shifted keys).  Append-mode parquet writes + fresh reads model the
    reference's delta-store read-your-writes ingest."""
    tbl = str(tmp_path / "t")
    base = spark.range(1, 11).select(
        F.col("id").alias("fi"),
        F.concat(F.lit("VAR-"), F.col("id")).alias("v"),
    )
    base.write.parquet(tbl)
    shift = 10
    for expect in (20, 40, 80):
        cur = spark.read.parquet(tbl)
        nxt = cur.select(
            (F.col("fi") + shift).alias("fi"),
            F.concat(F.lit("VAR-"), F.col("fi") + shift).alias("v"),
        )
        nxt.write.mode("append").parquet(tbl)
        got = spark.read.parquet(tbl)
        assert got.count() == expect
        assert got.select("fi").distinct().count() == expect
        shift *= 2


def test_ivm_minmax_delete_extremum_repairs(spark):
    """fold_minmax_agg: deleting a group's max triggers the per-group
    rescan (B: 9 leaves, max repairs to 2); deleting ONE of a
    duplicated max keeps the extremum but still rescans conservatively
    (A: one of two 5s leaves, max stays 5)."""
    from pyspark.sql import functions as F

    from stonedb_spark.operators.ivm import fold_minmax_agg

    def frame(rows, w):
        return spark.createDataFrame(
            [(g, float(v)) for g, v in rows], "event_type string, value double"
        ).withColumn("_w", F.lit(w))

    ins = [("A", 1), ("A", 5), ("A", 5), ("B", 2), ("B", 9)]
    base1 = frame(ins, 1).drop("_w")
    state = fold_minmax_agg(None, frame(ins, 1), base1)
    got = {r["event_type"]: (r["mn"], r["mx"], r["n"]) for r in state.collect()}
    assert got == {"A": (1.0, 5.0, 3), "B": (2.0, 9.0, 2)}

    dels = [("A", 5), ("B", 9)]
    live = [("A", 1), ("A", 5), ("B", 2)]
    state2 = fold_minmax_agg(state, frame(dels, -1), frame(live, 1).drop("_w"))
    got = {r["event_type"]: (r["mn"], r["mx"], r["n"]) for r in state2.collect()}
    assert got == {"A": (1.0, 5.0, 2), "B": (2.0, 2.0, 1)}

    # deleting a group's remaining rows drops it from the view
    state3 = fold_minmax_agg(
        state2, frame([("B", 2)], -1), frame([("A", 1), ("A", 5)], 1).drop("_w")
    )
    got = {r["event_type"]: (r["mn"], r["mx"], r["n"]) for r in state3.collect()}
    assert got == {"A": (1.0, 5.0, 2)}


def test_load_data_skip_lines_with_custom_line_sep(spark, tmp_path):
    """IGNORE n LINES where 'line' = LINES TERMINATED BY '|': the skip
    counts |-terminated records, not physical newlines
    (T/loader/parsing_strategy.h:28 semantics)."""
    f = tmp_path / "pipes.txt"
    f.write_text("hdr,skip me|1,x|2,y|3,z|")
    assert script_vs_oracle(
        spark,
        "create table t (a int, s varchar(10));\n"
        f"load data infile '{f}' into table t fields terminated by ',' "
        "lines terminated by '|' ignore 1 lines;\n"
        "select a, s from t;\n",
    ) == [[1, "x"], [2, "y"], [3, "z"]]


def test_load_data_skip_lines_with_multiline_fields(spark, tmp_path):
    """IGNORE n with multiline enclosed fields skips n quote-aware
    RECORDS — a physical-line skip would cut the embedded newline in
    the header record mid-field."""
    f = tmp_path / "multi.csv"
    f.write_text('0,"header\ncontinues"\n1,"line1\nline2"\n2,plain\n')
    assert script_vs_oracle(
        spark,
        "create table t (a int, s varchar(30));\n"
        f"load data infile '{f}' into table t fields terminated by ',' "
        "enclosed by '\"' ignore 1 lines;\n"
        "select a, s from t;\n",
    ) == [[1, "line1\nline2"], [2, "plain"]]
