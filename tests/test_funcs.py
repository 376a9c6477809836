"""MySQL-dialect scalar function battery vs the DuckDB oracle."""

from __future__ import annotations

import pytest

from stonedb_spark.functions.mysql import mysql_format_to_jvm
from stonedb_spark.queries import all_queries
from stonedb_spark.testing import check_query

NAMES = sorted(n for n in all_queries() if n.startswith("func_"))


@pytest.mark.parametrize("name", NAMES)
def test_func_matches_oracle(spark, oracle, sf_dir, name):
    q = all_queries()[name]
    problems = check_query(spark, oracle, q, sf_dir)
    assert not problems, f"{name}: {problems}"


def test_mysql_format_translation():
    assert mysql_format_to_jvm("%Y-%m-%d") == "yyyy-MM-dd"
    assert mysql_format_to_jvm("%H:%i:%s") == "HH:mm:ss"
    assert mysql_format_to_jvm("%d/%m/%y") == "dd/MM/yy"
    assert mysql_format_to_jvm("%%") == "'%'"
    with pytest.raises(ValueError):
        mysql_format_to_jvm("%Q")


def test_mysql_collation_and_pad_semantics(spark):
    """ci_eq reproduces MySQL utf8_general_ci + PAD SPACE compare."""
    from stonedb_spark.functions import mysql as M

    df = spark.createDataFrame(
        [("abc", "ABC  "), ("abc ", "abc"), ("abc", "abd"), ("Straße", "STRASSE")],
        ["a", "b"],
    )
    got = df.select(M.ci_eq("a", "b").alias("ci")).collect()
    assert [r["ci"] for r in got] == [True, True, False, False]


def test_session_variables_user_var_analog(spark):
    """MySQL user variables (func_define.test, user_function.test):
    Spark 4 SQL session variables are the engine analog."""
    spark.sql("DECLARE OR REPLACE VARIABLE v_min_size INT DEFAULT 10")
    spark.sql("SET VAR v_min_size = 25")
    got = spark.sql("SELECT v_min_size AS v, v_min_size * 2 AS v2").collect()[0]
    assert (got.v, got.v2) == (25, 50)


def _week_py(d, mode):
    """Independent WEEK oracle: week-1-start counting formulation (not the
    engine's branch structure). Returns (week, week_year)."""
    import datetime as dt

    mode &= 7
    monday_first = bool(mode & 1)
    week_year = bool(mode & 2)
    first_weekday = bool(mode & 4)
    if not monday_first:
        first_weekday = not first_weekday

    def off(x):  # days since this week's start day
        return (x.isoweekday() - 1) % 7 if monday_first else x.isoweekday() % 7

    def week1_start(year):
        if first_weekday:  # first week containing the week's start day
            j = dt.date(year, 1, 1)
            return j + dt.timedelta((7 - off(j)) % 7)
        j4 = dt.date(year, 1, 4)  # 4-day rule: the week containing Jan 4
        return j4 - dt.timedelta(off(j4))

    y = d.year
    w1 = week1_start(y)
    if d < w1:
        if not week_year:
            return 0, y
        return (d - week1_start(y - 1)).days // 7 + 1, y - 1
    if week_year and d >= week1_start(y + 1):
        return 1, y + 1
    return (d - w1).days // 7 + 1, y


@pytest.mark.parametrize("mode", range(8))
def test_week_all_modes_vs_independent_oracle(spark, mode):
    import datetime as dt

    from pyspark.sql import functions as F

    from stonedb_spark.functions import mysql as M

    start = dt.date(1992, 12, 20)
    days = (dt.date(2005, 1, 20) - start).days + 1
    df = spark.range(days).select(
        F.date_add(F.lit(start), F.col("id").cast("int")).alias("d")
    )
    got = (
        df.select(
            "d",
            M.week("d", mode).alias("w"),
            M.yearweek("d", mode).alias("yw"),
        )
        .orderBy("d")
        .collect()
    )
    assert len(got) == days
    for r in got:
        ew, _ = _week_py(r["d"], mode)
        eyy, eww = _week_py(r["d"], (mode & 7) | 2)[1], _week_py(r["d"], (mode & 7) | 2)[0]
        assert r["w"] == ew, (r["d"], mode, r["w"], ew)
        assert r["yw"] == eyy * 100 + eww, (r["d"], mode, r["yw"])


def test_week_mysql_doc_anchors(spark):
    """Values published in the MySQL 5.7 reference manual for WEEK/YEARWEEK."""
    import datetime as dt

    from stonedb_spark.functions import mysql as M

    rows = {
        ("2008-02-20", 0): 7,
        ("2008-02-20", 1): 8,
        ("2008-12-31", 1): 53,
        ("2000-01-01", 0): 0,
        ("2000-01-01", 2): 52,
    }
    df = spark.createDataFrame(
        [(dt.date.fromisoformat(s),) for s, _ in rows], ["d"]
    )
    for (s, mode), expect in rows.items():
        got = (
            df.filter(df["d"] == dt.date.fromisoformat(s))
            .select(M.week("d", mode).alias("w"))
            .collect()[0]["w"]
        )
        assert got == expect, (s, mode, got, expect)
    yw = df.select(M.yearweek("d").alias("yw"), "d").collect()
    by_date = {str(r["d"]): r["yw"] for r in yw}
    assert by_date["2000-01-01"] == 199952


def test_shim_semantics_on_edge_grid(spark):
    """One-pass grid of signed/boundary values through the numeric/time
    shims, compared against Python-computed MySQL semantics (truncation
    toward zero, period month arithmetic, HH:MM:SS rendering)."""
    import numpy as np
    from pyspark.sql import functions as F

    from stonedb_spark.functions import mysql as M

    rng = np.random.default_rng(7)
    secs = np.concatenate(
        [
            rng.integers(-360000, 360000, 496),
            [0, 59, -90, 3600, 86399, 359999, 3020399, 9999999, -9999999, -3020400, 100 * 3600 + 39],
        ]
    )
    periods = np.concatenate(
        [
            (rng.integers(1990, 2030, 507) * 100 + rng.integers(1, 13, 507)),
            [199901, 200012, 202501],
        ]
    )
    xs = np.round(np.concatenate(
        [rng.normal(0, 1000, 505), [-1.999, 1.999, -0.001, 0.0, 12345.6789]]
    ), 6)
    rows = [
        (int(s), int(p1), int(p2), float(x))
        for s, p1, p2, x in zip(secs, periods, periods[::-1], xs)
    ]
    df = spark.createDataFrame(rows, ["s", "p1", "p2", "x"])
    got = (
        df.select(
            "s", "p1", "p2", "x",
            M.sec_to_time(F.col("s")).alias("t"),
            M.period_diff(F.col("p1"), F.col("p2")).alias("pd"),
            M.truncate(F.col("x"), 2).alias("tr2"),
            M.time_to_sec(M.sec_to_time(F.col("s"))).alias("rt"),
        )
        .collect()
    )
    assert len(got) == len(rows)
    for r in got:
        s = min(abs(r["s"]), 838 * 3600 + 59 * 60 + 59)  # MySQL TIME clamp
        sign = "-" if r["s"] < 0 else ""
        assert r["t"] == f"{sign}{s // 3600:02d}:{s % 3600 // 60:02d}:{s % 60:02d}", r
        months = lambda p: (p // 100) * 12 + p % 100  # noqa: E731
        assert r["pd"] == months(r["p1"]) - months(r["p2"]), r
        # toward-zero truncation at 2 decimals (values are pre-rounded to
        # 6 decimals so float noise cannot straddle the boundary)
        import math
        assert r["tr2"] == math.trunc(round(r["x"] * 100, 4)) / 100.0, (r["x"], r["tr2"])
        # TIME_TO_SEC round-trips SEC_TO_TIME at the clamped magnitude
        assert r["rt"] == (1 if r["s"] >= 0 else -1) * s, r


def test_div_truncate_exact_past_double_mantissa(spark):
    """DIV and TRUNCATE must stay exact where a double detour rounds:
    |a| > 2^53 (bigint_unsigned.test territory) and x*10^d near 2^63
    (where the old (x*scale).cast('long') wrapped).  Expected values are
    computed with Python big-int / Decimal arithmetic mirroring MySQL's
    "convert to DECIMAL, divide, truncate toward zero" rule."""
    import decimal

    from pyspark.sql import functions as F

    from stonedb_spark.functions import mysql as M

    u53, u63 = 2**53, 2**63 - 1
    dividends = [u53 - 1, u53, u53 + 1, u53 + 3, u63, u63 - 1, 10**18 + 7, 12345, 0]
    divisors = [1, 2, 3, 7, 97, 10**9, u53 + 1]
    rows = [(a * s, b * t) for a in dividends for b in divisors
            for s in (1, -1) for t in (1, -1)] + [(u63, 0)]
    df = spark.createDataFrame(rows, "a long, b long")
    got = df.select("a", "b", M.div(F.col("a"), F.col("b")).alias("q")).collect()
    for r in got:
        a, b = r["a"], r["b"]
        exp = None if b == 0 else (abs(a) // abs(b)) * (1 if (a < 0) == (b < 0) else -1)
        assert r["q"] == exp, (a, b, r["q"], exp)

    def py_trunc(x: float, d: int) -> float:
        # mirror the shim: DECIMAL(38,9) widening (round half-up at 9
        # decimals), integral-divide toward zero, with the same
        # large-magnitude guard
        guard = min(9.0e15, 8.0e18 / 10**d) if d >= 0 else 9.0e15
        if abs(x) >= guard:
            if d >= 0:
                return x
            s = 10 ** (-d)
            return x - __import__("math").fmod(x, s)
        xd = decimal.Decimal(x).quantize(decimal.Decimal("1e-9"), decimal.ROUND_HALF_UP)
        q = decimal.Decimal(10) ** (-d)
        return float((xd / q).to_integral_value(decimal.ROUND_DOWN) * q)

    xs = [2**51 + 0.25, -(2**51 + 0.75), 9.1e16, 8.9e15, 1234567890123.456,
          -1234567890123.456, 0.009999999, 92233720368547.75, -92233720368547.75]
    for d in (0, 2, 6, -2):
        tdf = spark.createDataFrame([(float(x),) for x in xs], "x double")
        out = tdf.select("x", M.truncate(F.col("x"), d).alias("t")).collect()
        for r in out:
            assert r["t"] == py_trunc(r["x"], d), (r["x"], d, r["t"], py_trunc(r["x"], d))


def test_bit_type_shims(spark):
    """BIT(n) clamp/null ingest modes and display (alter_bit.test
    analog)."""
    from pyspark.sql import functions as F

    from stonedb_spark.functions import bittype as BT

    with pytest.raises(ValueError):
        BT.bit_cast(F.lit(1), 65)

    df = spark.createDataFrame([(x,) for x in (-3, 0, 5, 7, 8, 300)], "x long")
    got = df.select(
        "x",
        BT.bit_cast(F.col("x"), 3).alias("clamped"),
        BT.bit_cast(F.col("x"), 3, mode="null").alias("nulled"),
        BT.bit_display(BT.bit_cast(F.col("x"), 3), 3).alias("disp"),
    ).collect()
    by_x = {r["x"]: r for r in got}
    assert by_x[-3]["clamped"] == 0 and by_x[-3]["nulled"] is None
    assert by_x[5]["clamped"] == 5 and by_x[5]["disp"] == "101"
    assert by_x[8]["clamped"] == 7 and by_x[8]["nulled"] is None
    assert by_x[300]["clamped"] == 7
    assert by_x[0]["disp"] == "000"
    # BIT(64) keeps the full bit pattern
    wide = spark.createDataFrame([(2**63 - 1,), (-1,)], "x long")
    vals = [r["v"] for r in wide.select(BT.bit_cast(F.col("x"), 64).alias("v")).collect()]
    assert vals == [2**63 - 1, -1]


def test_bit_type_query_matches_oracle(spark, oracle, sf_dir):
    q = all_queries()["func_bit_type"]
    problems = check_query(spark, oracle, q, sf_dir)
    assert not problems, problems


def test_string_shim_grid_vs_python_model(spark):
    """insert_str / export_set / make_set / locate over a dense edge grid
    (multibyte strings, out-of-range positions, negative/zero/overlong lengths,
    bit patterns incl. 0 and wide ints) vs pure-Python models of the
    MySQL definitions — one Spark job for the whole grid."""
    from pyspark.sql import functions as F

    from stonedb_spark.functions import mysql as M

    strs = ["", "a", "ab", "héllo", "漢字abc", "red plate"]
    poss = [-1, 0, 1, 2, 3, 5, 6, 10]
    lens = [-100, -1, 0, 1, 3, 100]
    rows = [(s, p, ln) for s in strs for p in poss for ln in lens]
    df = spark.createDataFrame(rows, "s string, p int, ln int")
    got = df.select(
        "s", "p", "ln",
        M.insert_str(F.col("s"), F.col("p"), F.col("ln"), F.lit("XY")).alias("ins"),
    ).collect()

    def py_insert(s, p, ln):
        if p < 1 or p > len(s):
            return s
        if ln < 0:  # MySQL: negative len replaces the rest of the string
            return s[: p - 1] + "XY"
        return s[: p - 1] + "XY" + s[p - 1 + ln:]

    for r in got:
        assert r["ins"] == py_insert(r["s"], r["p"], r["ln"]), (r["s"], r["p"], r["ln"], r["ins"])

    bits = [0, 1, 2, 3, 5, 7, 8, 170, 255, 256, 2**31 - 1]
    bdf = spark.createDataFrame([(b,) for b in bits], "b long")
    bout = bdf.select(
        "b",
        M.export_set(F.col("b"), "Y", "N", ",", 8).alias("es"),
        M.make_set(F.col("b"), "a", "b", "c").alias("ms"),
    ).collect()
    for r in bout:
        b = r["b"]
        assert r["es"] == ",".join("Y" if b & (1 << i) else "N" for i in range(8))
        assert r["ms"] == ",".join(
            s for i, s in enumerate(("a", "b", "c")) if b & (1 << i)
        )

    ldf = spark.createDataFrame([(s,) for s in strs], "s string")
    lout = ldf.select(
        "s", M.locate("l", F.col("s")).alias("l2"), M.locate("l", F.col("s"), 4).alias("l3")
    ).collect()
    for r in lout:
        assert r["l2"] == r["s"].find("l") + 1
        f3 = r["s"].find("l", 3)
        assert r["l3"] == (0 if f3 < 0 else f3 + 1)


def test_hash_functions_vs_python_models(spark):
    """CRC32/MD5/SHA1/SHA2 against Python's zlib/hashlib — independent
    implementations of the same published algorithms (md5_function.test
    family; checksum columns are how ingest pipelines dedupe files)."""
    import hashlib
    import zlib

    from pyspark.sql import functions as F

    strs = ["", "a", "stonedb", "héllo wörld", "漢字", "x" * 1000]
    df = spark.createDataFrame([(s,) for s in strs], "s string")
    got = df.select(
        "s",
        F.crc32(F.col("s").cast("binary")).alias("crc"),
        F.md5(F.col("s").cast("binary")).alias("md5"),
        F.sha1(F.col("s").cast("binary")).alias("sha1"),
        F.sha2(F.col("s").cast("binary"), 256).alias("sha256"),
    ).collect()
    for r in got:
        b = r["s"].encode("utf-8")
        assert r["crc"] == zlib.crc32(b), r["s"]
        assert r["md5"] == hashlib.md5(b).hexdigest()
        assert r["sha1"] == hashlib.sha1(b).hexdigest()
        assert r["sha256"] == hashlib.sha256(b).hexdigest()


def test_inet_shims_edge_grid(spark):
    """INET_ATON/NTOA edges: boundary octets, malformed shapes, range
    limits — NULL exactly where MySQL returns NULL."""
    from pyspark.sql import functions as F

    from stonedb_spark.functions import mysql as M

    cases = [
        ("0.0.0.0", 0),
        ("255.255.255.255", 4294967295),
        ("1.2.3.4", 16909060),
        ("127.0.0.1", 2130706433),
        ("256.1.2.3", None),
        # MySQL short forms: the LAST part covers the remaining bytes
        ("127.1", 2130706433),
        ("127.0.1", 2130706433),
        ("1.2.3", 16908291),  # 1*2^24 + 2*2^16 + 3
        ("1", 1),
        ("4294967295", 4294967295),
        ("4294967296", None),  # 1-part out of 32-bit range
        ("127.16777216", None),  # 2-part tail exceeds 24-bit width
        ("1.2.65536", None),  # 3-part tail exceeds 16-bit width
        ("1.2.3.4.5", None),
        ("a.b.c.d", None),
        ("", None),
    ]
    df = spark.createDataFrame([(s,) for s, _ in cases], "ip string")
    got = {r["ip"]: r["n"] for r in df.select("ip", M.inet_aton("ip").alias("n")).collect()}
    for s, want in cases:
        assert got[s] == want, (s, got[s], want)

    nums = [(0, "0.0.0.0"), (4294967295, "255.255.255.255"), (16909060, "1.2.3.4"),
            (-1, None), (4294967296, None)]
    ndf = spark.createDataFrame([(n,) for n, _ in nums], "n long")
    back = {r["n"]: r["ip"] for r in ndf.select("n", M.inet_ntoa(F.col("n")).alias("ip")).collect()}
    for n, want in nums:
        assert back[n] == want, (n, back[n], want)


def test_scaled_long_matches_round_half_up(spark):
    """``exact.scaled_long`` rounds with floor/rint/signum instead of
    ``F.round`` (a BigDecimal per value); it must give the same long as
    ``F.round(x * 10^d, 0).cast('long')`` on ties of either sign, on the
    doubles just below a tie, past 2^52, on -0.0 and NULL, on a grid of
    3-decimal money values, and on NaN/±Infinity (whatever the session's
    ANSI mode makes of the cast: the same value or the same error)."""
    import numpy as np
    from pyspark.sql import functions as F

    from stonedb_spark.functions.exact import scaled_long

    edge = [0.5, -0.5, 1.5, -1.5, 2.5, -2.5, 0.49999999999999994,
            -0.49999999999999994, 2.4999999999999996, 1e15 + 0.5,
            -(1e15 + 0.5), 2.0**52 - 0.5, 2.0**52 + 1, -0.0, 0.0, None,
            1.005, 0.015, 0.125, -0.125, 12.345, 99.995]
    rng = np.random.default_rng(11)
    grid = (rng.integers(-10**7, 10**7, 400) / 1000.0).tolist()
    df = spark.createDataFrame([(v,) for v in edge + grid], "x double")
    for digits in (0, 2):
        old = F.round(F.col("x") * (10**digits), 0).cast("long")
        rows = df.select("x", old.alias("old"),
                         scaled_long("x", digits).alias("new")).collect()
        bad = [(r["x"], r["old"], r["new"]) for r in rows if r["old"] != r["new"]]
        assert not bad, (digits, bad[:10])
    assert df.select(scaled_long("x", 0).alias("v")).collect()[:6] == [
        (1,), (-1,), (2,), (-2,), (3,), (-3,)]

    special = spark.createDataFrame(
        [(float("nan"),), (float("inf"),), (float("-inf"),)], "x double")

    def outcome(col):
        try:
            return [r[0] for r in special.select(col).collect()]
        except Exception as e:  # noqa: BLE001 — the ANSI cast error
            return type(e).__name__
    for digits in (0, 2):
        old = F.round(F.col("x") * (10**digits), 0).cast("long")
        assert outcome(scaled_long("x", digits)) == outcome(old)
