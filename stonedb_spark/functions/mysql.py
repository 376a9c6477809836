"""MySQL 5.7 dialect shims over pyspark.sql.functions.

The reference implements NO scalar functions of its own — every
expression is delegated to MySQL's Item evaluator
(storage/tianmu/core/mysql_expression.cpp:164-180, SURVEY.md §2.8), so
its scalar surface is MySQL 5.7's function library.  This module is the
dialect layer: MySQL names/semantics expressed as Catalyst expressions
(never row-at-a-time Python UDFs — everything here stays inside
whole-stage codegen).

Test corpus parity: mysql-test/suite/tianmu/t/ function tests
(date_formats_func.test, func_math.test, case_function.test,
md5_function.test, period_diff.test, sec_to_time.test, …).
"""

from __future__ import annotations

import re

from pyspark.sql import Column
from pyspark.sql import functions as F

# ---------------------------------------------------------------------------
# DATE_FORMAT: MySQL % codes → JVM (java.time) datetime patterns.
# Coverage: the codes exercised by date_formats_func.test.
_MYSQL_TO_JVM = {
    "%Y": "yyyy",
    "%y": "yy",
    "%M": "MMMM",
    "%b": "MMM",
    "%m": "MM",
    "%c": "M",
    "%d": "dd",
    "%e": "d",
    "%H": "HH",
    "%k": "H",
    "%h": "hh",
    "%I": "hh",
    "%l": "h",
    "%i": "mm",
    "%s": "ss",
    "%S": "ss",
    "%f": "SSSSSS",
    "%p": "a",
    "%W": "EEEE",
    "%a": "EEE",
    "%j": "DDD",
    "%T": "HH:mm:ss",
    "%r": "hh:mm:ss a",
}


def mysql_format_to_jvm(fmt: str) -> str:
    """Translate a MySQL DATE_FORMAT pattern into a JVM pattern."""
    out: list[str] = []
    i = 0
    while i < len(fmt):
        ch = fmt[i]
        if ch == "%" and i + 1 < len(fmt):
            tok = fmt[i : i + 2]
            if tok == "%%":
                out.append("'%'")
            elif tok in _MYSQL_TO_JVM:
                out.append(_MYSQL_TO_JVM[tok])
            else:
                raise ValueError(f"unsupported DATE_FORMAT code {tok!r}")
            i += 2
        else:
            # literal text must be quoted in JVM patterns if alphabetic
            if re.match(r"[A-Za-z]", ch):
                out.append(f"'{ch}'")
            else:
                out.append(ch)
            i += 1
    return "".join(out)


def date_format(col: Column | str, mysql_fmt: str) -> Column:
    """MySQL DATE_FORMAT(col, '%Y-%m-%d ...')."""
    return F.date_format(col, mysql_format_to_jvm(mysql_fmt))


# ---------------------------------------------------------------------------
# Arithmetic / control with MySQL names.
def div(a: Column, b: Column) -> Column:
    """MySQL ``a DIV b``: integer division truncating toward zero.

    DECIMAL-exact: the operands are widened to DECIMAL(38,9) and divided
    with Spark's integral-divide (BigDecimal divideToIntegralValue —
    truncation toward zero, matching MySQL 5.7's "converted to DECIMAL
    and divided using DECIMAL arithmetic" rule).  A double detour here
    would round the 53-bit mantissa and mis-quote |a| > 2^53 — legit
    BIGINT territory exercised by bigint_unsigned.test.  b=0 → NULL
    (MySQL semantics; NULLIF keeps ANSI mode from raising)."""
    bd = b.cast("decimal(38,9)")
    return F.call_function("div", a.cast("decimal(38,9)"), F.nullif(bd, F.lit(0).cast("decimal(38,9)")))


def mod(a: Column, b: Column) -> Column:
    return a % b


def if_(cond: Column, then: Column, otherwise: Column) -> Column:
    """MySQL IF(cond, a, b)."""
    return F.when(cond, then).otherwise(otherwise)


def ifnull(a: Column, b: Column) -> Column:
    return F.coalesce(a, b)


def nullif(a: Column, b: Column) -> Column:
    return F.nullif(a, b)


def truncate(x: Column, d: int) -> Column:
    """MySQL TRUNCATE(x, d): toward zero at d decimal places.

    DECIMAL-exact for |x·10^d| < ~8e18: x is widened to DECIMAL(38,9)
    (no double-product rounding) and the integral part is taken with
    Spark's integral-divide, which truncates toward zero.  The old
    ``(x*scale).cast("long")`` wrapped past 2^63 and inherited double
    product error.  Past the guard threshold a double's ULP exceeds
    1/10^d many times over, so the fractional digits being truncated are
    not representable anyway: return x (d>=0) or strip the remainder
    with exact IEEE fmod (d<0)."""
    import math

    if d >= 0:
        s = 10**d
        # min(2^53, 8e18/10^d): past 2^53 doubles are integral; the
        # second term keeps the scaled DECIMAL inside long range.
        guard = min(9.0e15, 8.0e18 / s)
        # Size the decimal types so xdec * s keeps precision <= 38 with
        # NO precision-loss rounding (a flat decimal(38,9)*lit(100)
        # overflows p=38 and Spark would round the product to scale 6,
        # turning 0.9999999*100 into 100.000000 -> wrong truncation).
        int_digits = max(1, math.ceil(math.log10(guard)))
        xdec = x.cast(f"decimal({int_digits + 9},9)")
        sdec = F.lit(s).cast(f"decimal({d + 1},0)")
        whole = F.call_function("div", xdec * sdec, F.lit(1))
        exact = (whole.cast("decimal(20,0)") / F.lit(s)).cast("double")
        return F.when(F.abs(x.cast("double")) >= F.lit(guard), x.cast("double")).otherwise(exact)
    s = 10 ** (-d)
    whole = F.call_function("div", x.cast("decimal(25,9)"), F.lit(s).cast(f"decimal({-d + 1},0)"))
    exact = (whole.cast("decimal(20,0)") * F.lit(s).cast(f"decimal({-d + 1},0)")).cast("double")
    xd = x.cast("double")
    return F.when(F.abs(xd) >= F.lit(9.0e15), xd - xd % F.lit(float(s))).otherwise(exact)


def conv(n: Column | str, from_base: int, to_base: int) -> Column:
    """MySQL CONV(N, from_base, to_base) — base conversion, uppercase."""
    return F.conv(n, from_base, to_base)


def period_diff(p1: Column, p2: Column) -> Column:
    """MySQL PERIOD_DIFF(YYYYMM, YYYYMM) → months between periods."""
    months = lambda p: (p.cast("long") / 100).cast("long") * 12 + (p.cast("long") % 100)  # noqa: E731
    return months(p1) - months(p2)


def sec_to_time(seconds: Column) -> Column:
    """MySQL SEC_TO_TIME(s) → '[-]HHH:MM:SS' string (TIME has no Spark
    type).  Negative seconds render with a leading '-'; magnitude clamps
    at TIME's range limit 838:59:59 like the server; hours print
    unpadded past two digits ('100:00:39', never truncated)."""
    s0 = seconds.cast("long")
    sign = F.when(s0 < 0, F.lit("-")).otherwise(F.lit(""))
    s = F.least(F.abs(s0), F.lit(838 * 3600 + 59 * 60 + 59))
    hh = (s / 3600).cast("long")
    hh_str = F.when(hh < 100, F.lpad(hh.cast("string"), 2, "0")).otherwise(
        hh.cast("string")
    )
    return F.concat(
        sign,
        F.concat_ws(
            ":",
            hh_str,
            F.lpad(((s % 3600) / 60).cast("long").cast("string"), 2, "0"),
            F.lpad((s % 60).cast("string"), 2, "0"),
        ),
    )


def week_iso(col: Column | str) -> Column:
    """MySQL WEEK(d, 3) — ISO-8601 week of year (fast path; the general
    8-mode algorithm is :func:`week`)."""
    return F.weekofyear(col)


def _calc_week(d: Column, mode: int) -> tuple[Column, Column]:
    """MySQL calc_week semantics for all 8 WEEK modes, as pure Column
    expressions (whole-stage-codegen-able; no UDF).

    Mode bits (MySQL docs "WEEK(date[,mode])", reference delegates to the
    server's evaluator per SURVEY §2.8 / storage/tianmu/core/
    mysql_expression.cpp): bit0 = Monday-first, bit1 = return 1..53
    (attribute out-of-range days to the adjacent week-year), bit2 = week 1
    is the first week containing the week's first day (vs the ">= 4 days
    in this year" ISO-style rule); when Sunday-first, bit2's meaning is
    inverted (MySQL's week_mode() normalization).

    Returns ``(week, week_year)`` — the year is the one the week is
    attributed to (needed by YEARWEEK).
    """
    mode &= 7
    monday_first = bool(mode & 1)
    week_year = bool(mode & 2)
    first_weekday = bool(mode & 4)
    if not monday_first:
        first_weekday = not first_weekday

    y = F.year(d)
    jan1 = F.trunc(d, "year")
    prev_jan1 = F.add_months(jan1, -12)
    next_jan1 = F.add_months(jan1, 12)
    days_in_year = F.datediff(next_jan1, jan1)
    days_in_prev = F.datediff(jan1, prev_jan1)
    shift = 5 if monday_first else 6  # 0 = week's first day
    wd1 = (F.dayofweek(jan1) + F.lit(shift)) % 7  # weekday of Jan 1
    doy = F.dayofyear(d)  # == datediff(d, jan1) + 1

    def week1_not_here(wd: Column) -> Column:
        # True when the week containing Jan 1 (weekday-of-Jan1 = wd)
        # belongs to the previous year under this mode's week-1 rule.
        return (wd != 0) if first_weekday else (wd >= 4)

    def days_before(wd: Column, first_doy_off: Column) -> Column:
        # Days from the year's week-1 start to d (may be negative only
        # in branches where it cannot be reached).
        start = F.when(week1_not_here(wd), first_doy_off + (7 - wd)).otherwise(
            first_doy_off - wd
        )
        return (doy - 1) - start

    in_first = (F.month(d) == 1) & (F.dayofmonth(d) <= 7 - wd1)

    # --- d belongs to the tail week of the previous year -------------
    wd_prev = (wd1 + F.lit(53 * 7) - days_in_prev) % 7  # Jan-1 weekday, year-1
    days_prev = days_before(wd_prev, -days_in_prev)
    # ... unless that "tail" is ≥ 52 full weeks in, i.e. it is really
    # week 1 of the current year (week-year roll-forward).
    roll_prev = (wd1 == 0) if first_weekday else (wd1 < 4)
    prev_week = F.when((days_prev >= 52 * 7) & roll_prev, F.lit(1)).otherwise(
        (days_prev / 7).cast("int") + 1
    )
    prev_year = F.when((days_prev >= 52 * 7) & roll_prev, y).otherwise(y - 1)

    # --- normal path -------------------------------------------------
    days_cur = days_before(wd1, F.lit(0))
    wd_next = (wd1 + days_in_year) % 7  # Jan-1 weekday, year+1
    roll_next = (wd_next == 0) if first_weekday else (wd_next < 4)
    cur_week = (days_cur / 7).cast("int") + 1
    cur_year = y
    if week_year:
        spills = (days_cur >= 52 * 7) & roll_next
        cur_week = F.when(spills, F.lit(1)).otherwise(cur_week)
        cur_year = F.when(spills, y + 1).otherwise(y)

    if week_year:
        week = F.when(in_first, prev_week).otherwise(cur_week)
        year_out = F.when(in_first, prev_year).otherwise(cur_year)
    else:
        # Days before the first week-1 start are week 0 of this year.
        week = (
            F.when(in_first & week1_not_here(wd1), F.lit(0))
            .when(in_first, prev_week)
            .otherwise(cur_week)
        )
        year_out = F.when(in_first & week1_not_here(wd1), y).otherwise(
            F.when(in_first, prev_year).otherwise(cur_year)
        )
    return week.cast("int"), year_out.cast("int")


def week(col: Column | str, mode: int = 0) -> Column:
    """MySQL WEEK(d, mode) for every mode 0-7 (week_func.test,
    weekofyear_func.test; default_week_format sysvar default = 0)."""
    d = F.col(col) if isinstance(col, str) else col
    return _calc_week(d, mode)[0]


def yearweek(col: Column | str, mode: int = 0) -> Column:
    """MySQL YEARWEEK(d, mode) → YYYYWW (yearweek_func.test).  Always
    attributes boundary days to the adjacent week-year (WEEK_YEAR set)."""
    d = F.col(col) if isinstance(col, str) else col
    w, yy = _calc_week(d, (mode & 7) | 2)
    return (yy * 100 + w).cast("long")


def dayofweek(col: Column | str) -> Column:
    """MySQL DAYOFWEEK: 1 = Sunday … 7 = Saturday (ODBC standard)."""
    return F.dayofweek(col)


def weekday(col: Column | str) -> Column:
    """MySQL WEEKDAY: 0 = Monday … 6 = Sunday."""
    return (F.dayofweek(col) + 5) % 7


def last_day(col: Column | str) -> Column:
    return F.last_day(col)


def datediff(a: Column | str, b: Column | str) -> Column:
    """MySQL DATEDIFF(a, b) = days(a) - days(b)."""
    return F.datediff(a, b)


def time_to_sec(t: Column) -> Column:
    """MySQL TIME_TO_SEC('[-]HHH:MM:SS') — inverse of sec_to_time."""
    sign = F.when(t.startswith("-"), F.lit(-1)).otherwise(F.lit(1))
    body = F.regexp_replace(t, "^-", "")
    parts = F.split(body, ":")
    return sign * (
        parts.getItem(0).cast("long") * 3600
        + parts.getItem(1).cast("long") * 60
        + parts.getItem(2).cast("long")
    )


def left(s: Column | str, n: int) -> Column:
    return F.substring(s, 1, n)


def right(s: Column | str, n: int) -> Column:
    c = F.col(s) if isinstance(s, str) else s
    return F.substring(c, -n, n)


def mid(s: Column | str, pos: int, n: int) -> Column:
    """MySQL MID/SUBSTRING(s, pos, n) — 1-based."""
    return F.substring(s, pos, n)


def instr(s: Column | str, sub: str) -> Column:
    return F.instr(s, sub)


def repeat(s: Column | str, n: int) -> Column:
    return F.repeat(s, n)


def md5(s: Column | str) -> Column:
    return F.md5(s)


def sha256(s: Column | str) -> Column:
    return F.sha2(F.col(s) if isinstance(s, str) else s, 256)


# ---------------------------------------------------------------------------
# Collation / CHAR-padding semantics (SURVEY.md §7 "genuinely hard" list).
# MySQL 5.7's default collation (utf8_general_ci / latin1_swedish_ci) is
# case-INsensitive, and CHAR/VARCHAR comparison uses PAD SPACE semantics:
# trailing spaces are ignored ('abc' = 'abc  ').  Spark compares UTF8_BINARY
# NO PAD.  These helpers express MySQL comparison semantics as Catalyst
# expressions; tests: different_charsets_a.test, char-padding behavior in
# mysql-test/suite/tianmu/t/ (e.g. issue663.test trailing-space loads).


def ci(s: Column | str) -> Column:
    """Mark a string column case-insensitive (utf8_general_ci analog).

    Uses Spark 4 native collation — `=`/`<`/groupBy/joins on the result
    behave case-insensitively JVM-side (no lower() copy per row, and the
    collation is visible to the optimizer).
    """
    c = F.col(s) if isinstance(s, str) else s
    return F.collate(c, "UTF8_LCASE")


def ci_eq(a: Column | str, b: Column | str) -> Column:
    """utf8_general_ci + PAD SPACE equality — MySQL's default = on CHAR."""
    ca = F.col(a) if isinstance(a, str) else a
    cb = F.col(b) if isinstance(b, str) else b
    return ci(F.rtrim(ca)) == ci(F.rtrim(cb))


# ---------------------------------------------------------------------------
# Date/time arithmetic (adddate_func.test, addtime_function.test,
# timediff.test, timestampadd_func.test, date_add_sub in the MTR corpus).


def adddate(d: Column | str, days: int) -> Column:
    """ADDDATE / DATE_ADD(d, INTERVAL n DAY)."""
    return F.date_add(d, days)


def subdate(d: Column | str, days: int) -> Column:
    """SUBDATE / DATE_SUB(d, INTERVAL n DAY)."""
    return F.date_sub(d, days)


def add_months_(d: Column | str, months: int) -> Column:
    """DATE_ADD(d, INTERVAL n MONTH) — end-of-month clamped like MySQL."""
    return F.add_months(d, months)


def timestampadd(unit: str, n: int, ts: Column | str) -> Column:
    """TIMESTAMPADD(unit, n, ts); unit in SECOND/MINUTE/HOUR/DAY/…"""
    c = F.col(ts) if isinstance(ts, str) else ts
    return F.timestamp_add(unit.upper(), F.lit(n), c)


def addtime(ts: Column | str, seconds: int) -> Column:
    """ADDTIME(ts, 'HH:MM:SS') with the offset given in seconds."""
    return timestampadd("SECOND", seconds, ts)


def timediff(a: Column | str, b: Column | str) -> Column:
    """TIMEDIFF(a, b) as 'H…H:MM:SS' (hours NOT wrapped at 24, as MySQL)."""
    ca = F.col(a) if isinstance(a, str) else a
    cb = F.col(b) if isinstance(b, str) else b
    return sec_to_time(ca.cast("long") - cb.cast("long"))


def dayname(col: Column | str) -> Column:
    """MySQL DAYNAME() — full English weekday name
    (dayname_function.test)."""
    return F.date_format(col, "EEEE")


def monthname(col: Column | str) -> Column:
    """MySQL MONTHNAME() — full English month name."""
    return F.date_format(col, "MMMM")


def unsigned(col: Column | str) -> Column:
    """MySQL UNSIGNED BIGINT analog.  Spark has no unsigned integers and
    doubles lose precision past 2^53, so the full 0..2^64-1 range is
    carried exactly in DECIMAL(20,0) (unsigned_math.test,
    bigint_unsigned.test semantics)."""
    c = F.col(col) if isinstance(col, str) else col
    return c.cast("decimal(20,0)")


def udiv(a: Column | str, b: Column | str) -> Column:
    """MySQL ``DIV`` over unsigned operands: exact floor division.
    Decimal divide keeps enough fractional digits that FLOOR lands on
    the exact quotient even at the top of the u64 range."""
    return F.floor(unsigned(a) / unsigned(b)).cast("decimal(20,0)")


def umod(a: Column | str, b: Column | str) -> Column:
    """MySQL ``%`` over unsigned operands, exact in decimal."""
    return (unsigned(a) % unsigned(b)).cast("decimal(20,0)")


def zerofill(col: Column | str, width: int) -> Column:
    """MySQL ZEROFILL display format: left-pad the integer's text to the
    column display width.  Values wider than the width print unpadded
    (zerofill.test: 123456789 in INT(8) ZEROFILL) — plain LPAD would
    truncate them, hence the guard."""
    c = F.col(col) if isinstance(col, str) else col
    s = c.cast("string")
    return F.when(F.length(s) >= width, s).otherwise(F.lpad(s, width, "0"))


def bin_(col: Column | str) -> Column:
    """MySQL BIN(n) — binary digits string (func_bit.test corpus)."""
    c = F.col(col) if isinstance(col, str) else col
    return F.bin(c)


def oct_(col: Column | str) -> Column:
    """MySQL OCT(n) = CONV(n, 10, 8)."""
    c = F.col(col) if isinstance(col, str) else col
    return F.conv(c.cast("string"), 10, 8)


def hex_(col: Column | str) -> Column:
    """MySQL HEX() — numbers → uppercase hex of the value, strings →
    hex of the bytes; Spark's hex has identical semantics."""
    c = F.col(col) if isinstance(col, str) else col
    return F.hex(c)


def unhex_str(col: Column | str) -> Column:
    """MySQL UNHEX() rendered back to a string (UTF-8 decode of the
    byte pairs)."""
    c = F.col(col) if isinstance(col, str) else col
    return F.unhex(c).cast("string")


def strcmp(a: Column | str, b: Column | str) -> Column:
    """MySQL STRCMP(a,b) → -1/0/1 in binary collation."""
    ca = F.col(a) if isinstance(a, str) else a
    cb = F.col(b) if isinstance(b, str) else b
    return F.when(ca < cb, -1).when(ca > cb, 1).otherwise(0)


def format_int(col: Column | str) -> Column:
    """MySQL FORMAT(n, 0) over integral n: thousands separators.
    Restricted to integers on purpose — FORMAT over doubles rounds
    half-up on the decimal expansion (MySQL) vs half-even on the binary
    one (IEEE printf), a cross-engine trap the DECIMAL path avoids."""
    c = F.col(col) if isinstance(col, str) else col
    return F.format_number(c.cast("long"), 0)


def cot(col: Column | str) -> Column:
    """MySQL COT(x) = 1/TAN(x)."""
    c = F.col(col) if isinstance(col, str) else col
    return F.lit(1.0) / F.tan(c)


# ---------------------------------------------------------------------------
# Tianmu sentinel-adjusted integer ranges (SURVEY §1.2): every numeric is
# an int64 internally and NULL is a reserved in-domain sentinel
# (NULL_VALUE_32 = 0x80000000, common_definitions.h:127-138), so the
# reference's INT range is [-2147483647, 2147483647] — one short of two's
# complement — and similarly for the other widths.  Non-strict inserts
# clamp out-of-range values to these bounds (out_of_range_issue1151.test,
# integer_range.test, signed_boundary.test).
TIANMU_INT_RANGES = {
    "tinyint": (-127, 127),
    "smallint": (-32767, 32767),
    "mediumint": (-8388607, 8388607),
    "int": (-2147483647, 2147483647),
    "bigint": (-9223372036854775806, 9223372036854775807),
}


def tianmu_int_cast(col: Column, dtype: str = "int") -> Column:
    """Clamp an integer expression into the reference's sentinel-adjusted
    range for ``dtype`` (MySQL non-strict out-of-range insert behavior,
    with Tianmu's one-short minimums).  NULL passes through.  The clamp
    runs in DECIMAL(38,0) so an input that already overflows int64
    (MySQL promotes to its decimal Item; DuckDB to HUGEINT) clamps
    instead of raising ANSI ARITHMETIC_OVERFLOW — callers computing
    wide products should also build them in DECIMAL."""
    lo, hi = TIANMU_INT_RANGES[dtype]
    x = col.cast("decimal(38,0)")
    lod, hid = F.lit(lo).cast("decimal(38,0)"), F.lit(hi).cast("decimal(38,0)")
    return F.greatest(F.least(x, hid), lod).cast("long")


def insert_str(s: Column, pos: Column, length: Column, repl: Column) -> Column:
    """MySQL INSERT(str, pos, len, newstr): replace len chars at pos
    (1-based) with newstr; returns str unchanged when pos is out of
    range (mid_function.test exercises the family).  A negative len (or
    one extending past the end) replaces the REST of the string in
    MySQL; naive substring(s, pos+len) with len<0 would make Spark
    count the start from the string END, so the tail start is pinned
    past the string for that case.  Composed from concat∘substring —
    the same guarded formula runs in the DuckDB oracles."""
    tail_start = F.when(length < F.lit(0), F.char_length(s) + F.lit(1)).otherwise(
        pos + length
    )
    out = F.concat(
        F.substring(s, F.lit(1), pos - F.lit(1)),
        repl,
        F.substring(s, tail_start, F.lit(2147483647)),
    )
    return F.when((pos < F.lit(1)) | (pos > F.char_length(s)), s).otherwise(out)


def export_set(bits: Column, on: str, off: str, sep: str = ",", n_bits: int = 8) -> Column:
    """MySQL EXPORT_SET(bits, on, off, sep, n): low bit first."""
    return F.array_join(
        F.array(
            *[
                F.when(bits.bitwiseAND(F.lit(1 << i)) != 0, on).otherwise(off)
                for i in range(n_bits)
            ]
        ),
        sep,
    )


def make_set(bits: Column, *items: str) -> Column:
    """MySQL MAKE_SET(bits, s1, s2, ...): comma-join the items whose
    bit is set (low bit = first item); NULL items are skipped by MySQL —
    not modeled (callers pass literals)."""
    picked = [
        F.when(bits.bitwiseAND(F.lit(1 << i)) != 0, F.lit(s)) for i, s in enumerate(items)
    ]
    return F.array_join(F.array_compact(F.array(*picked)), ",")


def locate(sub: str, s: Column, pos: int | None = None) -> Column:
    """MySQL LOCATE(substr, str[, pos]) — 1-based, 0 when absent."""
    if pos is None:
        return F.instr(s, sub).cast("long")
    return F.locate(sub, s, pos).cast("long")


_COMPOSITE_UNITS = {
    # MySQL composite EXTRACT units -> positional decimal packing
    # (issue845.test, issue464.test; MySQL manual "temporal intervals")
    "YEAR_MONTH": (("year", 100), ("month", 1)),
    "DAY_HOUR": (("day", 100), ("hour", 1)),
    "DAY_MINUTE": (("day", 10000), ("hour", 100), ("minute", 1)),
    "DAY_SECOND": (("day", 1000000), ("hour", 10000), ("minute", 100), ("second", 1)),
    "HOUR_MINUTE": (("hour", 100), ("minute", 1)),
    "HOUR_SECOND": (("hour", 10000), ("minute", 100), ("second", 1)),
    "MINUTE_SECOND": (("minute", 100), ("second", 1)),
}


def extract_composite(ts: Column | str, unit: str) -> Column:
    """MySQL EXTRACT with a composite unit (DAY_HOUR, MINUTE_SECOND, …):
    the fields are packed positionally in decimal, e.g.
    EXTRACT(DAY_MINUTE FROM '2019-07-02 01:02:03') = 2*10000+1*100+2 =
    20102 (issue845.test).  Spark's extract has no composite units, so
    the packing is spelled out from the scalar fields."""
    c = F.col(ts) if isinstance(ts, str) else ts
    parts = _COMPOSITE_UNITS[unit.upper()]
    getters = {
        "year": F.year,
        "month": F.month,
        "day": F.dayofmonth,
        "hour": F.hour,
        "minute": F.minute,
        "second": F.second,
    }
    out = F.lit(0).cast("long")
    for field, weight in parts:
        out = out + getters[field](c).cast("long") * F.lit(weight)
    return out


def str_to_date_time(s: Column | str, mysql_fmt: str) -> Column:
    """MySQL STR_TO_DATE with a TIME-only format (issue975.test:
    '%H:%i:%s', '%T', '%h:%i:%s%p', '%r') — MySQL yields a TIME value;
    Spark has no TIME type, so the result is modeled as the canonical
    'HH:mm:ss' string (NULL on parse failure, like MySQL)."""
    c = F.col(s) if isinstance(s, str) else s
    jvm = mysql_format_to_jvm(mysql_fmt)
    return F.date_format(F.try_to_timestamp(c, F.lit(jvm)), "HH:mm:ss")


def inet_aton(ip: Column | str) -> Column:
    """MySQL INET_ATON: dotted forms with 1-4 parts.  With fewer than 4
    parts the LAST part covers the remaining low bytes (MySQL docs:
    '127.1' = 127.0.0.1, '127.0.1' = 127.0.0.1 — i.e. a.b -> a*2^24+b,
    a.b.c -> a*2^24+b*2^16+c).  Leading parts must be <= 255; the last
    part must fit its covered width.  NULL on malformed input
    (select_function_calls.test family; log-pipeline staple).  Pure
    Catalyst: regex-validate then octet arithmetic per arity."""
    c = F.col(ip) if isinstance(ip, str) else ip
    parts = F.split(c, r"\.")
    n = F.size(parts)

    def p(i):
        # try_cast: ANSI mode must not raise on the branches whose
        # guard is false (codegen does not short-circuit when())
        return parts.getItem(i).try_cast("long")

    ok_shape = c.rlike(r"^\d+(\.\d+){0,3}$")
    # (arity predicate, value, range check) per MySQL short-form rule
    forms = [
        (n == 1, p(0), p(0) <= 4294967295),
        (n == 2, p(0) * 16777216 + p(1), (p(0) <= 255) & (p(1) <= 16777215)),
        (
            n == 3,
            (p(0) * 256 + p(1)) * 65536 + p(2),
            (p(0) <= 255) & (p(1) <= 255) & (p(2) <= 65535),
        ),
        (
            n == 4,
            ((p(0) * 256 + p(1)) * 256 + p(2)) * 256 + p(3),
            (p(0) <= 255) & (p(1) <= 255) & (p(2) <= 255) & (p(3) <= 255),
        ),
    ]
    out = F.lit(None).cast("long")
    for arity, val, rng in reversed(forms):
        out = F.when(ok_shape & arity & rng, val).otherwise(out)
    return out


def inet_ntoa(n: Column) -> Column:
    """MySQL INET_NTOA(n) → dotted quad for 0 <= n < 2^32, else NULL."""
    x = n.cast("long")
    parts = [
        F.shiftright(x, 24).bitwiseAND(F.lit(255)),
        F.shiftright(x, 16).bitwiseAND(F.lit(255)),
        F.shiftright(x, 8).bitwiseAND(F.lit(255)),
        x.bitwiseAND(F.lit(255)),
    ]
    quad = F.concat_ws(".", *[p.cast("string") for p in parts])
    return F.when((x >= 0) & (x <= 4294967295), quad)

