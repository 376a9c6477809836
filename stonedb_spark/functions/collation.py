"""Charset/collation semantics beyond utf8_general_ci (SURVEY.md §2.2).

Reference surface: per-column charsets/collations in comparisons,
GROUP BY and ORDER BY — mysql-test/suite/tianmu/t/different_charsets_a
.test and _b.test (gbk + utf8mb4 columns, joins across charsets), plus
the PAD SPACE rule every MySQL 5.7 collation applies to CHAR/VARCHAR
comparisons (trailing spaces are insignificant).

``collation_key(col, mysql_collation)`` is an engine-PORTABLE
normalization key (rtrim → accent translate → lower), expressible
identically in any SQL dialect.  This is what the DuckDB oracle runs,
and what a migration can use on engines without collation support.
Keys are also the explicit GROUP BY/ORDER BY handle (deterministic
representative, unlike "whichever group member came first").
"""

from __future__ import annotations

from pyspark.sql import Column
from pyspark.sql import functions as F

# One-to-one accent fold for the Latin-1 letters the MTR corpus uses;
# identical literal on the oracle side (translate is 1-char→1-char in
# both engines).  ß→s matches utf8_general_ci's single-char weight.
ACCENT_SRC = "ÁÀÂÃÄÅáàâãäåÉÈÊËéèêëÍÌÎÏíìîïÓÒÔÕÖóòôõöÚÙÛÜúùûüÇçÑñÝýÿß"
ACCENT_DST = "AAAAAAaaaaaaEEEEeeeeIIIIiiiiOOOOOoooooUUUUuuuuCcNnYyys"


def collation_key(col: Column | str, mysql_collation: str = "utf8mb4_general_ci") -> Column:
    """Engine-portable normalization key.

    Collation classes (MySQL 5.7 semantics):
    * ``binary`` (the BINARY/VARBINARY *type*) — NO PAD, byte compare:
      the raw string is its own key.
    * ``*_bin`` collations — PAD SPACE, case/accent sensitive: rtrim.
    * ``latin1_general_ci`` — PAD SPACE + case fold, accents DISTINCT
      (latin1 weights keep á ≠ a): rtrim + lower.
    * utf8/utf8mb4 ``*_general_ci`` — PAD SPACE + case fold + accent
      fold to the base letter: rtrim + translate + lower.
    """
    c = F.col(col) if isinstance(col, str) else col
    if mysql_collation == "binary":
        return c
    c = F.rtrim(c)
    if mysql_collation.endswith("_bin"):
        return c
    if mysql_collation.startswith("latin1"):
        return F.lower(c)
    return F.lower(F.translate(c, ACCENT_SRC, ACCENT_DST))


def collation_key_sql(expr: str, mysql_collation: str = "utf8mb4_general_ci") -> str:
    """The identical key as ANSI SQL text (for DuckDB oracles)."""
    if mysql_collation == "binary":
        return expr
    out = f"RTRIM({expr})"
    if mysql_collation.endswith("_bin"):
        return out
    if mysql_collation.startswith("latin1"):
        return f"LOWER({out})"
    return f"LOWER(TRANSLATE({out}, '{ACCENT_SRC}', '{ACCENT_DST}'))"


def coll_eq(a: Column, b: Column, mysql_collation: str = "utf8mb4_general_ci") -> Column:
    """collation-aware equality via portable keys (PAD SPACE included)."""
    return collation_key(a, mysql_collation) == collation_key(b, mysql_collation)

