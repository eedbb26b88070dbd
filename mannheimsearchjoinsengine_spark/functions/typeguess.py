"""Per-value type guessing + per-column type election (reference P6/P7).

Cascade order replicates ``TableProcessor/ColumnTypeGuesser.guessTypeForValue``
(``ColumnTypeGuesser.java:41-97``): list → unit → date → bool → link →
coordinate → numeric → string, with the 50-char cutoff (values longer than 50
chars skip unit/date/bool/coord/numeric, lines 47-51). The type enum is the
reference's ``ColumnDataType`` (``model/TableColumn.java:23-25``) minus
``unknown``.

Implemented as one chained CASE expression — whole-stage codegen, no Python.
``duck_guess_type`` emits the identical cascade for DuckDB oracles.

Unit abbreviations here cover the synthetic corpus (km2 / cm / MUSD); the
reference's full dictionary lives in ``Units/`` (``units/UnitManager.java:
162-240``) and slots into the same regex alternation.
"""

from __future__ import annotations

from pyspark.sql import Column
from pyspark.sql import functions as F

from mannheimsearchjoinsengine_spark.functions.units import unit_alternation

LIST_RE = r"^\{.+\|.+\}$"
# unit alternation generated from the one conversion table (functions/units)
UNIT_RE = rf"^-?[0-9][0-9,]*(\.[0-9]+)? ({unit_alternation()})$"
# shape gate for the date-parse cascade (resolve.DATE_FORMATS); mirrors the
# reference's regex→format dispatch table (parsers/DateUtil.java:45-123).
# [a-z] because the cascade input is lowercased first — like the reference,
# "May 05 1987" (3-letter full month) falls through the {4,} branch to
# string, replicating DateUtil's own ^[a-z]{4,}... gap.
DATE_RE = (
    r"^([0-9]{2}/[0-9]{2}/[0-9]{4}|[0-9]{4}-[0-9]{2}-[0-9]{2}"
    r"|[0-9]{2}\.[0-9]{2}\.[0-9]{4}|[0-9]{4}/[0-9]{2}/[0-9]{2}"
    r"|[0-9]{2}-[0-9]{2}-[0-9]{4}|[0-9]{8}"
    r"|[0-9]{2} [a-z]{3,} [0-9]{4}|[a-z]{4,} [0-9]{2} [0-9]{4}"
    r"|[0-9]{2}[-./][a-z]{4,}[-./][0-9]{4}"
    r"|[0-9]{2}[-./][0-9]{4}"
    r"|[0-9]{4})$"
)
# '[0-9]{4}' last branch: DATE_FORMAT_REGEXPS has '^\d{4}$' -> 'yyyy'
# (DateUtil.java:122) and the date check runs BEFORE numeric, so in the
# reference EVERY bare 4-digit integer is typed date — quirk replicated.
# BOOL: the reference checks `Boolean.parseBoolean(value)`
# (ColumnTypeGuesser.java:82-83), which is true only for "true" — so
# "false" falls through to STRING. Quirk replicated, not fixed.
BOOL_RE = r"^true$"
LINK_RE = r"^(https?://|www\.)"
COORD_RE = r"^-?[0-9]+\.[0-9]+, -?[0-9]+\.[0-9]+$"
NUMERIC_RE = r"^-?[0-9][0-9,]*(\.[0-9]+)?$"


def guess_type(col: Column) -> Column:
    """dtype enum for one value column (string in, string out)."""
    lc = F.lower(F.trim(col))
    short = F.length(lc) <= 50
    return (
        F.when(lc.rlike(LIST_RE), "list")
        .when(short & lc.rlike(UNIT_RE), "unit")
        .when(short & lc.rlike(DATE_RE), "date")
        .when(short & lc.rlike(BOOL_RE), "bool")
        .when(lc.rlike(LINK_RE), "link")
        .when(short & lc.rlike(COORD_RE), "coordinate")
        .when(short & lc.rlike(NUMERIC_RE), "numeric")
        .otherwise("string")
    )


def duck_guess_type(expr: str) -> str:
    lc = f"lower(trim({expr}))"
    short = f"length({lc}) <= 50"
    return f"""CASE
      WHEN regexp_matches({lc}, '{LIST_RE}') THEN 'list'
      WHEN {short} AND regexp_matches({lc}, '{UNIT_RE}') THEN 'unit'
      WHEN {short} AND regexp_matches({lc}, '{DATE_RE}') THEN 'date'
      WHEN {short} AND regexp_matches({lc}, '{BOOL_RE}') THEN 'bool'
      WHEN regexp_matches({lc}, '{LINK_RE}') THEN 'link'
      WHEN {short} AND regexp_matches({lc}, '{COORD_RE}') THEN 'coordinate'
      WHEN {short} AND regexp_matches({lc}, '{NUMERIC_RE}') THEN 'numeric'
      ELSE 'string' END"""


# -------- numeric parse shared by resolution/median paths (P15 analog:
# ``datafusion/TableDataCleaner.normalizeColumnNumeric:167-180``) --------

def parse_numeric(col: Column) -> Column:
    """Strip grouping commas and cast; NULL when not numeric (try_cast —
    Spark 4 ANSI mode would otherwise throw on non-numeric strings)."""
    return F.regexp_replace(F.trim(col), ",", "").try_cast("double")
