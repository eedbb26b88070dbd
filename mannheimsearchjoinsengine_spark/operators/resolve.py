"""Stage 4b — conflict resolution (reference A4-A6).

Parity target ``datafusion/DuplicateResolver.java:294-467`` with the conf
dispatch (``searchJoins.conf:91-93``): string→voting, numeric/unit→median,
date→date-average, everything else (bool/link/list/coordinate)→first value.

Reference quirks replicated on purpose (flagged in SURVEY.md §7):

* voting (``votForFinalValue:371-389``): scans values in row order and only
  replaces the winner on a STRICTLY greater running count — so the winner is
  the first value to reach the final maximum count. Spark-native: for values
  whose total count equals the group max, the max-count-th occurrence is
  their LAST occurrence, so the winner is argmin(last_occurrence_ts) among
  max-count values.
* median (``getMedianValue:391-403``): sorted ascending; even n →
  ``values[n/2]`` (0-based) = upper middle; odd n → ``values[n/2+1]`` — one
  PAST the true median (the reference's off-by-one). n=1 would throw in the
  reference; we emit the single value (resolution is only invoked on
  duplicates there).
* date-average (``getAverageSecondsFromDates:405-421``): the loop overwrites
  instead of accumulating, so the result is epoch_seconds(LAST date) / n —
  replicated bit-for-bit (truncating division).

Values are numeric-normalized before resolution exactly like the reference
(``TableDataCleaner.normalizeColumnNumeric:167-180`` runs pre-resolution).

Every rule is computed once, by :func:`resolve_rules`: one aggregation per
(subj, pred) group over the value grain. A group's distinct values are held
in one array, bounded by the distinct values per entity-attribute.
"""

from __future__ import annotations

from pyspark.sql import Column, DataFrame
from pyspark.sql import functions as F

from mannheimsearchjoinsengine_spark.functions.typeguess import parse_numeric

# (spark_format, duckdb_strptime_format) — LIST ORDER IS THE DISPATCH
# PRIORITY, mirroring the reference's regex→SimpleDateFormat table
# (``parsers/DateUtil.java:45-123``). dd/MM/yyyy directly after MM/dd/yyyy
# replicates DateUtil.parse's explicit fallback (``DateUtil.java:184-192``):
# a slashed date whose first field can't be a month re-parses day-first;
# day ≤ 12 is (faithfully) month-first. Both engines' oracles are generated
# from THIS table so the cascade can't drift.
DATE_FORMATS: list[tuple[str, str]] = [
    ("MM/dd/yyyy", "%m/%d/%Y"),
    ("dd/MM/yyyy", "%d/%m/%Y"),
    ("yyyy-MM-dd", "%Y-%m-%d"),
    ("yyyy/MM/dd", "%Y/%m/%d"),
    ("dd.MM.yyyy", "%d.%m.%Y"),
    ("dd-MM-yyyy", "%d-%m-%Y"),
    ("yyyyMMdd", "%Y%m%d"),
    ("dd MMM yyyy", "%d %b %Y"),
    ("dd MMMM yyyy", "%d %B %Y"),
    ("MMMM dd yyyy", "%B %d %Y"),
    ("dd-MMMM-yyyy", "%d-%B-%Y"),
    ("dd.MMMM.yyyy", "%d.%B.%Y"),
    ("dd/MMMM/yyyy", "%d/%B/%Y"),
    ("MM.yyyy", "%m.%Y"),
    ("MM-yyyy", "%m-%Y"),
    ("MM/yyyy", "%m/%Y"),
    # bare 4-digit year LAST (DATE_FORMAT_REGEXPS '^\d{4}$' -> 'yyyy',
    # DateUtil.java:122): in the reference every 4-digit integer IS a date
    ("yyyy", "%Y"),
]
DATE_PATTERNS = [s for s, _ in DATE_FORMATS]  # spark-side list

# 2-digit-year formats (parsers/DateUtil.java:49-51,55-57,77-80): Spark-side
# only — Java SimpleDateFormat's 80/20 century window (docs: "80 years before
# and 20 years after instance creation") differs from DuckDB's fixed %y
# pivot, so these are NOT in the oracle cascade; golden pytests pin them.
# The reference's window floats with the wall clock (not reproducible across
# runs); CENTURY_NOW_YEAR pins it so checkpoint resume stays byte-identical.
CENTURY_NOW_YEAR = 2026
# value-shape gates (separator backreference keeps dd.MM-yy mixes out, which
# the reference's regex table also never matches)
_TWO_DIGIT_SHAPES = (
    r"^[0-9]{1,2}([./-])[0-9]{1,2}\1[0-9]{2}$"  # dd.MM.yy / dd-MM-yy / dd/MM/yy
    r"|^[0-9]{1,2}[./-][0-9]{2}$"  # MM.yy / MM-yy / MM/yy
    r"|^[0-9]{1,2}[ .//-][A-Za-z]{2,}[ .//-][0-9]{2}$"  # dd MMMM yy family
)

# timestamp formats (DateUtil.java:82-121), Spark-side only (sub-day grain
# has no twin in the day-grain oracle store). Strict parsing — the
# reference's lenient SimpleDateFormat rollovers (month 34 → year+2) are
# deliberately NOT replicated.
TIMESTAMP_FORMATS = [
    "yyyyMMddHHmm",
    "yyyyMMdd HHmm",
    "dd-MM-yyyy HH:mm",
    "yyyy-MM-dd HH:mm",
    "MM/dd/yyyy HH:mm",
    "yyyy/MM/dd HH:mm",
    "dd MMM yyyy HH:mm",
    "dd MMMM yyyy HH:mm",
    "yyyyMMddHHmmss",
    "yyyyMMdd HHmmss",
    "dd-MM-yyyy HH:mm:ss",
    "yyyy-MM-dd HH:mm:ss",
    "MM/dd/yyyy HH:mm:ss",
    "yyyy/MM/dd HH:mm:ss",
    "dd MMM yyyy HH:mm:ss",
    "dd MMMM yyyy HH:mm:ss",
    "dd MMMM yyyy HH:mm:ss.SSSSSS",
    "dd MM yyyy HH:mm:ss.SSSSSS",
    "yyyy MM dd HH:mm:ss.SSSSSS",
    "yyyy-MM-dd HH:mm:ss.SSSSSS",
    "dd MMMM yyyy HH:mm:ss.SS",
    "yyyy-MM-dd'T'HH:mm:ssXXX",  # Java ZZZ offset form (DateUtil.java:120)
]


# parse order for century-expanded values — day-first for the numeric
# 3-field shapes (DateUtil's 2-digit rows are dd.MM.yy/dd-MM-yy/dd/MM/yy;
# there is no MM/dd/yy row), then the month-first 2-field and text shapes
_TWO_DIGIT_PATTERNS = [
    "dd/MM/yyyy",
    "dd.MM.yyyy",
    "dd-MM-yyyy",
    "MM.yyyy",
    "MM-yyyy",
    "MM/yyyy",
    "dd MMM yyyy",
    "dd MMMM yyyy",
    "dd-MMMM-yyyy",
    "dd.MMMM.yyyy",
    "dd/MMMM/yyyy",
]


def expand_two_digit_year(col: Column, now_year: int = CENTURY_NOW_YEAR) -> Column:
    """Rewrite a trailing 2-digit year to its SimpleDateFormat century
    (window [now-80, now+19]) so the 4-digit cascade can parse it; NULL when
    the value isn't a 2-digit-year shape."""
    start = now_year - 80
    yy = F.regexp_extract(col, r"([0-9]{2})$", 1).try_cast("int")
    full = F.lit(start) + ((yy - F.lit(start % 100) + 100) % 100)
    rewritten = F.concat(
        F.substring(col, F.lit(1), F.length(col) - 2), full.cast("string")
    )
    return F.when(col.rlike(_TWO_DIGIT_SHAPES), rewritten)


def parse_any_date(col: Column, two_digit_years: bool = False) -> Column:
    """Format cascade of ``parsers/DateUtil.java:45-123,179-217`` reduced to
    the unambiguous day-grain formats; native `try_to_date` (ANSI-safe:
    wrong-format values fall through to the next pattern).

    ``two_digit_years=True`` appends the dd.MM.yy family: the 2-digit year
    is century-expanded per the Java 80/20 window and re-parsed day-first
    (the reference's 2-digit slashed format is dd/MM/yy ONLY,
    ``DateUtil.java:49-51`` — no MM/dd/yy row, unlike the 4-digit pair).
    Off by default — the DuckDB oracle cannot mirror the century window."""
    tries = [F.try_to_date(col, p) for p in DATE_PATTERNS]
    if two_digit_years:
        expanded = expand_two_digit_year(col)
        tries += [F.try_to_date(expanded, p) for p in _TWO_DIGIT_PATTERNS]
    return F.coalesce(*tries)


def parse_any_timestamp(col: Column) -> Column:
    """Sub-day cascade (DateUtil.java:82-121) — returns TIMESTAMP; callers
    wanting the day-grain store cast to date."""
    return F.coalesce(*[F.try_to_timestamp(col, F.lit(p)) for p in TIMESTAMP_FORMATS])


def duck_parse_date(expr: str) -> str:
    """DuckDB twin of :func:`parse_any_date` — generated from the SAME
    format table, as a DATE (strptime yields TIMESTAMP)."""
    tries = ", ".join(f"try_strptime({expr}, '{d}')" for _, d in DATE_FORMATS)
    return f"CAST(coalesce({tries}) AS DATE)"


# numeric prefix of a value ("500 km2" → "500"): the median's parse
_NUM_PREFIX = r"^(-?[0-9][0-9,]*(\.[0-9]+)?)"


def value_grain(cells: DataFrame, keys=("subj_norm", "pred_canon")) -> DataFrame:
    """The (keys, obj_raw, dtype) value grain: occurrence count + first/last
    timestamp. ONE corpus-wide shuffle reduces 10^N rows to the distinct
    values per entity-attribute (schema×entity-sized); EVERY resolution
    strategy and the majority-dtype vote are then computable on the tiny
    grain — the reference quirks (first-to-max voting, row-indexed upper
    median, last-date bug, first-by-ts) all depend only on per-value
    (cnt, min ts, max ts) because timestamps are unique per turn."""
    return cells.groupBy(*keys, "obj_raw", "dtype").agg(
        F.count("*").alias("cnt"),
        F.min("ts").alias("first_ts"),
        F.max("ts").alias("last_ts"),
    )


def resolve_rules(cells: DataFrame, keys=("subj_norm", "pred_canon")) -> DataFrame:
    """Every resolution rule for every group, from one aggregation over the
    value grain. One row per key:

    * ``dtype_major`` — the group's majority dtype by Σcnt, tie → dtype
      ascending;
    * ``vote``/``votes`` — voting: the max-count value with the smallest
      last_ts (its max-count-th occurrence is its last one), tie → obj_raw;
    * ``median``/``n_median`` — the row-indexed upper median of the values'
      numeric prefixes: equal nums are adjacent in the reference's (num, ts)
      row order, so a cumulative count over the grain sorted by
      (num, first_ts) finds the picked row;
    * ``avg_epoch_s``/``n_dates`` — the date-average bug: epoch seconds of
      the last parseable date (by ts) / the number of parseable dates;
    * ``first`` — the first value by ts, tie → obj_raw.

    A rule none of whose values parse yields NULL. Each key's grain rows are
    collected into one array, so its size is the number of distinct values
    of one (subj_norm, pred_canon) — bounded by distinct values per
    entity-attribute, not by turns. It is not capped: a cap would silently
    change the output."""
    keys = list(keys)
    num = parse_numeric(F.regexp_extract("obj_raw", _NUM_PREFIX, 1))
    d = parse_any_date(F.col("obj_raw"))
    cnt = F.col("cnt")
    groups = value_grain(cells, keys).groupBy(*keys).agg(
        F.collect_list(F.struct(num.alias("num"), "first_ts", "cnt", "dtype")).alias("vals"),
        F.min(F.struct((-cnt).alias("neg_cnt"), "last_ts", "obj_raw")).alias("vote"),
        F.sum(F.when(num.isNotNull(), cnt)).alias("n_median"),
        F.max(F.when(d.isNotNull(), F.struct("last_ts", d.alias("d")))).alias("last_date"),
        F.sum(F.when(d.isNotNull(), cnt)).alias("n_dates"),
        F.min(F.struct("first_ts", "obj_raw")).alias("first"),
    )
    vals = F.col("vals")
    zero = F.lit(0).cast("long")

    def n_of(dtype):
        same = F.filter(vals, lambda v: v.dtype == dtype)
        return F.aggregate(same, zero, lambda n, v: n + v.cnt)

    major = F.array_min(
        F.transform(
            F.array_distinct(F.transform(vals, lambda v: v.dtype)),
            lambda t: F.struct((-n_of(t)).alias("neg_n"), t.alias("dtype")),
        )
    )

    n = F.col("n_median")
    half = F.floor(n / 2)
    start = F.struct(
        F.when(n == 1, 1).when(n % 2 == 0, half + 1).otherwise(half + 2).alias("pick"),
        zero.alias("cum"),
        F.lit(None).cast("double").alias("num"),
    )

    def step(acc, v):
        cum = acc.cum + v.cnt
        hit = (acc.cum < acc.pick) & (acc.pick <= cum)
        return F.struct(
            acc.pick.alias("pick"),
            cum.alias("cum"),
            F.when(hit, v.num).otherwise(acc.num).alias("num"),
        )

    nums = F.array_sort(F.filter(vals, lambda v: v.num.isNotNull()))
    # days since the epoch, read without the session zone; long, because
    # an int times 86400 overflows under ANSI arithmetic
    epoch = F.unix_date(F.col("last_date.d")).cast("long") * 86400
    return groups.select(
        *keys,
        major["dtype"].alias("dtype_major"),
        F.col("vote.obj_raw").alias("vote"),
        (-F.col("vote.neg_cnt")).alias("votes"),
        F.aggregate(nums, start, step, lambda acc: acc.num).alias("median"),
        "n_median",
        (epoch / F.col("n_dates")).cast("long").alias("avg_epoch_s"),
        "n_dates",
        F.col("first.obj_raw").alias("first"),
    )


def resolve_voting(cells: DataFrame, keys=("subj_norm", "pred_canon")) -> DataFrame:
    """A4 — plurality vote; tie → first value to reach the max count."""
    return resolve_rules(cells, keys).select(
        *keys, F.col("vote").alias("obj_resolved"), "votes"
    )


def resolve_median(cells: DataFrame, keys=("subj_norm", "pred_canon")) -> DataFrame:
    """A5 — the reference's upper-median over numeric-normalized values."""
    return (
        resolve_rules(cells, keys)
        .filter(F.col("median").isNotNull())
        .select(
            *keys, F.col("median").alias("obj_resolved"), F.col("n_median").alias("n_values")
        )
    )


def resolve_date_average(cells: DataFrame, keys=("subj_norm", "pred_canon")) -> DataFrame:
    """A6 date-average replicating the last-date-only bug: result =
    trunc(epoch_seconds(last date) / n)."""
    return (
        resolve_rules(cells, keys)
        .filter(F.col("avg_epoch_s").isNotNull())
        .select(*keys, "avg_epoch_s", F.col("n_dates").alias("n_values"))
    )


def resolve_dispatch(cells: DataFrame, keys=("subj_norm", "pred_canon")) -> DataFrame:
    """Full dispatch over the group's majority dtype:
    string→voting, numeric/unit→median, date→date-average-bug,
    else→first. Output obj_resolved is always a string (the reference's
    all-strings model); a group whose rule finds no parseable value emits
    no row."""
    major = F.col("dtype_major")
    resolved = (
        F.when(major == "string", F.col("vote"))
        .when(major.isin("numeric", "unit"), F.col("median").cast("string"))
        .when(major == "date", F.col("avg_epoch_s").cast("string"))
        .otherwise(F.col("first"))
    )
    return (
        resolve_rules(cells, keys)
        .select(*keys, resolved.alias("obj_resolved"))
        .filter(F.col("obj_resolved").isNotNull())
    )
