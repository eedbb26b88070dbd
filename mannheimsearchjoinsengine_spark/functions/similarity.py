"""Value-similarity kernels (reference F1/F3/F6).

All native Catalyst expressions — whole-stage codegen, zero Python:

* F1 char-n-gram Jaccard (secondstring lib usage in
  ``schemamatching/instance/InstanceBasedComparer.java:553-560``,
  ``label/LabelBasedComparer.java:182-186``,
  ``datafusion/TableDataCleaner.java:407-412``): n-gram sets via
  sequence+transform+substring, Jaccard via array_intersect / union sizes.
* F3 numeric similarity ``0.5·min/max`` (|·|), 1.0 if equal
  (``InstanceBasedComparer.compareColumnValues:530-548``).
* F4 date and F5 bool/link scores live in the typed kernel
  ``operators/match._typed_score``, with the reference's inverted date
  kernel (``InstanceBasedComparer.java:566-618``).
* F6 deviation = 1 − similarity (``InstanceBasedComparer.getValueDeviation:
  644-767``).

Each has a ``duck_*`` twin emitting the same semantics in DuckDB SQL.
"""

from __future__ import annotations

from pyspark.sql import Column
from pyspark.sql import functions as F


def char_ngrams(col: Column, n: int) -> Column:
    """Distinct character n-grams of a string (empty array when shorter
    than n)."""
    grams = F.when(
        F.length(col) >= n,
        F.transform(
            F.sequence(F.lit(1), F.length(col) - (n - 1)),
            lambda i: F.substring(col, i, n),  # type: ignore[arg-type]
        ),
    ).otherwise(F.array().cast("array<string>"))
    return F.array_distinct(grams)


def char_jaccard(a: Column, b: Column, n: int = 3) -> Column:
    """F1 — char-n-gram Jaccard between two strings; 0.0 when either side
    has no n-grams."""
    ga, gb = char_ngrams(a, n), char_ngrams(b, n)
    inter = F.size(F.array_intersect(ga, gb))
    union = F.size(ga) + F.size(gb) - inter
    return F.when(union > 0, F.round(inter / union, 4)).otherwise(F.lit(0.0))


def numeric_similarity(a: Column, b: Column) -> Column:
    """F3 — 1.0 if equal else 0.5·min(|a|,|b|)/max(|a|,|b|)."""
    return F.when(a == b, F.lit(1.0)).otherwise(
        F.round(0.5 * F.least(F.abs(a), F.abs(b)) / F.greatest(F.abs(a), F.abs(b)), 4)
    )


def deviation(sim: Column) -> Column:
    """F6 — 1 − similarity."""
    return F.round(1 - sim, 4)


def char_ngrams_24(col: Column) -> Column:
    """Distinct lowercase 2-, 3- and 4-grams combined — the
    ``NGramTokenizer(2, 4, true, new SimpleTokenizer(true, true))`` token
    universe of the reference's string-value comparison
    (``InstanceBasedComparer.java:553-560``)."""
    c = F.lower(col)
    return F.array_distinct(
        F.concat(char_ngrams(c, 2), char_ngrams(c, 3), char_ngrams(c, 4))
    )


def string_sim_24(a: Column, b: Column) -> Column:
    """Jaccard over combined 2-4-grams; empty gram universe → exact 0/1
    (documented stand-in for secondstring's degenerate-input behavior)."""
    ga, gb = char_ngrams_24(a), char_ngrams_24(b)
    inter = F.size(F.array_intersect(ga, gb))
    union = F.size(ga) + F.size(gb) - inter
    return F.when(union > 0, inter / union).otherwise(
        F.when(a == b, F.lit(1.0)).otherwise(F.lit(0.0))
    )


# ---------------------------------------------------------------- DuckDB twins

def duck_char_ngrams(expr: str, n: int) -> str:
    return (
        f"list_distinct(CASE WHEN length({expr}) >= {n} THEN "
        f"list_transform(generate_series(1, length({expr}) - {n - 1}), "
        f"i -> substr({expr}, CAST(i AS INT), {n})) "
        f"ELSE [] END)"
    )


def duck_char_jaccard(a: str, b: str, n: int = 3) -> str:
    ga, gb = duck_char_ngrams(a, n), duck_char_ngrams(b, n)
    inter = f"len(list_intersect({ga}, {gb}))"
    union = f"(len({ga}) + len({gb}) - {inter})"
    return f"CASE WHEN {union} > 0 THEN round({inter} / {union}, 4) ELSE 0.0 END"


def duck_numeric_similarity(a: str, b: str) -> str:
    return (
        f"CASE WHEN {a} = {b} THEN 1.0 ELSE "
        f"round(0.5 * least(abs({a}), abs({b})) / greatest(abs({a}), abs({b})), 4) END"
    )


def duck_char_ngrams_24(expr: str) -> str:
    lc = f"lower({expr})"
    g = " || ".join(duck_char_ngrams(lc, n) for n in (2, 3, 4))
    return f"list_distinct({g})"


def duck_string_sim_24(a: str, b: str) -> str:
    ga, gb = duck_char_ngrams_24(a), duck_char_ngrams_24(b)
    inter = f"len(list_intersect({ga}, {gb}))"
    union = f"(len({ga}) + len({gb}) - {inter})"
    return (
        f"CASE WHEN {union} > 0 THEN {inter} / {union} "
        f"ELSE (CASE WHEN {a} = {b} THEN 1.0 ELSE 0.0 END) END"
    )
