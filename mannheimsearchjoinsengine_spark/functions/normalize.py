"""String normalization kernels (reference P1-P5).

Reference parity targets:
* ``schemamatching/label/StringNormalizer.java:39-141`` ("clearString"):
  Lucene WordDelimiterFilter (split on case change + letter/digit
  boundaries), whitespace tokenize, lowercase, stopword strip, optional
  Porter stem, re-join with single spaces.
* ``IO/ConvertFileToTable.simpleStringNormalization:1327-1353``: unescape
  HTML entities, strip quotes/pipes/braces/tags/newlines, optional
  parenthetical removal, lowercase, trim.
* ``StringNormalizer.clearString4FastJoin:60-72``: + strip non-ASCII,
  truncate to 127 chars.

Everything here is native Catalyst expressions (whole-stage codegen;
zero Python), EXCEPT the optional Porter stemmer which is an Arrow-batched
pandas UDF (the reference enables stemming only for headers/keys —
``searchJoins.conf:52-53`` — so the hot path stays JVM-side).

Each kernel has a twin ``duck_*`` builder emitting the equivalent DuckDB SQL
so driver-side oracles share the exact contract.
"""

from __future__ import annotations

import pandas as pd
from pyspark.sql import Column
from pyspark.sql import functions as F

# English stopword subset used by the reference's analyzer
# (Lucene StandardAnalyzer ENGLISH_STOP_WORDS_SET) + custom stopwords.
STOPWORDS = [
    "a", "an", "and", "are", "as", "at", "be", "but", "by", "for", "if",
    "in", "into", "is", "it", "no", "not", "of", "on", "or", "such",
    "that", "the", "their", "then", "there", "these", "they", "this",
    "to", "was", "will", "with",
]

_ENTITY_RE = r"&(nbsp|amp|quot|lt|gt);"
_ASIDE_RE = r"\([^)]*\)|\[[^\]]*\]"
_NONWORD_RE = r"[^a-z0-9]+"


def simple_norm(col: Column) -> Column:
    """P2: simpleStringNormalization — cheap cleanup, case-preserving loss
    of markup only (``IO/ConvertFileToTable.java:1327-1353``)."""
    c = F.regexp_replace(col, _ENTITY_RE, " ")
    c = F.regexp_replace(c, r"<[^>]*>", " ")
    c = F.regexp_replace(c, r"[\"'|{}]", " ")
    c = F.regexp_replace(c, r"\s+", " ")
    return F.trim(c)


def norm_key(col: Column) -> Column:
    """Entity-surface canonical key: entity-unescape → drop asides → lower
    → non-alnum→space → tokens sorted → single-space join.

    Token-order invariance replaces the reference's bag-of-words Lucene
    match (``index/IndexManager.searchIndex:323-351`` ORs the tokens, so
    token order never mattered there either).
    """
    # sort_array (codegen) over array_sort (lambda comparator, breaks the
    # WholeStageCodegen span — visible in .explain)
    return F.array_join(F.sort_array(norm_tokens(col)), " ")


def norm_tokens(col: Column) -> Column:
    """Token array of the normalized surface (for jaccard / postings):
    entity-unescape → drop asides → lower → non-alnum→space → split."""
    c = F.lower(col)
    c = F.regexp_replace(c, _ENTITY_RE, " ")
    c = F.regexp_replace(c, _ASIDE_RE, " ")
    c = F.regexp_replace(c, _NONWORD_RE, " ")
    # _NONWORD_RE collapses runs to one space, so a single-space split is
    # exact; array_remove (codegen) beats an interpreted filter-lambda 2.3×
    # on the 2M-turn bench
    return F.array_remove(F.split(F.trim(c), " "), "")


def clear_string(
    col: Column,
    strip_stopwords: bool = True,
    remove_brackets: bool = False,
    custom_stopwords: list[str] | None = None,
) -> Column:
    """P1 "clearString": Lucene-WordDelimiterFilter tokenization parity.

    ``schemamatching/label/StringNormalizer.java:39-141``. The factory args
    (``:91-97``) enable generateWordParts / generateNumberParts /
    splitOnCaseChange and set catenateNumbers=0; every catenate option is
    therefore OFF (Lucene defaults), while ``stemEnglishPossessive`` and
    ``splitOnNumerics`` default ON. Replicated behaviors, in filter order:

    * ``&nbsp;``/``&nbsp``/``nbsp`` literal-replaced with spaces (:83-85).
    * optional greedy bracket removal ``\\(.*\\)`` (:106-108 — Java's regex
      is GREEDY: 'a (b) c (d) e' → 'a  e').
    * English possessive strip: trailing ``'s`` of a subword (:91-97 WDF
      default; capture-group form, no lookahead, so the DuckDB twin's RE2
      matches byte-for-byte).
    * case-change + acronym-boundary splits ('camelCase' → 'camel Case',
      'XMLParser' → 'XML Parser') and letter↔digit splits.
    * lowercase → delimiter split → Lucene 33-word English stop set → the
      custom-stopword file hook (:116-124; ``CharArraySet(ignoreCase)``).
    * '$' quirk (:136-139): when the raw value contains '$', tokenization
      produced something, and the first token differs from the raw string, a
      literal '$' token is appended AFTER all filters.
    * empty result → the literal string 'null' (PipelineConfig.NULL_VALUE,
      ``clearString:52-54``).

    ``unescapeJava`` (:103) is not replicated: transcript text carries no
    Java string escapes, and Spark/DuckDB share the raw bytes either way.
    """
    c = F.regexp_replace(col, r"&nbsp;|&nbsp|nbsp", " ")
    if remove_brackets:
        c = F.regexp_replace(c, r"\(.*\)", "")
    c = F.regexp_replace(c, r"'[sS]($|[^A-Za-z0-9])", r"$1")
    c = F.regexp_replace(c, r"([a-z])([A-Z])", r"$1 $2")
    c = F.regexp_replace(c, r"([A-Z]+)([A-Z][a-z])", r"$1 $2")
    c = F.regexp_replace(c, r"([A-Za-z])([0-9])", r"$1 $2")
    c = F.regexp_replace(c, r"([0-9])([A-Za-z])", r"$1 $2")
    c = F.lower(c)
    c = F.regexp_replace(c, r"[^a-z0-9]+", " ")
    toks = F.array_remove(F.split(F.trim(c), " "), "")
    if strip_stopwords:
        sw = F.array(*[F.lit(s) for s in STOPWORDS])
        toks = F.filter(toks, lambda x: ~F.array_contains(sw, x))
    if custom_stopwords:
        cs = F.array(*[F.lit(s.lower()) for s in custom_stopwords])
        toks = F.filter(toks, lambda x: ~F.array_contains(cs, x))
    toks = F.when(
        col.contains("$") & (F.size(toks) > 0) & (F.element_at(toks, 1) != col),
        F.concat(toks, F.array(F.lit("$"))),
    ).otherwise(toks)
    out = F.array_join(toks, " ")
    return F.when(out == "", F.lit("null")).otherwise(out)


def fastjoin_norm(col: Column) -> Column:
    """P3: clearString → strip non-Basic-Latin → truncate to 127 chars
    (``StringNormalizer.clearString4FastJoin:60-72``)."""
    c = clear_string(col)
    c = F.regexp_replace(c, r"[^\x00-\x7F]", "")
    return F.substring(c, 1, 127)


def porter_stem_udf():
    """Arrow-batched Porter stemmer (P1 stemming branch,
    ``StringNormalizer.java:113-114``). Pure-python Porter (no deps),
    vectorized over pandas batches — never per-row Python in Spark."""

    from mannheimsearchjoinsengine_spark.functions._porter import stem_word

    @F.pandas_udf("string")
    def _stem(s: pd.Series) -> pd.Series:
        return s.map(
            lambda v: None if v is None else " ".join(stem_word(w) for w in v.split(" "))
        )

    return _stem


# ---------------------------------------------------------------- DuckDB twins

def duck_norm_key(expr: str) -> str:
    """DuckDB SQL equivalent of :func:`norm_key` for oracle queries."""
    # coalesce: DuckDB's array_to_string([]) is NULL, Spark's array_join([])
    # is '' (hypothesis-found edge; empty surfaces are filtered upstream).
    # The outer CASE keeps NULL input NULL (Spark propagates it) instead of
    # letting the coalesce collapse it to ''.
    joined = f"coalesce(array_to_string(list_sort({duck_norm_tokens(expr)}), ' '), '')"
    return f"(CASE WHEN {expr} IS NULL THEN NULL ELSE {joined} END)"


def duck_norm_tokens(expr: str) -> str:
    """DuckDB SQL equivalent of :func:`norm_tokens`."""
    c = f"lower({expr})"
    c = f"regexp_replace({c}, '{_ENTITY_RE}', ' ', 'g')"
    c = f"regexp_replace({c}, '\\([^)]*\\)|\\[[^\\]]*\\]', ' ', 'g')"
    c = f"regexp_replace({c}, '[^a-z0-9]+', ' ', 'g')"
    return f"list_filter(string_split(trim({c}), ' '), x -> x <> '')"


def duck_clear_string(expr: str) -> str:
    """DuckDB twin of :func:`clear_string` (defaults: stopwords on, no
    brackets, no custom stopwords). RE2-safe — the possessive strip uses the
    same capture-group form as the Spark side. Inlines the token list three
    times; DuckDB CSEs it and oracle perf is irrelevant."""
    c = f"regexp_replace({expr}, '&nbsp;|&nbsp|nbsp', ' ', 'g')"
    c = f"regexp_replace({c}, '''[sS]($|[^A-Za-z0-9])', '\\1', 'g')"
    c = f"regexp_replace({c}, '([a-z])([A-Z])', '\\1 \\2', 'g')"
    c = f"regexp_replace({c}, '([A-Z]+)([A-Z][a-z])', '\\1 \\2', 'g')"
    c = f"regexp_replace({c}, '([A-Za-z])([0-9])', '\\1 \\2', 'g')"
    c = f"regexp_replace({c}, '([0-9])([A-Za-z])', '\\1 \\2', 'g')"
    c = f"lower({c})"
    c = f"regexp_replace({c}, '[^a-z0-9]+', ' ', 'g')"
    sw = "[" + ", ".join(f"'{s}'" for s in STOPWORDS) + "]"
    toks = (
        f"list_filter(string_split(trim({c}), ' '), "
        f"x -> x <> '' AND NOT list_contains({sw}, x))"
    )
    toks = (
        f"(CASE WHEN contains({expr}, '$') AND len({toks}) > 0 "
        f"AND {toks}[1] <> {expr} "
        f"THEN list_append({toks}, '$') ELSE {toks} END)"
    )
    joined = f"coalesce(array_to_string({toks}, ' '), '')"
    # NULL input stays NULL (Spark's regexp_replace chain propagates it);
    # without the guard the coalesce collapses NULL to '' and the empty→
    # 'null' case fires, diverging from the Spark side.
    return (
        f"(CASE WHEN {expr} IS NULL THEN NULL "
        f"WHEN {joined} = '' THEN 'null' ELSE {joined} END)"
    )


def duck_simple_norm(expr: str) -> str:
    c = f"regexp_replace({expr}, '{_ENTITY_RE}', ' ', 'g')"
    c = f"regexp_replace({c}, '<[^>]*>', ' ', 'g')"
    c = f"regexp_replace({c}, '[\"''|{{}}]', ' ', 'g')"
    c = f"regexp_replace({c}, '\\s+', ' ', 'g')"
    return f"trim({c})"
