"""Stage 4 — fusion + cleaning (reference J6/J7, P14/P15/P16, F11).

The reference materializes matched candidate rows out of the Lucene index
and pivots them into new columns of one wide "augmented" table
(``datafusion/DataFuser.fuseCompleteTableFast:271-462``,
``index/IndexManager.getRowValues:814-889``), then cleans it: numeric strip
(``datafusion/TableDataCleaner.normalizeColumnNumeric:167-180``), unit →
base-unit conversion (``TableDataCleaner.normalizeColumnUnit:187-210``,
``units/UnitManager.parseUnit:162-240``), and density filters
(``TableDataCleaner.java:217-333``, conf ``data.columnDensity=0.3`` /
``data.rowDensity`` in ``searchJoins.conf:73-75``).

Spark-first shape:

* **J6 row materialization** is ONE equi-join of the (small) matched-key
  set against the fact/cell table — no per-key index fetches; Spark
  broadcasts the key set while it fits the session threshold.
  The fused table stays **long-format** ``(query_norm, pred, value,
  provenance)``: at 100 TB a wide pivot of unbounded predicates is an
  anti-pattern; pivot only at the end over an explicit predicate list.
* **J7 attribute-existence semi-join** is a ``left_semi`` join against a
  broadcast allowlist.
* Density cleaning is two aggregations over the long table (per-pred
  coverage, per-subject density) — no row-at-a-time scanning.
* Unit conversion is a broadcast-dictionary CASE expression (whole-stage
  codegen); the reference's external Units/ dictionaries become
  ``UNIT_RATES``. Zero Python in any of these paths.
"""

from __future__ import annotations

from pyspark.sql import Column, DataFrame, Window
from pyspark.sql import functions as F

# abbreviation -> (base_unit, rate): the reference's Units/Convertible
# tables re-derived in functions/units.py (units/UnitManager.java:162-240);
# re-exported here because the fusion stage is the conversion call site.
from mannheimsearchjoinsengine_spark.functions.units import (  # noqa: E402
    AMBIGUOUS_UNITS,
    UNIT_RATES,
    unit_family,
)

COLUMN_DENSITY = 0.3  # searchJoins.conf:73 data.columnDensity
ROW_DENSITY = 0.3  # searchJoins.conf:74 data.rowDensity

# canonical wide-pivot predicate list for fuse_augmented (explicit: a pivot
# with inferred values costs an extra job and an unbounded schema)
AUGMENT_PREDS = ["population", "area", "founded", "headquarters", "employees"]


def fuse_long(mentions: DataFrame, facts: DataFrame) -> DataFrame:
    """J6 — materialize every fact cell of every matched query key.

    The query-key set (distinct mention labels) is usually tiny relative to
    the fact corpus, so Spark's planner broadcasts it from its size
    estimate and the fact table is not shuffled; the join carries no hint.
    Column identity keeps full provenance ``(pred_raw, conv_id, turn_idx)``
    — the reference's ``colHeader|tablePath|colIdx`` key
    (``DataFuser.addValuesToColumn:489-556``).
    """
    keys = mentions.select("subj_norm").distinct()
    return facts.join(keys, "subj_norm").select(
        F.col("subj_norm").alias("query_norm"),
        "pred_raw",
        "obj_raw",
        "conv_id",
        "turn_idx",
        "src",
    )


def attribute_semi_join(facts: DataFrame, allowed_preds: list[str]) -> DataFrame:
    """J7/P11/P12 — candidate conversations having ≥1 allowed attribute
    (``IndexManager.hasHeader:748-812``; header filter
    ``DataFuser.addValuesToColumn:493-508``). The allowlist is a literal
    broadcast set → `isin` predicate, pushed into the scan."""
    return (
        facts.filter(F.col("pred_raw").isin(allowed_preds))
        .groupBy("conv_id")
        .agg(
            F.countDistinct("pred_raw").alias("n_allowed_preds"),
            F.count("*").alias("n_allowed_cells"),
        )
    )


def fuse_augmented(fused: DataFrame, preds: list[str] | None = None) -> DataFrame:
    """Wide augmented table: one row per query subject, one column per
    predicate in ``preds``, value = plurality vote (ties → lexicographically
    smallest, the deterministic stand-in for the reference's map-iteration
    tie, ``DuplicateResolver.votForFinalValue:371-389``).

    Explicit pivot values → single pass, no value-inference job.
    """
    preds = preds or AUGMENT_PREDS
    votes = (
        fused.filter(F.col("pred_raw").isin(preds))
        .groupBy("query_norm", "pred_raw", "obj_raw")
        .agg(F.count("*").alias("cnt"))
    )
    w = Window.partitionBy("query_norm", "pred_raw").orderBy(
        F.desc("cnt"), F.asc("obj_raw")
    )
    best = votes.withColumn("rn", F.row_number().over(w)).filter(F.col("rn") == 1)
    return (
        best.groupBy("query_norm")
        .pivot("pred_raw", preds)
        .agg(F.first("obj_raw"))
    )


def column_density(fused: DataFrame, threshold: float = COLUMN_DENSITY) -> DataFrame:
    """P14 (column half) — per-predicate subject coverage; predicates below
    ``threshold`` are dropped (``TableDataCleaner.java:217-253``)."""
    # denominator as a broadcast 1-row aggregate, not a blocking .count()
    # job (the driver-side scalar re-ran the fused subtree as a second job)
    n_subj = fused.agg(F.countDistinct("query_norm").alias("n_subj"))
    cov = F.round(F.col("n_subjects") / F.col("n_subj"), 4)
    return (
        fused.groupBy("pred_raw")
        .agg(F.countDistinct("query_norm").alias("n_subjects"))
        .crossJoin(F.broadcast(n_subj))
        .select(
            "pred_raw",
            "n_subjects",
            cov.alias("coverage"),
            (cov >= threshold).alias("kept"),
        )
    )


def row_density(fused: DataFrame, threshold: float = ROW_DENSITY) -> DataFrame:
    """P14 (row half) — per-subject predicate density over the kept
    predicates; subjects below ``threshold`` are dropped
    (``TableDataCleaner.java:260-333``).

    The kept-predicate join carries no hint. The list is small — per-pred
    coverages sum to the mean preds-per-subject p̄, so at most
    p̄/COLUMN_DENSITY predicates can clear the column filter (~10 rows at
    threshold 0.3) — and Spark picks the join strategy from its size
    estimate."""
    kept = column_density(fused).filter(F.col("kept")).select("pred_raw")
    # kept-predicate count as a broadcast scalar (same no-.count() pattern)
    n_kept = kept.agg(F.count("*").alias("n_kept"))
    dens = F.round(F.col("n_preds") / F.col("n_kept"), 4)
    return (
        fused.join(kept, "pred_raw")
        .groupBy("query_norm")
        .agg(F.countDistinct("pred_raw").alias("n_preds"))
        .crossJoin(F.broadcast(n_kept))
        .select(
            "query_norm",
            "n_preds",
            dens.alias("density"),
            (dens >= threshold).alias("kept"),
        )
    )


def clean_numeric(col: Column) -> Column:
    """P15 — strip non-``[0-9.]``, collapse all dots but the last
    (``TableDataCleaner.normalizeColumnNumeric:167-180``)."""
    c = F.regexp_replace(col, r"[^0-9.]", "")
    return F.regexp_replace(c, r"\.(?=.*\.)", "")


def split_unit(col: Column) -> tuple[Column, Column]:
    """F11 parse — ``'500 km2'`` → (500.0, 'km2'). Input must already be
    dtype=unit (typeguess.UNIT_RE)."""
    lc = F.lower(F.trim(col))
    num = F.regexp_replace(
        F.regexp_extract(lc, r"^(-?[0-9][0-9,]*(?:\.[0-9]+)?) ", 1), ",", ""
    ).try_cast("double")
    abbr = F.regexp_extract(lc, r" ([a-z0-9]+)$", 1)
    return num, abbr


def to_base_unit(num: Column, abbr: Column) -> tuple[Column, Column]:
    """F11/P16 convert — broadcast-dict conversion to the base unit
    (``SubUnit.newValue`` applied in ``TableDataCleaner.java:187-210``)."""
    base: Column = F.lit(None).cast("string")
    rate: Column = F.lit(None).cast("double")
    for a, (b, r) in UNIT_RATES.items():
        base = F.when(abbr == a, F.lit(b)).otherwise(base)
        rate = F.when(abbr == a, F.lit(r)).otherwise(rate)
    return F.round(num * rate, 4), base


def unit_normalize(cells: DataFrame, disambiguate: bool = True) -> DataFrame:
    """P16 — rewrite unit-typed cells to (base_value, base_unit).

    Ambiguous abbreviations ("m": metre vs minute — the collision the
    reference resolves from bracketed column headers,
    ``TableProcessor/ColumnTypeGuesser.java:52-62`` +
    ``extractUnitAbbrFromHeader:105-115``) are read in the PREDICATE's
    majority unit family: each predicate's unambiguous unit values vote for
    their family (one tiny (pred, family) aggregate, broadcast back), and an
    ambiguous value under e.g. a time-majority predicate converts as minute.
    No family evidence → flat-dictionary default (metre). Everything stays
    whole-stage codegen; the vote table is schema-scale and broadcast."""
    u = cells.filter(F.col("dtype") == "unit")
    num, abbr = split_unit(F.col("obj_raw"))
    base_value, base_unit = to_base_unit(num, abbr)
    out = u.select(
        "conv_id",
        "turn_idx",
        "subj_norm",
        "pred_raw",
        "obj_raw",
        num.alias("_num"),
        abbr.alias("_abbr"),
        base_value.alias("base_value"),
        base_unit.alias("base_unit"),
    )
    if disambiguate:
        votes = (
            out.select("pred_raw", unit_family(F.col("_abbr")).alias("family"))
            .filter(F.col("family").isNotNull())
            .groupBy("pred_raw", "family")
            .agg(F.count("*").alias("n"))
        )
        w = Window.partitionBy("pred_raw").orderBy(F.desc("n"), F.asc("family"))
        major = (
            votes.withColumn("rn", F.row_number().over(w))
            .filter(F.col("rn") == 1)
            .select("pred_raw", F.col("family").alias("_major_family"))
        )
        out = out.join(F.broadcast(major), "pred_raw", "left")
        for a, readings in AMBIGUOUS_UNITS.items():
            for fam, (b, r) in readings.items():
                cond = (F.col("_abbr") == a) & (F.col("_major_family") == fam)
                out = out.withColumn(
                    "base_value",
                    F.when(cond, F.round(F.col("_num") * F.lit(r), 4)).otherwise(
                        F.col("base_value")
                    ),
                ).withColumn(
                    "base_unit", F.when(cond, F.lit(b)).otherwise(F.col("base_unit"))
                )
    return out.select(
        "conv_id",
        "turn_idx",
        "subj_norm",
        "pred_raw",
        "obj_raw",
        "base_value",
        "base_unit",
    )


def numeric_normalize(cells: DataFrame) -> DataFrame:
    """P15 as a table op — numeric-typed cells with the cleaned string and
    parsed double."""
    n = cells.filter(F.col("dtype") == "numeric")
    cleaned = clean_numeric(F.col("obj_raw"))
    return n.select(
        "conv_id",
        "turn_idx",
        "subj_norm",
        "pred_raw",
        "obj_raw",
        cleaned.alias("obj_clean"),
        cleaned.try_cast("double").alias("num_value"),
    )


def refine_attr_scores(probe_hits: DataFrame, facts: DataFrame) -> DataFrame:
    """J2 — refine-attribute re-scoring: for each non-exact probe pair,
    count the distinct (pred, value) assertions the two subjects share
    (``IndexManager.findRefineAttrsMatches:677-746`` re-queries the row's
    sibling cells; here the sibling cells ARE the subjects' other facts).

    Distinct-ified fact sides keep the join inputs minimal; the pair list
    from the probe is already top-k-bounded so the output is bounded too.
    """
    ev = facts.select("subj_norm", "pred_raw", "obj_raw").distinct()
    pairs = (
        probe_hits.filter(F.col("query_norm") != F.col("cand_norm"))
        .select("query_norm", "cand_norm")
        .distinct()
    )
    lhs = ev.select(
        F.col("subj_norm").alias("query_norm"), "pred_raw", "obj_raw"
    )
    rhs = ev.select(
        F.col("subj_norm").alias("r_cand"),
        F.col("pred_raw").alias("r_pred"),
        F.col("obj_raw").alias("r_obj"),
    )
    return (
        pairs.join(lhs, "query_norm")
        .join(
            rhs,
            (F.col("cand_norm") == F.col("r_cand"))
            & (F.col("pred_raw") == F.col("r_pred"))
            & (F.col("obj_raw") == F.col("r_obj")),
        )
        .groupBy("query_norm", "cand_norm")
        .agg(F.count("*").alias("refine_score"))
    )


def key_distribution(facts: DataFrame) -> DataFrame:
    """A9 — per-key distribution stats: conversations per key, values per
    key (``statistics/DistributionOfTablesPerKey.java``,
    ``DistributionOfValuesPerKey.java``)."""
    return facts.groupBy("subj_norm").agg(
        F.countDistinct("conv_id").alias("n_convs"),
        F.countDistinct("pred_raw").alias("n_preds"),
        F.countDistinct("obj_raw").alias("n_values"),
        F.count("*").alias("n_facts"),
    )
