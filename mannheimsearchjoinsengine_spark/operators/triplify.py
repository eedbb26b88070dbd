"""Stage 5b — triplify (reference S15, ``IO/Triplifier.java:31-159``).

The reference emits one N-Triples line per cell with a capitalized,
space-stripped subject URI (``Triplifier.java:52-61``) and an xsd-typed
literal object (``addBrackets:129-159``). Spark-native we keep triples
relational — ``(subj, pred, obj, obj_dtype, subj_bucket)`` — with an
N-Triples text projection for parity. ``subj_bucket`` is a subject hash
bucket (the Iceberg ``bucket(subj)`` spec of the north rule): the stage
ledger checkpoints the table flat, and the published table
(``catalog.write_table``, ``jobs/run_pipeline.py --output``) is partitioned
by it.
"""

from __future__ import annotations

from pyspark.sql import Column, DataFrame
from pyspark.sql import functions as F

XSD = {
    "numeric": "http://www.w3.org/2001/XMLSchema#double",
    "date": "http://www.w3.org/2001/XMLSchema#date",
    "bool": "http://www.w3.org/2001/XMLSchema#boolean",
    "unit": "http://www.w3.org/2001/XMLSchema#double",
    "coordinate": "http://www.w3.org/2001/XMLSchema#string",
    "link": "http://www.w3.org/2001/XMLSchema#anyURI",
    "list": "http://www.w3.org/2001/XMLSchema#string",
    "string": "http://www.w3.org/2001/XMLSchema#string",
}
BASE = "http://mannheimsearchjoins.example/resource/"


def uri_ify(col: Column) -> Column:
    """``Triplifier.java:52-61``: capitalize words, strip spaces → URI tail."""
    return F.regexp_replace(F.initcap(col), r"\s+", "")


def to_triples(resolved: DataFrame, clusters: DataFrame, dtypes: DataFrame) -> DataFrame:
    """Join resolved facts to canonical labels + dtype and emit the triple
    table. `resolved`: (subj_norm, pred_canon, obj_resolved);
    `clusters`: (subj_norm, canonical_label); `dtypes`: (pred_canon,
    dtype_major).

    ``dtypes`` is predicate-cardinality (schema-bounded) → always
    broadcast. The hint is needed: on the ledger-less path ``dtypes`` is a
    localCheckpoint that keeps the size estimate of the aggregation it was
    cut from (terabytes, for a few dozen rows), and without the hint Spark
    plans a sort-merge join there.
    ``clusters`` is one row per distinct SUBJECT — unbounded at web scale —
    so its join carries no hint and Spark picks the strategy from its size
    estimate. A shuffled join needs no skew handling here: both sides are
    aggregated grains (≤ one row per (subj, pred) left, exactly one row per
    subj right), so no key is hot by construction.
    """
    c = clusters.select("subj_norm", "canonical_label")
    t = (
        resolved.join(c, "subj_norm")
        .join(F.broadcast(dtypes), "pred_canon")
        .select(
            F.col("canonical_label").alias("subj"),
            F.col("pred_canon").alias("pred"),
            F.col("obj_resolved").alias("obj"),
            F.col("dtype_major").alias("obj_dtype"),
        )
        .distinct()
    )
    return t.withColumn("subj_bucket", F.abs(F.hash("subj")) % 64)


def ntriples_lines(triples: DataFrame) -> DataFrame:
    """N-Triples projection (parity with ``Triplifier.triplifyTable:31-114``)."""
    xsd_map = F.create_map(*[F.lit(x) for kv in XSD.items() for x in kv])
    subj = F.concat(F.lit("<" + BASE), uri_ify(F.col("subj")), F.lit(">"))
    pred = F.concat(F.lit("<" + BASE + "property/"), uri_ify(F.col("pred")), F.lit(">"))
    obj = F.concat(
        F.lit('"'),
        F.regexp_replace(F.col("obj"), r'"', '\\\\"'),
        F.lit('"^^<'),
        xsd_map[F.col("obj_dtype")],
        F.lit(">"),
    )
    return triples.select(
        F.concat_ws(" ", subj, pred, obj, F.lit(".")).alias("ntriple")
    )
