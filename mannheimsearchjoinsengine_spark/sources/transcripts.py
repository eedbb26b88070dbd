"""Transcript source (the engine's S1-S5 analog input).

The reference ingests CSV/gz web tables (``IO/ConvertFileToTable.java``);
our input is the north-rule transcript table. At 10^12-turn scale this is an
Iceberg table bucketed by ``conv_id``; in the sandbox it is the deterministic
parquet produced by :mod:`mannheimsearchjoinsengine_spark.datagen`.

Scale notes: the parquet/Iceberg scan is already split by file/row-group, so
extraction is a narrow map — no shuffle. A single monster conversation (the
skew case in FIXTURES.md) only matters to per-``conv_id`` aggregations; their
map-side partial aggregation absorbs it.
"""

from __future__ import annotations

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql.types import (
    IntegerType,
    StringType,
    StructField,
    StructType,
    TimestampNTZType,
)

from mannheimsearchjoinsengine_spark.datagen import ensure_transcripts

TPCH_TABLES = [
    "region", "nation", "customer", "supplier", "part",
    "orders", "lineitem", "events", "documents", "embeddings",
]

# canonical transcript schema (the north-rule input shape); the streaming
# file source and the non-parquet readers both pin it explicitly. ts is
# TimestampNTZ — exactly what datagen's parquet carries. The build reads it
# without a zone; code that casts it to TIMESTAMP reads the session zone,
# which session.ENGINE_CONF pins to UTC on get_spark sessions and in the
# two batch entry points (jobs/run_pipeline.py, __spark_entry__.entry)
TRANSCRIPT_SCHEMA = StructType(
    [
        StructField("conv_id", StringType()),
        StructField("turn_idx", IntegerType()),
        StructField("role", StringType()),
        StructField("text", StringType()),
        StructField("tool", StringType()),
        StructField("ts", TimestampNTZType()),
    ]
)

REQUIRED_COLUMNS = ("conv_id", "turn_idx", "role", "text")


def load_transcripts(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Load (generating if needed) the transcript table for a testdata dir."""
    return spark.read.parquet(ensure_transcripts(sf_dir))


def load_table(spark: SparkSession, sf_dir: str, name: str) -> DataFrame:
    """Load one of the driver-provided parquet tables."""
    return spark.read.parquet(f"{sf_dir}/{name}.parquet")


def read_transcript_table(
    spark: SparkSession, path: str, fmt: str | None = None
) -> DataFrame:
    """S1-S5 reader dispatch + validation for transcript tables in other
    formats (``IO/ConvertFileToTable.java:40-90`` dispatches readers by
    file extension; this is the Spark-source analog).

    ``fmt`` one of ``parquet | csv | json``, inferred from the extension
    when omitted (``.gz`` compression is transparent to Spark's text
    sources — but NOT splittable: one gzip file = one task, so at scale
    prefer parquet, many gz shards, or decompressed text). CSV/JSON apply
    :data:`TRANSCRIPT_SCHEMA` explicitly — schema inference over text
    formats is both a correctness trap (a numeric-looking conv_id) and an
    extra full scan.

    Validation (the S5 step) is per-format: parquet columns come from the
    footer and CSV columns from the header, so missing required columns
    raise ``ValueError`` for both (CSV is read headered-as-strings and
    cast BY NAME — an explicit schema on the csv reader would bind
    positionally and silently scramble a reordered table); JSON matches
    fields BY NAME and absent fields legitimately read as null — the
    null-density cleaning stage (P14) is the guard there.
    """
    if fmt is None:
        p = path.lower()
        if p.endswith(".gz"):
            p = p[: -len(".gz")]
        for ext, f in ((".parquet", "parquet"), (".csv", "csv"),
                       (".json", "json"), (".jsonl", "json")):
            if p.endswith(ext):
                fmt = f
                break
        else:
            raise ValueError(f"cannot infer transcript format from {path!r}")
    if fmt == "parquet":
        df = spark.read.parquet(path)
        missing = [c for c in REQUIRED_COLUMNS if c not in df.columns]
        if missing:
            raise ValueError(
                f"transcript table at {path!r} lacks columns {missing}"
            )
    elif fmt == "csv":
        # bind by NAME, not position: one headered pass with all-string
        # columns (inference off — no extra scan), validate, then cast to
        # the canonical types. An explicit schema on the csv reader would
        # bind positionally and silently scramble a reordered table.
        # multiLine: transcript text routinely embeds newlines (RFC4180-
        # quoted); without it each physical line parses as a row and
        # PERMISSIVE mode turns the fragments into silent garbage. The
        # cost is that csv files become non-splittable (one task per file)
        # — shard the input, or better, use parquet for anything big.
        raw = spark.read.csv(path, header=True, multiLine=True)
        missing = [c for c in REQUIRED_COLUMNS if c not in raw.columns]
        if missing:
            raise ValueError(
                f"transcript table at {path!r} lacks columns {missing}"
            )
        from pyspark.sql import functions as F

        df = raw.select(
            *[
                (F.col(f.name) if f.name in raw.columns else F.lit(None))
                .cast(f.dataType)
                .alias(f.name)
                for f in TRANSCRIPT_SCHEMA.fields
            ]
        )
    elif fmt == "json":
        # JSON matches fields by NAME against the explicit schema, so a
        # renamed field (conversation_id) would silently read as all-null
        # conv_id. Peek ONE line (a tiny limit-1 job, no full scan) and
        # require the required keys — the same loud failure the other
        # formats give.
        first = spark.read.text(path).head(1)
        if first:
            import json as _json

            try:
                keys = set(_json.loads(first[0].value))
            except (ValueError, TypeError):
                keys = None
            if keys is not None:
                missing = [c for c in REQUIRED_COLUMNS if c not in keys]
                if missing:
                    raise ValueError(
                        f"transcript table at {path!r} lacks columns {missing}"
                    )
        df = spark.read.schema(TRANSCRIPT_SCHEMA).json(path)
    else:
        raise ValueError(f"unsupported transcript format {fmt!r}")
    return df
