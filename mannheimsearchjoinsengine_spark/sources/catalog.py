"""Catalog / checkpoint layer (reference S12/S13 made Spark-native).

The reference memoizes stage results as Java-serialized blobs
(``searchjoin/SearchJoin.saveResults:76-102``,
``schemamatching/Matcher.saveSimilarities:53-79``). Here every stage
boundary is a TABLE: written as flat parquet, recorded in a JSON ledger
with a content fingerprint, and reused on re-run when the fingerprint
matches — which is exactly the north rule's "resumable from checkpoint"
contract.

Iceberg note: the north rule targets an Iceberg catalog; this sandbox has no
Iceberg runtime jar (no network), so INTERNAL stage checkpoints are flat
parquet + ledger manifest. Partitioning belongs to the published table: the
pipeline EDGES already speak catalog-table identifiers
— ``run_pipeline(input_table="kg.db.transcripts")`` reads via
``spark.read.table`` and :func:`write_table` materializes the triple table
via ``writeTo(...).createOrReplace``, partitioned by ``subj_bucket`` (the
``bucket(subj)`` spec) — so on a cluster, configuring
``spark.sql.catalog.kg=org.apache.iceberg.spark.SparkCatalog`` and passing
``kg.``-qualified identifiers is the whole switch; both call paths are
pinned locally against ``spark_catalog`` managed tables
(``tests/test_pipeline_e2e.py::test_pipeline_catalog_table_io``).
"""

from __future__ import annotations

import json
import os
import time

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql.types import StructType


def _footer_rows(out: str) -> list[tuple[int, str, int]]:
    """(partition_id, file, rows) per written data file, read from parquet
    footers on the driver — no Spark job. File-grain is the natural
    per-partition lineage for a written table (one file per write task)."""
    import pyarrow.parquet as pq

    files = []
    for dirpath, _, names in os.walk(out):
        for n in sorted(names):
            if n.endswith(".parquet"):
                files.append(os.path.join(dirpath, n))
    files.sort()
    return [
        (i, os.path.relpath(f, out), pq.ParquetFile(f).metadata.num_rows)
        for i, f in enumerate(files)
    ]


LINEAGE_SCHEMA = "partition_id int, file string, rows_out bigint, stage string"


def _write_lineage(path: str, stage: str, part_rows: list[tuple[int, str, int]]) -> None:
    """Write the lineage rows as a single parquet file with pyarrow (spark-
    readable; ``StageLedger.lineage`` globs these per-stage dirs)."""
    import pyarrow as pa
    import pyarrow.parquet as pq

    import shutil

    shutil.rmtree(path, ignore_errors=True)  # drop any stale-format files
    rows = part_rows or [(0, "", 0)]
    table = pa.table(
        {
            "partition_id": pa.array([int(i) for i, _, _ in rows], pa.int32()),
            "file": pa.array([f for _, f, _ in rows], pa.string()),
            "rows_out": pa.array([int(r) for _, _, r in rows], pa.int64()),
            "stage": pa.array([stage] * len(rows), pa.string()),
        }
    )
    os.makedirs(path, exist_ok=True)
    tmp = os.path.join(path, "part-00000.parquet.tmp")
    pq.write_table(table, tmp)
    os.replace(tmp, os.path.join(path, "part-00000.parquet"))


class StageLedger:
    """Stage checkpoint ledger: records (stage → path, fingerprint, schema,
    metrics) and short-circuits recomputation when the input fingerprint
    matches. Stages are read back with their recorded schema, so neither a
    build nor a resume starts a schema-inference job."""

    def __init__(self, spark: SparkSession, root: str):
        import threading

        self.spark = spark
        self.root = root
        self.path = os.path.join(root, "_ledger.json")
        os.makedirs(root, exist_ok=True)
        self.entries: dict[str, dict] = {}
        # independent stages materialize from a small driver thread pool
        # (plans/pipeline.py) — entry updates + ledger-file saves are the
        # only shared mutable state and go through this lock; each stage
        # writes its own directory, so the data paths never contend
        self._lock = threading.Lock()
        if os.path.exists(self.path):
            with open(self.path) as f:
                self.entries = json.load(f)

    def _save(self) -> None:
        tmp = self.path + ".tmp"
        with open(tmp, "w") as f:
            json.dump(self.entries, f, indent=1)
        os.replace(tmp, self.path)

    def _read(self, out: str, schema: dict) -> DataFrame:
        return self.spark.read.schema(StructType.fromJson(schema)).parquet(out)

    def materialize(
        self,
        stage: str,
        fingerprint: str,
        build,  # () -> DataFrame
        partition_by: list[str] | None = None,
    ) -> DataFrame:
        """Return the stage table, building + persisting only when the
        checkpoint is missing or stale. Also writes a per-partition lineage
        row set (stage, partition_id, rows) next to the data. An entry
        without a recorded schema is stale: the stage is rebuilt."""
        out = os.path.join(self.root, stage)
        ent = self.entries.get(stage)
        if (
            ent
            and ent.get("fingerprint") == fingerprint
            and "schema" in ent
            and os.path.exists(out)
        ):
            # torn-write guard: only resume when the files on disk still
            # carry the row count recorded at write time (parquet footers,
            # driver-side, no Spark job). A crash between the data write
            # and the ledger save leaves no entry (clean rebuild); a
            # truncated or partially-deleted dir fails this check and
            # rebuilds instead of silently resuming short.
            try:
                on_disk = sum(r for _, _, r in _footer_rows(out))
            except Exception:
                on_disk = None
            if on_disk == ent.get("rows"):
                return self._read(out, ent["schema"])
        t0 = time.time()
        df = build()
        # no _SUCCESS marker: the ledger entry plus its footer row-count
        # check is the commit record, and on the local FS every file
        # written costs a chmod fork (Spark copies writer options into the
        # write job's Hadoop conf)
        writer = df.write.mode("overwrite").option(
            "mapreduce.fileoutputcommitter.marksuccessfuljobs", "false"
        )
        if partition_by:
            writer = writer.partitionBy(*partition_by)
        writer.parquet(out)
        schema = df.schema.jsonValue()
        persisted = self._read(out, schema)
        # ZERO-job metrics pass: per-partition row counts come straight from
        # the written files' parquet FOOTERS (driver-side metadata reads,
        # milliseconds) and the lineage table is written driver-side with
        # pyarrow. The previous shape — a full re-scan groupBy for counts
        # plus one Spark job per stage to write a handful of lineage rows —
        # was ~2 extra jobs × ~13 stage boundaries of pure serial floor
        # (the floor that capped N→4N scaling efficiency at small inputs).
        part_rows = _footer_rows(out)
        _write_lineage(
            os.path.join(self.root, f"_lineage/{stage}"), stage, part_rows
        )
        rows = sum(r for _, _, r in part_rows)
        with self._lock:
            self.entries[stage] = {
                "fingerprint": fingerprint,
                "path": out,
                "rows": rows,
                "schema": schema,
                "wall_s": round(time.time() - t0, 3),
                "finished_at": time.strftime("%Y-%m-%dT%H:%M:%SZ", time.gmtime()),
            }
            self._save()
        return persisted

    def lineage(self) -> DataFrame | None:
        p = os.path.join(self.root, "_lineage")
        if not os.path.exists(p):
            return None
        # a fixed schema, not mergeSchema: no footer-merge job, and lineage
        # dirs written before the 'file' column existed read it as NULL
        return self.spark.read.schema(LINEAGE_SCHEMA).parquet(p + "/*")


def write_table(
    df: DataFrame,
    identifier: str,
    fmt: str = "parquet",
    partition_cols: tuple[str, ...] = ("subj_bucket",),
) -> None:
    """Materialize ``df`` as catalog table ``identifier`` (DataFrameWriterV2
    create-or-replace, partitioned) — the Iceberg output touchpoint
    (``--output-table``). Iceberg and other V2 catalogs take the atomic
    REPLACE TABLE AS SELECT; the V1 session catalog (the sandbox pin)
    doesn't support RTAS, so it falls back to DROP + CREATE TABLE AS
    SELECT — non-atomic, which is exactly why a production deployment
    should point ``identifier`` at a real V2 catalog.

    The fallback fires ONLY on the specific does-not-support-RTAS error:
    any other AnalysisException (bad schema, missing partition column,
    permissions) re-raises untouched — a destructive DROP of the existing
    table must never be the response to an unrelated failure."""
    from pyspark.sql import functions as F
    from pyspark.errors import AnalysisException

    writer = df.writeTo(identifier).using(fmt)
    if partition_cols:
        writer = writer.partitionedBy(*[F.col(c) for c in partition_cols])
    try:
        writer.createOrReplace()
    except AnalysisException as e:
        cond = getattr(e, "getCondition", getattr(e, "getErrorClass", lambda: ""))()
        if (cond or "") != "UNSUPPORTED_FEATURE.TABLE_OPERATION":
            raise
        df.sparkSession.sql(f"DROP TABLE IF EXISTS {identifier}")
        writer.create()
