"""Structured Streaming ingestion of transcript turns.

The reference is strictly batch (SURVEY.md §2.9) — its producer/consumer
queues are intra-process pipelining, not stream semantics. This module adds
the Spark-native streaming story a transcript corpus actually needs: new
conversation files land continuously; extraction is incremental.

Two patterns:

* ``run_streaming_extraction`` — file-source stream → ``foreachBatch`` →
  the SAME batch ``extract_facts`` plan (single source of truth for the
  extraction grammar) → one idempotent parquet partition per epoch. Trigger
  ``availableNow`` processes the backlog then stops — the batch/stream
  parity test compares the result set to the one-shot batch run.
* ``windowed_turn_counts`` — event-time tumbling-window counts with a
  watermark for late data: the always-on monitoring aggregate of the
  ingest (state store bounded by the watermark).

Checkpoint location makes both resumable — the streaming twin of the
pipeline's stage ledger.
"""

from __future__ import annotations

import os

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F
from pyspark.sql.types import StructField, StructType, TimestampType

from mannheimsearchjoinsengine_spark.datagen import ensure_transcripts
from mannheimsearchjoinsengine_spark.operators.extract import extract_facts
from mannheimsearchjoinsengine_spark.sources.transcripts import TRANSCRIPT_SCHEMA

# Streaming reads ts as TIMESTAMP (not the canonical TIMESTAMP_NTZ):
# EventTimeWatermark rejects NTZ event-time columns. The parquet file source
# casts in the session zone. session.ENGINE_CONF pins it to UTC on get_spark
# sessions and in the two batch entry points; these functions take the
# caller's session as it is, so the instant equals the NTZ wall time only
# on a UTC session (on another, the watermark and windows shift with it).
STREAM_SCHEMA = StructType(
    [
        StructField(f.name, TimestampType() if f.name == "ts" else f.dataType)
        for f in TRANSCRIPT_SCHEMA.fields
    ]
)


def transcript_stream(spark: SparkSession, sf_dir: str) -> DataFrame:
    """File-source stream over the transcript directory (new parquet files
    are discovered incrementally; schema is explicit — required for
    streaming file sources)."""
    path = ensure_transcripts(sf_dir)
    return (
        spark.readStream.schema(STREAM_SCHEMA)
        .option("maxFilesPerTrigger", 8)
        .parquet(os.path.dirname(path))
    )


def _validate_sink_lineage(out_dir: str, checkpoint_dir: str) -> None:
    """A sink directory belongs to ONE checkpoint lineage: epoch-partition
    overwrite is idempotent only for replays of the SAME checkpoint. A fresh
    checkpoint re-batching into an existing sink would overwrite only the
    epoch_ids it regenerates and leave stale partitions from the prior run
    as duplicates. Refuse that instead of silently mixing lineages (local
    filesystem marker; swap for the Hadoop FS API on a real cluster)."""
    marker = os.path.join(out_dir, "_checkpoint_lineage")
    ckpt_id = os.path.abspath(checkpoint_dir)
    if os.path.isdir(out_dir):
        if os.path.exists(marker):
            with open(marker, encoding="utf-8") as f:
                prev = f.read().strip()
            if prev != ckpt_id:
                raise RuntimeError(
                    f"sink {out_dir} belongs to checkpoint lineage {prev}; "
                    f"refusing to write with checkpoint {ckpt_id} — use a fresh "
                    "sink dir (or delete the old one) when starting a new "
                    "checkpoint"
                )
        elif any(e.startswith("epoch_id=") for e in os.listdir(out_dir)):
            raise RuntimeError(
                f"sink {out_dir} has epoch partitions but no lineage marker; "
                "refusing to overwrite data of unknown provenance"
            )
    os.makedirs(out_dir, exist_ok=True)
    with open(marker, "w", encoding="utf-8") as f:
        f.write(ckpt_id)


def run_streaming_extraction(
    spark: SparkSession, sf_dir: str, out_dir: str, checkpoint_dir: str
) -> None:
    """Incremental fact extraction: backlog → availableNow → parquet sink.

    foreachBatch reuses the exact batch extraction plan per micro-batch, so
    streaming and batch cannot drift. foreachBatch is at-least-once: a crash
    after a (partial) write but before the checkpoint commit replays the
    epoch — so the write itself must be idempotent per epoch. Each epoch
    writes its own ``epoch_id=N`` partition with dynamic partition
    overwrite: a replayed epoch REPLACES its partition instead of appending
    duplicate fact rows. Idempotence holds within one checkpoint lineage
    only — ``_validate_sink_lineage`` pins the sink to its checkpoint."""
    _validate_sink_lineage(out_dir, checkpoint_dir)
    src = transcript_stream(spark, sf_dir)

    def process(batch_df: DataFrame, epoch_id: int) -> None:
        (
            extract_facts(batch_df)
            .withColumn("epoch_id", F.lit(int(epoch_id)))
            .write.mode("overwrite")
            .partitionBy("epoch_id")
            .option("partitionOverwriteMode", "dynamic")
            .parquet(out_dir)
        )

    (
        src.writeStream.foreachBatch(process)
        .trigger(availableNow=True)
        .option("checkpointLocation", checkpoint_dir)
        .start()
        .awaitTermination()
    )


def stateful_conv_progress(stream: DataFrame) -> DataFrame:
    """Custom stateful operator via ``applyInPandasWithState``: per
    conversation, the running turn count and the highest turn index seen —
    the incremental form of the engine's per-conversation profiling.

    State is one (count, max_idx) pair per conv_id — bounded by the number
    of live conversations, not by turns; Arrow-batched like every other
    Python boundary in this repo (no per-row Python).

    Rows without a conv_id or turn_idx are dropped JVM-side before the
    stateful operator: a foreign-schema parquet landing in the streamed
    directory surfaces as all-null rows, which would otherwise create a
    null group whose NaN max poisons the integer state (the pandas-side
    dropna below is defense-in-depth for the same failure inside a
    partially-null chunk).
    """
    import pandas as pd
    from pyspark.sql.streaming.state import GroupStateTimeout

    stream = stream.filter(
        F.col("conv_id").isNotNull() & F.col("turn_idx").isNotNull()
    )

    def update(key, pdfs, state):
        n, mx = state.get if state.exists else (0, -1)
        for pdf in pdfs:
            # Two ways a chunk can poison the integer state with NaN:
            # an EMPTY Arrow frame (seen under high task counts), and a
            # non-empty frame whose turn_idx is all-null (a foreign-schema
            # parquet surfacing through the file-source stream reads as
            # all-null transcript rows). Count and max only the valid rows.
            idx = pdf["turn_idx"].dropna()
            if not len(idx):
                continue
            n += len(idx)
            mx = max(mx, int(idx.max()))
        state.update((n, mx))
        yield pd.DataFrame(
            {"conv_id": [key[0]], "n_turns": [n], "max_turn_idx": [mx]}
        )

    return stream.groupBy("conv_id").applyInPandasWithState(
        update,
        "conv_id string, n_turns long, max_turn_idx int",
        "n long, mx int",
        "update",
        GroupStateTimeout.NoTimeout,
    )


def windowed_turn_counts(stream: DataFrame, window: str = "10 minutes") -> DataFrame:
    """Event-time tumbling-window turn counts per role with a 1-hour
    watermark — late turns beyond the watermark are dropped, state is
    bounded. Works under any trigger including availableNow."""
    return (
        stream.withWatermark("ts", "1 hour")
        .groupBy(F.window("ts", window).alias("w"), "role")
        .agg(F.count("*").alias("n_turns"))
        .select(
            F.col("w.start").alias("window_start"),
            F.col("w.end").alias("window_end"),
            "role",
            "n_turns",
        )
    )
