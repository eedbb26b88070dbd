"""SparkSession factory for the engine.

Replaces the reference's hand-rolled runtime (thread pools, bounded queues,
1 GB Lucene RAM buffer — ``index/IndexManager.java:132``,
``utils/concurrent/Parallel.java:98-190``) with Spark's scheduler + AQE.

Design notes for the 100 TB target (local[32] is only the test harness):

* AQE on → runtime coalescing of shuffle partitions + skew-join splitting.
  The reference's only skew answer was a backpressure sleep loop
  (``searchjoin/SearchJoin.java:397-410``). Here skew is handled by AQE's
  skew join plus the df-caps on hot tokens and keys (index, dedup,
  infogather), not by explicit salting; join strategies are left to the
  planner (``autoBroadcastJoinThreshold`` below).
* Arrow enabled → all Python kernels are vectorized pandas/Arrow UDFs
  (zero per-row Python, per BASELINE.json).
* ``spark.sql.shuffle.partitions`` defaults to 2×cores locally; on a real
  cluster this is overridden by AQE's coalescing from a high initial value.
* Iceberg: the north rule targets Iceberg tables. The sandbox has no Iceberg
  runtime jar (no network), so the catalog layer (`sources/catalog.py`) writes
  Iceberg when ``spark.sql.catalog.*`` is configured and falls back to
  hive-style partitioned parquet with an explicit manifest otherwise — same
  layout, same partition spec, swap-in deployment config on a real cluster.
* Local-only defaults a cluster deployment must revisit through the
  environment: ``SPARK_MAX_PARTITION_BYTES`` (2 MB scan splits; set it back
  to e.g. 128 MB), ``SPARK_PREFER_SMJ`` (``false`` prefers shuffled-hash
  joins) and ``SPARK_SHJ_LOCAL_THRESHOLD`` (64 MB per-partition hash-build
  limit, matched to the advisory partition size). A shuffled-hash build
  side cannot spill, so a cluster that resizes shuffle partitions must
  revisit both join settings or risk OOM where sort-merge would spill.
"""

from __future__ import annotations

import os
import sys

from pyspark.sql import SparkSession

DEFAULT_CPUS = int(os.environ.get("SPARK_GRAFT_CPUS", "32"))


def get_spark(
    app_name: str = "mannheimsearchjoinsengine-spark",
    cores: int | None = None,
    shuffle_partitions: int | None = None,
    extra_conf: dict | None = None,
) -> SparkSession:
    """Build (or reuse) a SparkSession tuned for this engine.

    ``cores`` controls ``local[n]`` in the sandbox; on a cluster the
    master/executor topology comes from spark-submit and this arg is ignored.
    """
    cores = cores or DEFAULT_CPUS
    # Shuffle partitioning tracks DATA volume, not core count: AQE coalesces
    # downward from this number but never splits upward, so an undersized
    # value makes big shuffles spill (8 partitions × 4M rows at 32M-turn
    # inputs = multi-pass sort-merge on disk). 2×cores is the low-latency
    # default for sandbox-scale inputs; SPARK_SHUFFLE_PARTITIONS overrides
    # for larger runs (run_scaling.sh pins one size-appropriate value for
    # BOTH parallelism levels, as a cluster job would).
    shuffle_partitions = shuffle_partitions or int(
        os.environ.get("SPARK_SHUFFLE_PARTITIONS", str(max(cores * 2, 8)))
    )
    master = os.environ.get("SPARK_MASTER", f"local[{cores}]")
    builder = (
        SparkSession.builder.appName(app_name)
        .master(master)
        .config("spark.sql.shuffle.partitions", str(shuffle_partitions))
        .config("spark.sql.adaptive.enabled", "true")
        .config("spark.sql.adaptive.coalescePartitions.enabled", "true")
        .config("spark.sql.adaptive.skewJoin.enabled", "true")
        # Let the planner pick shuffled-hash over sort-merge when the
        # per-partition build side fits (guide §3.1): skips both sort
        # passes. The AQE threshold mirrors the advisory partition size, so
        # a post-shuffle partition AQE deems healthy is also hash-buildable;
        # both knobs are env-overridable for cluster deployments where
        # partitions are sized differently.
        .config(
            "spark.sql.join.preferSortMergeJoin",
            os.environ.get("SPARK_PREFER_SMJ", "false"),
        )
        .config(
            "spark.sql.adaptive.maxShuffledHashJoinLocalMapThreshold",
            os.environ.get("SPARK_SHJ_LOCAL_THRESHOLD", str(64 * 1024 * 1024)),
        )
        .config("spark.sql.execution.arrow.pyspark.enabled", "true")
        .config("spark.sql.execution.arrow.maxRecordsPerBatch", "10000")
        .config("spark.sql.autoBroadcastJoinThreshold", str(64 * 1024 * 1024))
        # Local-mode inputs are single ~100-200 MB parquet files; the 128 MB
        # default split would scan them with 1-2 tasks and cap every scan-
        # derived stage at that parallelism. 2 MB splits give every core a
        # task at sandbox scale (datagen writes 50k-row groups to match).
        # The tiny split is LOCAL-ONLY tuning: any cluster deployment must
        # set SPARK_MAX_PARTITION_BYTES (e.g. back to 128 MB) or scans of
        # TB inputs will explode into millions of tasks.
        .config(
            "spark.sql.files.maxPartitionBytes",
            os.environ.get("SPARK_MAX_PARTITION_BYTES", str(2 * 1024 * 1024)),
        )
        .config("spark.driver.memory", os.environ.get("SPARK_DRIVER_MEM", "24g"))
        .config("spark.sql.session.timeZone", "UTC")
        .config("spark.ui.enabled", os.environ.get("SPARK_UI", "false"))
        .config("spark.sql.sources.partitionOverwriteMode", "dynamic")
        # Janino-compiled classes live in an LRU cache of this many entries
        # (default 100). One pipeline build generates 148 distinct classes
        # at 30k turns with exact canonicalization and about 210 with the
        # fuzzy tier, and the next build asks for the same classes in the
        # same order. An LRU smaller than a working set that repeats in
        # order evicts every class before its next use, so it never hits.
        # 1000 holds the whole set with headroom. Only a process that runs
        # several builds in one session gains (a benchmark loop, the test
        # suite); a one-shot build compiles the whole set either way.
        # A static conf: fixed at session start.
        .config("spark.sql.codegen.cache.maxEntries", "1000")
    )
    if master.startswith("local"):
        # Executor-side Python needs the package importable when the master
        # is local-cluster[...] (separate worker JVMs spawn their own Python
        # workers; unlike local[n] they inherit neither sys.path nor the
        # interpreter). Driver-machine paths are only valid on THIS machine,
        # so the pin is sandbox-only: on a real cluster (yarn/k8s/spark://)
        # the deployment ships the package via --py-files and picks the
        # worker interpreter via PYSPARK_PYTHON, which this must not
        # override.
        builder = builder.config(
            "spark.executorEnv.PYTHONPATH",
            os.path.dirname(os.path.dirname(os.path.abspath(__file__))),
        ).config("spark.pyspark.python", sys.executable)
    for k, v in (extra_conf or {}).items():
        builder = builder.config(k, v)
    return builder.getOrCreate()
