"""SparkSession settings for the engine.

Replaces the reference's hand-rolled runtime (thread pools, bounded queues,
1 GB Lucene RAM buffer — ``index/IndexManager.java:132``,
``utils/concurrent/Parallel.java:98-190``) with Spark's scheduler + AQE.

* ``ENGINE_CONF``: the runtime SQL settings of every build, whatever the
  deployment. ``get_spark`` passes them to its builder;
  ``jobs/run_pipeline.py`` and ``__spark_entry__.entry`` apply them to the
  session they are given (:func:`apply_engine_conf`). AQE coalesces
  shuffles and splits skewed joins (the reference's only skew answer was a
  backpressure sleep loop, ``searchjoin/SearchJoin.java:397-410``), and the
  planner picks join strategies. Arrow vectorizes every Python kernel. The
  zone is UTC; the build reads none (dates count days with ``unix_date``).
* ``get_spark``'s local-only tuning, which a cluster deployment revisits:
  master (``SPARK_MASTER``, else spark-submit's, else ``local[cores]``),
  shuffle partitions (``SPARK_SHUFFLE_PARTITIONS``), 2 MB scan splits
  (``SPARK_MAX_PARTITION_BYTES``; e.g. 128 MB on a cluster), driver memory
  (``SPARK_DRIVER_MEM``), UI off, the executor PYTHONPATH pin, the codegen
  cache size, dynamic partition overwrite (each partitioned write sets
  its own mode) and the shuffled-hash join preference. A shuffled-hash
  build side cannot spill, so a cluster keeps Spark's sort-merge default.
* Iceberg: the publish step (``catalog.write_table``, ``--output-table``)
  creates a catalog table partitioned by ``subj_bucket``: Iceberg on a
  cluster with the runtime jar, a parquet table in ``spark_catalog`` here.
  Ledger checkpoints are flat parquet committed by a ledger entry.
"""

from __future__ import annotations

import os
import sys

from pyspark import SparkConf, SparkContext
from pyspark.sql import SparkSession

DEFAULT_CPUS = int(os.environ.get("SPARK_GRAFT_CPUS", "32"))

# Runtime SQL settings of every build, on every entry point.
ENGINE_CONF = {
    "spark.sql.adaptive.enabled": "true",
    "spark.sql.adaptive.coalescePartitions.enabled": "true",
    "spark.sql.adaptive.skewJoin.enabled": "true",
    "spark.sql.execution.arrow.pyspark.enabled": "true",
    "spark.sql.execution.arrow.maxRecordsPerBatch": "10000",
    "spark.sql.autoBroadcastJoinThreshold": str(64 * 1024 * 1024),
    "spark.sql.session.timeZone": "UTC",
}


def apply_engine_conf(spark: SparkSession) -> None:
    """Set ``ENGINE_CONF`` on a running session. A key the deployment set
    (``spark-submit --conf``) keeps that value; the others take the list's."""
    deployed = spark.sparkContext.getConf()
    for k, v in ENGINE_CONF.items():
        spark.conf.set(k, deployed.get(k, v))


def get_spark(
    app_name: str = "mannheimsearchjoinsengine-spark",
    cores: int | None = None,
    extra_conf: dict | None = None,
) -> SparkSession:
    """Build (or reuse) a SparkSession: ``ENGINE_CONF`` plus local tuning.

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
    shuffle_partitions = int(
        os.environ.get("SPARK_SHUFFLE_PARTITIONS", str(max(cores * 2, 8)))
    )
    master = os.environ.get("SPARK_MASTER")
    if not master and "PYSPARK_GATEWAY_PORT" in os.environ:
        # spark-submit started the driver JVM before this process: keep its
        # --master. Only a running JVM is asked; starting one here would fix
        # its heap before the builder's spark.driver.memory reaches it.
        SparkContext._ensure_initialized()
        master = SparkConf().get("spark.master", None)
    master = master or f"local[{cores}]"
    builder = (
        SparkSession.builder.appName(app_name)
        .master(master)
        .config(map=ENGINE_CONF)
        .config("spark.sql.shuffle.partitions", str(shuffle_partitions))
        # Let the planner pick shuffled-hash over sort-merge when the
        # per-partition build side fits (guide §3.1): skips both sort
        # passes. The AQE threshold mirrors the advisory partition size, so
        # a post-shuffle partition AQE deems healthy is also hash-buildable.
        .config("spark.sql.join.preferSortMergeJoin", "false")
        .config(
            "spark.sql.adaptive.maxShuffledHashJoinLocalMapThreshold",
            str(64 * 1024 * 1024),
        )
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
        .config("spark.ui.enabled", "false")
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
    return builder.config(map=extra_conf or {}).getOrCreate()
