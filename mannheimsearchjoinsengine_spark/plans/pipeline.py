"""The full KG-construction pipeline (north-rule stages 1-5).

transcripts → extract (facts/mentions) → typed cells → index (postings /
attributes) → search-join (join results) → predicate consolidation →
conflict resolution → canonicalization → triples.

Mirrors the reference's five-stage lifecycle (SURVEY.md §3.2) as ONE
declarative DAG (:func:`stages`) with optional stage checkpoints
(sources/catalog.py) — resumable at every boundary, per-partition lineage
recorded.
"""

from __future__ import annotations

import functools
import hashlib
import importlib
import os
import pkgutil
import uuid
from collections.abc import Callable
from concurrent.futures import FIRST_COMPLETED, ThreadPoolExecutor, wait
from dataclasses import dataclass, field

import pyarrow.parquet as pq
from pyspark.sql import DataFrame, SparkSession

from mannheimsearchjoinsengine_spark.datagen import REPO_ROOT, ensure_transcripts, sf_tag_of_dir
from mannheimsearchjoinsengine_spark.operators.canonical import exact_clusters, fuzzy_clusters
from mannheimsearchjoinsengine_spark.operators.extract import extract_facts, extract_mentions
from mannheimsearchjoinsengine_spark.operators.fuzzy import lsh_verified_pairs
from mannheimsearchjoinsengine_spark.operators.index import build_attributes, build_postings
from mannheimsearchjoinsengine_spark.operators.match import pred_merge_map
from mannheimsearchjoinsengine_spark.operators.probe import join_results
from mannheimsearchjoinsengine_spark.operators.profile import majority_dtype, typed_cells
from mannheimsearchjoinsengine_spark.operators.resolve import resolve_dispatch
from mannheimsearchjoinsengine_spark.operators.triplify import to_triples
from mannheimsearchjoinsengine_spark.sources import transcripts as src
from mannheimsearchjoinsengine_spark.sources.catalog import StageLedger

# stages materialized at once: 4 ≈ the pipeline DAG's max antichain
# (postings/attributes/merge_map/clusters after cells); measured at sf0.1:
# 9.0 s serial → 5.4 s (3 workers: 5.6 s). More workers than independent
# stages buys nothing.
STAGE_WORKERS = 4


@dataclass(frozen=True)
class Stage:
    """One row of the stage graph. ``build`` takes the frames named by
    ``inputs`` (stage names, or the pseudo-input ``"transcripts"``), in
    order, and ``params`` as keywords; ``params`` are part of the key."""

    name: str
    inputs: tuple[str, ...]
    build: Callable[..., DataFrame]
    params: dict = field(default_factory=dict)


def _clusters(cells: DataFrame, fuzzy: bool) -> DataFrame:
    facts = cells.drop("dtype")
    if not fuzzy:
        return exact_clusters(facts)
    pairs = lsh_verified_pairs(facts.select("subj_norm"))
    return fuzzy_clusters(facts, pairs).select("subj_norm", "canonical_label")


def stages(fuzzy_canonical: bool = False) -> tuple[Stage, ...]:
    """The stage graph. cells = facts + a dtype column, so facts are no
    stage of their own: their readers drop the column. Two materializations of
    90% identical data were the single biggest fixed cost in the pipeline."""
    return (
        Stage("cells", ("transcripts",), lambda t: typed_cells(extract_facts(t))),
        Stage("mentions", ("transcripts",), extract_mentions),
        Stage("postings", ("cells",), lambda c: build_postings(c.drop("dtype"))),
        Stage("attributes", ("cells",), build_attributes),
        Stage("pred_merge_map", ("cells",), pred_merge_map),
        Stage("clusters", ("cells",), _clusters, {"fuzzy": fuzzy_canonical}),
        Stage("join_results", ("mentions", "cells"), lambda m, c: join_results(m, c.drop("dtype"))),
        Stage("resolved", ("pred_merge_map", "cells"),
              lambda mm, c: resolve_dispatch(c.join(mm, "pred_raw"))),
        Stage("pred_dtypes", ("pred_merge_map", "cells"),
              lambda mm, c: majority_dtype(c.join(mm, "pred_raw"), "pred_canon")),
        # the checkpoint is flat like every other stage; the subj_bucket
        # layout is applied when a caller publishes the table
        # (catalog.write_table, jobs/run_pipeline.py --output)
        Stage("triples", ("resolved", "clusters", "pred_dtypes"), to_triples),
    )


def run_pipeline(
    spark: SparkSession,
    sf_dir: str,
    checkpoint_root: str | None = None,
    fuzzy_canonical: bool = False,
    input_path: str | None = None,
    input_format: str | None = None,
    input_table: str | None = None,
) -> dict[str, DataFrame]:
    """Run all stages; returns every intermediate plus the triple table.

    With ``checkpoint_root`` set, each stage materializes through the ledger
    (kill + re-run resumes from the last completed stage). A stage's key
    hashes its name, params and inputs' keys; the root key is the input's
    fingerprint plus a digest of the package's sources. So a stage resumes
    only from a build with the same input, params and code.

    Join strategies are Spark's decision. The key-set joins
    (``join_results``, ``cells ⋈ pred_merge_map``, ``resolved ⋈ clusters``)
    carry no hint: the planner broadcasts a side whose size estimate (the
    parquet size on the ledger path) fits
    ``spark.sql.autoBroadcastJoinThreshold`` and shuffles both sides
    otherwise, where AQE's skew join splits a hot key (session.get_spark).

    ``fuzzy_canonical=True`` clusters surface forms through the fuzzy tier:
    fuzzy.lsh_verified_pairs runs the label token sets through the one
    MinHash-LSH kernel (canonical.minhash_lsh_pairs: signatures, bands
    capped per bucket, exact token-Jaccard verify), then connected
    components merge the pairs; the refimpl replicates the same md5
    MinHash. The exhaustive token-block join (fuzzy.fuzzy_self_pairs) is the
    J4/FastJoin parity surface, NOT this path.

    ``input_path`` (with optional ``input_format``) reads the transcripts
    from a parquet/csv(.gz)/json location via :func:`read_transcript_table`
    instead of the sf_dir's synthesized parquet. ``input_table`` reads a
    CATALOG table identifier — the Iceberg deployment shape
    (``spark.read.table("kg.db.transcripts")``), pinned locally against
    ``spark_catalog`` managed tables; its resume fingerprint is the listing
    of the files it reads, so a rewrite of the table rebuilds."""
    ledger = StageLedger(spark, checkpoint_root) if checkpoint_root else None
    transcripts, fingerprint = _source(spark, sf_dir, input_path, input_format, input_table)
    sc = spark.sparkContext

    def run(s: Stage, key: str, *frames: DataFrame) -> DataFrame:
        # the description labels the stage's jobs in the Spark UI / event
        # log, the tag lets a failed sibling cancel them; both are
        # thread-local, so clear them before the thread runs anything else
        tag = f"kg-stage:{s.name}"
        sc.setJobDescription(tag)
        sc.addJobTag(tag)
        try:
            if ledger is None:
                # Cut lineage at every stage boundary: most stages are read by
                # several later ones (cells feeds all but triples), and an uncut
                # plan tree re-runs the shared upstream subtree per reader —
                # measured 177 s vs ~90 s at 2M turns for a lazy vs
                # materialized DAG. The ledger path materializes to parquet.
                return s.build(*frames, **s.params).localCheckpoint()
            return ledger.materialize(s.name, key, lambda: s.build(*frames, **s.params))
        finally:
            sc.removeJobTag(tag)
            sc.setJobDescription(None)

    # Independent stages materialize CONCURRENTLY from a small driver
    # thread pool (guide §2.6 overlap: Spark's FIFO scheduler backfills the
    # tail of one stage's job with tasks from the next — the serial shape
    # left most of the cluster idle during every stage's straggler tail and
    # its write/read-back barrier). A stage is submitted once its inputs are
    # done; only this thread waits, so no worker blocks on another. Stages
    # write their own directories; the ledger locks its bookkeeping.
    done = {"transcripts": transcripts}
    keys = {"transcripts": f"{fingerprint()}:{_code_digest()}" if ledger else ""}
    pending, running = list(stages(fuzzy_canonical)), {}
    pool = ThreadPoolExecutor(max_workers=STAGE_WORKERS)
    try:
        while pending or running:
            for s in [s for s in pending if all(i in done for i in s.inputs)]:
                pending.remove(s)
                spec = (s.name, sorted(s.params.items()), [keys[i] for i in s.inputs])
                keys[s.name] = hashlib.md5(repr(spec).encode()).hexdigest()
                running[pool.submit(run, s, keys[s.name], *(done[i] for i in s.inputs))] = s
            finished, _ = wait(running, return_when=FIRST_COMPLETED)
            for f in finished:
                done[running.pop(f).name] = f.result()
    except BaseException:
        # a failed stage stops its siblings: running ones lose their Spark
        # jobs here, queued ones never start (cancel_futures)
        for s in running.values():
            sc.cancelJobsWithTag(f"kg-stage:{s.name}")
        raise
    finally:
        pool.shutdown(wait=True, cancel_futures=True)
    return {**done, "facts": done["cells"].drop("dtype"), "lineage": ledger and ledger.lineage()}


@functools.cache
def _code_digest() -> str:
    """md5 over the package's module sources (files or a --py-files zip)."""
    pkg = importlib.import_module(__name__.split(".")[0])
    h = hashlib.md5()
    for m in sorted(pkgutil.walk_packages(pkg.__path__, pkg.__name__ + "."), key=lambda m: m.name):
        source = m.module_finder.find_spec(m.name).loader.get_source(m.name)
        h.update(f"{m.name}\n{source}".encode())
    return h.hexdigest()


def _source(spark: SparkSession, sf_dir: str, input_path: str | None, input_format: str | None,
            input_table: str | None) -> tuple[DataFrame, Callable[[], str]]:
    """The transcript table and a function returning its resume fingerprint,
    called only on the ledger path: the sf_dir parquet's footer row count,
    or the (path, size, mtime) listing of the files an input path or a
    catalog table reads (no Spark job either way)."""
    if input_table is not None and input_path is not None:
        raise ValueError("pass input_table OR input_path, not both")
    if input_table is not None:
        df = spark.read.table(input_table)
        missing = [c for c in src.REQUIRED_COLUMNS if c not in df.columns]
        if missing:
            raise ValueError(f"table {input_table!r} lacks columns {missing}")
        return df, lambda: f"{input_table}:{_table_signature(spark, df)}"
    if input_path is not None:
        df = src.read_transcript_table(spark, input_path, input_format)
        return df, lambda: f"{input_path}:{_path_signature(input_path)}"
    path = ensure_transcripts(sf_dir)
    # the row count from the parquet footer: no Spark job
    return spark.read.parquet(path), lambda: f"{sf_dir}:{pq.ParquetFile(path).metadata.num_rows}"


def _listing_digest(files: list[tuple[str, int, float]]) -> str:
    """md5 over a sorted per-file (path, size, mtime) listing — metadata
    only, no data read, and sensitive to any file being added, removed,
    renamed, resized or touched (a sum/max signature missed same-total
    swaps with preserved timestamps). On an object store, swap mtime for
    the listing's etags."""
    listing = "\n".join(f"{f}:{n}:{t}" for f, n, t in sorted(files))
    return hashlib.md5(listing.encode()).hexdigest()


def _path_signature(path: str) -> str:
    """Listing digest of the files under a local input path."""
    files = []
    if os.path.isdir(path):
        for root, _, names in os.walk(path):
            files += [os.path.join(root, n) for n in names if not n.startswith((".", "_"))]
    elif os.path.exists(path):
        files = [path]
    return _listing_digest([(f, os.path.getsize(f), os.path.getmtime(f)) for f in files])


def _table_signature(spark: SparkSession, df: DataFrame) -> str:
    """Listing digest of the files a file-backed catalog table reads
    (``inputFiles()``, stat'ed through Hadoop's FileSystem, so any scheme
    works), schema included. A rewrite with the same row count and schema
    writes new files, so it changes the digest. A source that lists no
    files (a non-file source; an Iceberg table would need its snapshot id)
    cannot prove its identity: it gets a fresh fingerprint, so its stages
    always rebuild."""
    files = df.inputFiles()
    if not files:
        return uuid.uuid4().hex
    hpath, conf = spark._jvm.org.apache.hadoop.fs.Path, spark._jsc.hadoopConfiguration()
    stats = [hpath(f).getFileSystem(conf).getFileStatus(hpath(f)) for f in files]
    listing = [(f, st.getLen(), st.getModificationTime()) for f, st in zip(files, stats)]
    return f"{df.schema.simpleString()}:{_listing_digest(listing)}"


def default_checkpoint_root(sf_dir: str) -> str:
    """The ledger root of an sf_dir build under the checkout's own data/."""
    return os.path.join(REPO_ROOT, "data", "checkpoints", sf_tag_of_dir(sf_dir))
