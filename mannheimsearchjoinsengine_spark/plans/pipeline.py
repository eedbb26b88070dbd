"""The full KG-construction pipeline (north-rule stages 1-5).

transcripts → extract (facts/mentions) → typed cells → index (postings /
attributes) → search-join (join results) → predicate consolidation →
conflict resolution → canonicalization → triples.

Mirrors the reference's five-stage lifecycle (SURVEY.md §3.2) as ONE
declarative DAG with optional stage checkpoints (sources/catalog.py) —
resumable at every boundary, per-partition lineage recorded.
"""

from __future__ import annotations

import os

from pyspark.sql import DataFrame, SparkSession

from mannheimsearchjoinsengine_spark.operators.canonical import exact_clusters
from mannheimsearchjoinsengine_spark.operators.extract import extract_facts, extract_mentions
from mannheimsearchjoinsengine_spark.operators.index import build_attributes, build_postings
from mannheimsearchjoinsengine_spark.operators.match import pred_merge_map
from mannheimsearchjoinsengine_spark.operators.probe import join_results
from mannheimsearchjoinsengine_spark.operators.profile import majority_dtype, typed_cells
from mannheimsearchjoinsengine_spark.operators.resolve import resolve_dispatch
from mannheimsearchjoinsengine_spark.operators.triplify import to_triples
from mannheimsearchjoinsengine_spark.sources.catalog import StageLedger
from mannheimsearchjoinsengine_spark.sources.transcripts import load_transcripts

# stages materialized at once: 4 ≈ the pipeline DAG's max antichain
# (postings/attributes/merge_map/clusters after cells); measured at sf0.1:
# 9.0 s serial → 5.4 s (3 workers: 5.6 s). More workers than independent
# stages buys nothing.
STAGE_WORKERS = 4


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
    (kill + re-run resumes from the last completed stage).

    Join strategies are Spark's decision. The key-set joins
    (``join_results``, ``cells ⋈ pred_merge_map``, ``resolved ⋈ clusters``)
    carry no hint: the planner broadcasts a side whose size estimate (the
    parquet size on the ledger path) fits
    ``spark.sql.autoBroadcastJoinThreshold`` and shuffles both sides
    otherwise, where AQE's skew join splits a hot key (session.get_spark).

    ``fuzzy_canonical=True`` clusters surface forms through the fuzzy tier —
    MinHash-LSH candidate blocking → exact token-Jaccard verify → connected
    components (the north rule's canonicalization path). Candidates are
    bounded per band bucket, so no token-hub quadratics at any scale; the
    exhaustive token-block join (fuzzy.fuzzy_self_pairs) stays available as
    the J4/FastJoin parity surface but is NOT on the pipeline path. The
    synthetic corpus emits near-miss surfaces (token drops/extensions), so
    the fuzzy tier genuinely merges keys the exact tier cannot; the P/R
    gate for this path runs against the refimpl's identical md5-MinHash.
    On the ledger path the canonicalization tier is part of the
    ``clusters`` and ``triples`` keys (the only stages that read it), so an
    exact build never resumes a fuzzy build's clusters or triples, nor the
    reverse.

    ``input_path`` (with optional ``input_format``) reads the transcript
    table from an arbitrary parquet/csv(.gz)/json location via
    :func:`read_transcript_table` instead of the sf_dir's synthesized
    parquet; the resume fingerprint then comes from the input files'
    (size, mtime) signature rather than the parquet footer.

    ``input_table`` reads it from a CATALOG table identifier instead —
    the Iceberg deployment shape (``spark.read.table("kg.db.transcripts")``
    against a configured ``spark.sql.catalog.kg``); locally the same call
    path is pinned against ``spark_catalog`` managed tables. Its resume
    fingerprint is the identifier + a count — one job at ingest, and on
    Iceberg a metadata-only one (for snapshot-exact resume semantics use
    the snapshot id exposed by the catalog instead)."""
    ledger = StageLedger(spark, checkpoint_root) if checkpoint_root else None
    if input_table is not None and input_path is not None:
        raise ValueError("pass input_table OR input_path, not both")
    if input_table is not None:
        from mannheimsearchjoinsengine_spark.sources.transcripts import (
            REQUIRED_COLUMNS,
        )

        transcripts = spark.read.table(input_table)
        missing = [c for c in REQUIRED_COLUMNS if c not in transcripts.columns]
        if missing:
            raise ValueError(f"table {input_table!r} lacks columns {missing}")
        # identifier + schema + count: catches schema evolution and
        # cardinality changes; a same-count in-place rewrite is NOT caught —
        # that exactness needs the catalog's snapshot id (see docstring)
        if ledger:
            import hashlib

            sch = hashlib.md5(
                transcripts.schema.simpleString().encode()
            ).hexdigest()[:12]
            fingerprint = f"{input_table}:{sch}:{transcripts.count()}"
        else:
            fingerprint = ""
    elif input_path is not None:
        from mannheimsearchjoinsengine_spark.sources.transcripts import (
            read_transcript_table,
        )

        transcripts = read_transcript_table(spark, input_path, input_format)
        fingerprint = f"{input_path}:{_path_signature(input_path)}" if ledger else ""
    else:
        transcripts = load_transcripts(spark, sf_dir)
        # fingerprint from the parquet footer — no Spark job for a row count
        fingerprint = f"{sf_dir}:{_input_rows(sf_dir)}" if ledger else ""

    # clusters and triples depend on the canonicalization tier; no other
    # stage reads it, so only those two carry it in their ledger key
    tier_fingerprint = f"{fingerprint}:fuzzy" if fuzzy_canonical else fingerprint

    def stage(name: str, build, key: str = fingerprint) -> DataFrame:
        # label the stage's jobs in the Spark UI / REST metrics; the label
        # is thread-local, so clear it before the thread runs anything else
        spark.sparkContext.setJobDescription(f"kg-stage:{name}")
        try:
            if ledger is None:
                # Cut lineage at every stage boundary: most stages are read by
                # several later ones (cells feeds all but triples), and an uncut
                # plan tree re-runs the shared upstream subtree per reader —
                # measured 177 s vs ~90 s at 2M turns for a lazy vs
                # materialized DAG. The ledger path materializes to parquet.
                return build().localCheckpoint()
            return ledger.materialize(name, key, build)
        finally:
            spark.sparkContext.setJobDescription(None)

    # Independent stages materialize CONCURRENTLY from a small driver
    # thread pool (guide §2.6 overlap: Spark's FIFO scheduler backfills the
    # tail of one stage's job with tasks from the next — the serial shape
    # left most of the cluster idle during every stage's straggler tail and
    # its write/read-back barrier). Dependencies are expressed as futures;
    # job descriptions are thread-local, so each stage stays labelled.
    # Each stage writes its own directory, and the ledger serializes
    # its bookkeeping under a lock (sources/catalog.py).
    from concurrent.futures import ThreadPoolExecutor

    pool = ThreadPoolExecutor(max_workers=STAGE_WORKERS)
    try:
        # facts and cells are the same rows (cells = facts + dtype column):
        # materialize ONCE as cells, expose facts as a zero-cost projection —
        # two separate stage materializations of 90% identical data were the
        # single biggest fixed cost in the pipeline.
        cells_f = pool.submit(stage, "cells", lambda: typed_cells(extract_facts(transcripts)))
        mentions_f = pool.submit(stage, "mentions", lambda: extract_mentions(transcripts))
        cells = cells_f.result()
        facts = cells.drop("dtype")
        postings_f = pool.submit(stage, "postings", lambda: build_postings(facts))
        attributes_f = pool.submit(stage, "attributes", lambda: build_attributes(cells))
        merge_map_f = pool.submit(stage, "pred_merge_map", lambda: pred_merge_map(cells))
        if fuzzy_canonical:
            from mannheimsearchjoinsengine_spark.operators.canonical import fuzzy_clusters
            from mannheimsearchjoinsengine_spark.operators.fuzzy import lsh_verified_pairs

            clusters_f = pool.submit(
                stage,
                "clusters",
                lambda: fuzzy_clusters(
                    facts, lsh_verified_pairs(facts.select("subj_norm"))
                ).select("subj_norm", "canonical_label"),
                tier_fingerprint,
            )
        else:
            clusters_f = pool.submit(
                stage, "clusters", lambda: exact_clusters(facts), tier_fingerprint
            )
        mentions = mentions_f.result()
        jr_f = pool.submit(stage, "join_results", lambda: join_results(mentions, facts))
        merge_map = merge_map_f.result()
        cells_canon = cells.join(merge_map, "pred_raw")
        resolved_f = pool.submit(
            stage, "resolved", lambda: resolve_dispatch(cells_canon, ("subj_norm", "pred_canon"))
        )
        dtypes_f = pool.submit(
            stage, "pred_dtypes", lambda: majority_dtype(cells_canon, "pred_canon")
        )
        resolved = resolved_f.result()
        clusters = clusters_f.result()
        dtypes = dtypes_f.result()
        # the checkpoint is flat like every other stage; the subj_bucket
        # layout is applied when a caller publishes the table
        # (catalog.write_table, jobs/run_pipeline.py --output)
        triples = stage(
            "triples", lambda: to_triples(resolved, clusters, dtypes), tier_fingerprint
        )
        postings = postings_f.result()
        attributes = attributes_f.result()
        jr = jr_f.result()
    finally:
        # a failed stage must not let queued sibling stages start
        pool.shutdown(wait=True, cancel_futures=True)
    return {
        "transcripts": transcripts,
        "facts": facts,
        "mentions": mentions,
        "cells": cells,
        "postings": postings,
        "attributes": attributes,
        "join_results": jr,
        "pred_merge_map": merge_map,
        "resolved": resolved,
        "clusters": clusters,
        "triples": triples,
        "lineage": ledger.lineage() if ledger else None,
    }


def _input_rows(sf_dir: str) -> int:
    import pyarrow.parquet as pq

    from mannheimsearchjoinsengine_spark.datagen import ensure_transcripts

    return pq.ParquetFile(ensure_transcripts(sf_dir)).metadata.num_rows


def _path_signature(path: str) -> str:
    """Driver-side input fingerprint for non-parquet inputs: md5 over the
    sorted per-file (relative path, size, mtime) listing — cheap (metadata
    only, no data read) and sensitive to any file being added, removed,
    renamed, resized or touched (a sum/max signature missed same-total
    swaps with preserved timestamps). On an object store, swap for the
    listing's etags."""
    import hashlib
    import os

    files = []
    if os.path.isdir(path):
        for root, _, names in os.walk(path):
            files += [os.path.join(root, n) for n in names if not n.startswith((".", "_"))]
    elif os.path.exists(path):
        files = [path]
    listing = "\n".join(
        f"{os.path.relpath(f, path)}:{os.path.getsize(f)}:{os.path.getmtime(f)}"
        for f in sorted(files)
    )
    return hashlib.md5(listing.encode()).hexdigest()


def default_checkpoint_root(sf_dir: str) -> str:
    from mannheimsearchjoinsengine_spark.datagen import sf_tag_of_dir

    return os.path.join("/root/repo/data/checkpoints", sf_tag_of_dir(sf_dir))
