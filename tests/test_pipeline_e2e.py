"""End-to-end gates from BASELINE.json: triple P/R ≥ 0.95 vs the pure-Python
reference oracle, per-turn text equality, checkpoint resume identity."""

from __future__ import annotations

import shutil

from pyspark.sql import functions as F

from mannheimsearchjoinsengine_spark.datagen import ensure_transcripts
from mannheimsearchjoinsengine_spark.plans.pipeline import run_pipeline
from mannheimsearchjoinsengine_spark.refimpl import oracle


def test_triples_precision_recall(spark, sf_dir):
    expected = oracle.triples(ensure_transcripts(sf_dir))
    got = {
        (r.subj, r.pred, r.obj, r.obj_dtype)
        for r in run_pipeline(spark, sf_dir)["triples"]
        .select("subj", "pred", "obj", "obj_dtype")
        .collect()
    }
    tp = len(got & expected)
    precision = tp / len(got) if got else 0.0
    recall = tp / len(expected) if expected else 0.0
    assert precision >= 0.95, (
        f"precision {precision:.3f}; sample engine-only: {sorted(got - expected)[:5]}"
    )
    assert recall >= 0.95, (
        f"recall {recall:.3f}; sample oracle-only: {sorted(expected - got)[:5]}"
    )


def test_per_turn_text_equality(spark, sf_dir):
    """North-rule invariant: engine-visible turns == input, exactly, under
    stable (conv_id, turn_idx) ordering."""
    path = ensure_transcripts(sf_dir)
    a = spark.read.parquet(path).select("conv_id", "turn_idx", "text")
    b = spark.read.parquet(path).select("conv_id", "turn_idx", "text")
    assert a.exceptAll(b).count() == 0
    # ordering is dense and unique per conversation
    dup = (
        spark.read.parquet(path)
        .groupBy("conv_id", "turn_idx")
        .count()
        .filter(F.col("count") > 1)
        .count()
    )
    assert dup == 0


def test_checkpoint_resume_identical(spark, sf_dir, tmp_path_factory):
    root = str(tmp_path_factory.mktemp("ckpt"))
    r1 = run_pipeline(spark, sf_dir, checkpoint_root=root)
    t1 = sorted(
        (r.subj, r.pred, r.obj) for r in r1["triples"].select("subj", "pred", "obj").collect()
    )
    # simulate a crash after the 'resolved' stage: wipe later stages only
    shutil.rmtree(f"{root}/triples", ignore_errors=True)
    shutil.rmtree(f"{root}/clusters", ignore_errors=True)
    r2 = run_pipeline(spark, sf_dir, checkpoint_root=root)
    t2 = sorted(
        (r.subj, r.pred, r.obj) for r in r2["triples"].select("subj", "pred", "obj").collect()
    )
    assert t1 == t2
    # lineage rows exist for every stage
    stages = {r.stage for r in r2["lineage"].select("stage").distinct().collect()}
    assert {"cells", "postings", "resolved", "triples"} <= stages


def test_run_pipeline_clears_job_description(spark, sf_dir):
    """Stages label their jobs ``kg-stage:<name>`` through the thread-local
    job description; no label may outlive its stage on the calling thread."""
    sc = spark.sparkContext
    sc.setJobDescription(None)
    run_pipeline(spark, sf_dir)
    assert sc.getLocalProperty("spark.job.description") is None


def test_fuzzy_canonical_pipeline_matches_oracle(spark, sf_dir):
    """North-rule canonicalization path (MinHash-LSH blocking → jaccard
    verify → CC): the corpus emits near-miss surfaces, so the fuzzy tier
    genuinely merges keys the exact tier cannot — compare against the
    refimpl's identical md5-MinHash fuzzy mode, and assert it actually
    differs from the exact tier (non-vacuous)."""
    path = ensure_transcripts(sf_dir)
    expected = oracle.triples(path, fuzzy=True)
    assert expected != oracle.triples(path), "fuzzy tier should merge something"
    got = {
        (r.subj, r.pred, r.obj, r.obj_dtype)
        for r in run_pipeline(spark, sf_dir, fuzzy_canonical=True)["triples"]
        .select("subj", "pred", "obj", "obj_dtype")
        .collect()
    }
    tp = len(got & expected)
    assert tp / len(got) >= 0.95, sorted(got - expected)[:5]
    assert tp / len(expected) >= 0.95, sorted(expected - got)[:5]


def test_torn_write_forces_clean_rebuild(spark, sf_dir, tmp_path_factory):
    """Crash contract (r03 directive #7): a checkpoint dir that doesn't
    match its ledger entry — or has data but no entry at all — must force a
    clean rebuild with identical output, never a silent short resume.

    Two torn shapes, one per crash window:
    * crash BETWEEN data write and ledger save → files on disk, no entry;
    * damage AFTER a committed write (lost file) → entry present, footer
      row count disagrees.
    """
    import glob
    import json
    import os

    root = str(tmp_path_factory.mktemp("ckpt_torn"))
    r1 = run_pipeline(spark, sf_dir, checkpoint_root=root)
    t1 = sorted(
        (r.subj, r.pred, r.obj) for r in r1["triples"].select("subj", "pred", "obj").collect()
    )
    ledger_path = f"{root}/_ledger.json"
    with open(ledger_path) as f:
        entries = json.load(f)
    cells_rows = entries["cells"]["rows"]

    # shape 1: drop the 'postings' entry but leave (and truncate) its data —
    # the state a kill between writer.parquet() and _save() leaves behind
    del entries["postings"]
    with open(ledger_path, "w") as f:
        json.dump(entries, f)
    victim = sorted(glob.glob(f"{root}/postings/**/*.parquet", recursive=True))[0]
    with open(victim, "wb") as f:
        f.write(b"PAR1torn")

    # shape 2: 'cells' keeps its entry but loses a data file
    victim2 = sorted(glob.glob(f"{root}/cells/**/*.parquet", recursive=True))[0]
    os.remove(victim2)
    assert spark.read.parquet(f"{root}/cells").count() < cells_rows

    r2 = run_pipeline(spark, sf_dir, checkpoint_root=root)
    t2 = sorted(
        (r.subj, r.pred, r.obj) for r in r2["triples"].select("subj", "pred", "obj").collect()
    )
    assert t1 == t2
    # both stages were rebuilt whole: ledger rows match reality again and
    # no torn bytes survive (overwrite mode replaced the dirs)
    with open(ledger_path) as f:
        rebuilt = json.load(f)
    assert rebuilt["cells"]["rows"] == cells_rows
    assert spark.read.parquet(f"{root}/cells").count() == cells_rows
    assert rebuilt["postings"]["rows"] == spark.read.parquet(f"{root}/postings").count()
    assert not os.path.exists(victim) or os.path.getsize(victim) != 8


def test_pipeline_from_csv_input_identical(spark, sf_dir, tmp_path):
    """S1-S5 end-to-end: the pipeline over a csv.gz copy of the transcript
    table (read via read_transcript_table, by-name binding) emits exactly
    the triples of the parquet run."""
    from mannheimsearchjoinsengine_spark.sources.transcripts import load_transcripts

    csv_dir = str(tmp_path / "transcripts.csv")
    load_transcripts(spark, sf_dir).coalesce(1).write.options(
        header=True, compression="gzip"
    ).csv(csv_dir)

    want = run_pipeline(spark, sf_dir)["triples"]
    got = run_pipeline(spark, sf_dir, input_path=csv_dir)["triples"]
    assert got.count() == want.count()
    assert got.exceptAll(want).count() == 0
    assert want.exceptAll(got).count() == 0


def test_pipeline_catalog_table_io(spark, sf_dir, tmp_path):
    """Iceberg-deployment call paths pinned against spark_catalog: read the
    transcripts from a catalog TABLE identifier (spark.read.table) and
    materialize the triples with writeTo(...).createOrReplace partitioned
    by subj_bucket — the only two call sites that change when
    spark.sql.catalog.* points at Iceberg."""
    import pytest

    from mannheimsearchjoinsengine_spark.sources.transcripts import load_transcripts

    spark.sql(f"CREATE DATABASE IF NOT EXISTS kgtest LOCATION '{tmp_path}/wh'")
    try:
        load_transcripts(spark, sf_dir).write.saveAsTable("kgtest.transcripts")

        want = run_pipeline(spark, sf_dir)["triples"]
        got = run_pipeline(spark, sf_dir, input_table="kgtest.transcripts")["triples"]
        assert got.exceptAll(want).count() == 0
        assert want.exceptAll(got).count() == 0

        from mannheimsearchjoinsengine_spark.sources.catalog import write_table

        write_table(got, "kgtest.triples", "parquet")
        write_table(got, "kgtest.triples", "parquet")  # replace path is idempotent
        back = spark.read.table("kgtest.triples")
        assert back.exceptAll(want).count() == 0
        assert want.exceptAll(back).count() == 0

        load_transcripts(spark, sf_dir).select("conv_id", "text").write.saveAsTable(
            "kgtest.bad"
        )
        with pytest.raises(ValueError, match="lacks columns"):
            run_pipeline(spark, sf_dir, input_table="kgtest.bad")

        with pytest.raises(ValueError, match="not both"):
            run_pipeline(
                spark, sf_dir, input_table="kgtest.transcripts", input_path="/x.csv"
            )
    finally:
        spark.sql("DROP DATABASE IF EXISTS kgtest CASCADE")
