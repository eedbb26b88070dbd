"""End-to-end gates from BASELINE.json: triple P/R ≥ 0.95 vs the pure-Python
reference oracle, per-turn text equality, checkpoint resume identity."""

from __future__ import annotations

import os
import shutil

import pytest
from pyspark.sql import functions as F

from mannheimsearchjoinsengine_spark.datagen import ensure_transcripts
from mannheimsearchjoinsengine_spark.plans import pipeline
from mannheimsearchjoinsengine_spark.plans.pipeline import run_pipeline, stages
from mannheimsearchjoinsengine_spark.refimpl import oracle
from mannheimsearchjoinsengine_spark.sources.catalog import StageLedger


@pytest.mark.parametrize("zone", ["UTC", "America/Los_Angeles"])
def test_triples_precision_recall(spark, spark_conf, sf_dir, zone):
    """The triples do not depend on the session time zone (the date rule's
    epoch seconds are counted in days, not read through a TIMESTAMP)."""
    expected = oracle.triples(ensure_transcripts(sf_dir))
    with spark_conf({"spark.sql.session.timeZone": zone}):
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


def test_cli_build_from_input_path(spark, spark_conf, sf_dir, tmp_path, capsys):
    """``jobs/run_pipeline.py`` in-process on a parquet copy of the
    transcripts: the summary names the path it read, its triple count is
    the oracle's, and the session it ran on carries ``ENGINE_CONF`` even
    when the session zone had drifted before the call. A second run on a
    subset of the input to the same ``--output`` replaces the directory:
    no bucket of the first run survives it, on a session whose partition
    overwrite mode is dynamic."""
    import importlib.util
    import json

    from mannheimsearchjoinsengine_spark.session import ENGINE_CONF

    spec = importlib.util.spec_from_file_location(
        "run_pipeline_job",
        os.path.join(os.path.dirname(__file__), os.pardir, "jobs", "run_pipeline.py"),
    )
    job = importlib.util.module_from_spec(spec)
    spec.loader.exec_module(job)
    transcripts = ensure_transcripts(sf_dir)
    src, sub = str(tmp_path / "transcripts.parquet"), str(tmp_path / "subset.parquet")
    out = str(tmp_path / "triples")
    spark.read.parquet(transcripts).write.parquet(src)
    convs = spark.read.parquet(src).select("conv_id").distinct().orderBy("conv_id").limit(5)
    spark.read.parquet(src).join(convs, "conv_id").write.parquet(sub)

    def run(path: str, ckpt: str) -> dict:
        argv = ["--input-path", path, "--checkpoint-root", str(tmp_path / ckpt)]
        assert job.main([*argv, "--output", out]) == 0
        return json.loads(capsys.readouterr().out.strip().splitlines()[-1])

    def buckets() -> set[int]:
        return {r.subj_bucket for r in spark.read.parquet(out).select("subj_bucket").collect()}

    with spark_conf(
        {
            "spark.sql.session.timeZone": "America/Los_Angeles",
            "spark.sql.sources.partitionOverwriteMode": "dynamic",
        }
    ):
        summary = run(src, "ckpt")
        assert summary["input"] == src
        assert summary["triples"] == len(oracle.triples(transcripts))
        assert {k: spark.conf.get(k) for k in ENGINE_CONF} == ENGINE_CONF
        first = buckets()
        summary = run(sub, "ckpt_sub")
    assert summary["input"] == sub
    got = {
        (r.subj, r.pred, r.obj, r.obj_dtype)
        for r in spark.read.parquet(out).select("subj", "pred", "obj", "obj_dtype").collect()
    }
    assert got == oracle.triples(sub) and len(got) == summary["triples"] > 0
    # the subset leaves buckets of the first run unwritten, so a stale one would show
    assert buckets() < first


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
    # stages come back with the schema recorded at write time, and that
    # schema is the one the files on disk carry
    for name in (
        "mentions", "cells", "postings", "attributes", "join_results",
        "pred_merge_map", "resolved", "clusters", "triples",
    ):
        assert r2[name].schema == r1[name].schema, name
        assert r2[name].schema == spark.read.parquet(f"{root}/{name}").schema, name
        # the ledger entry is the commit record: no _SUCCESS markers
        assert not os.path.exists(f"{root}/{name}/_SUCCESS"), name
    # the triples checkpoint is flat; subj_bucket is a plain column that
    # the publish step partitions by
    assert not [d for d in os.listdir(f"{root}/triples") if d.startswith("subj_bucket=")]
    assert r2["triples"].count() > 0
    assert (
        r2["triples"]
        .filter(F.col("subj_bucket") != F.abs(F.hash("subj")) % 64)
        .count()
        == 0
    )
    # lineage rows exist for every stage
    stages = {r.stage for r in r2["lineage"].select("stage").distinct().collect()}
    assert {"cells", "postings", "resolved", "triples"} <= stages

    # a lineage dir written before the 'file' column existed reads back
    # with its rows and 'file' NULL
    import pyarrow as pa
    import pyarrow.parquet as pq

    old = f"{root}/_lineage/old_stage"
    os.makedirs(old)
    pq.write_table(
        pa.table({
            "partition_id": pa.array([0, 1], pa.int32()),
            "rows_out": pa.array([5, 7], pa.int64()),
            "stage": pa.array(["old_stage"] * 2, pa.string()),
        }),
        f"{old}/part-00000.parquet",
    )
    got = StageLedger(spark, root).lineage().filter(F.col("stage") == "old_stage")
    assert sorted((r.partition_id, r.file, r.rows_out) for r in got.collect()) == [
        (0, None, 5),
        (1, None, 7),
    ]


def test_second_build_reuses_generated_code(spark, sf_dir, tmp_path):
    """The codegen cache holds a build's whole working set of generated
    classes, so a second build in the same session compiles almost none."""
    codegen = spark._jvm.org.apache.spark.metrics.source.CodegenMetrics
    compiles = []
    for root in ("a", "b"):
        before = codegen.METRIC_COMPILATION_TIME().getCount()
        run_pipeline(spark, sf_dir, checkpoint_root=str(tmp_path / root))
        compiles.append(codegen.METRIC_COMPILATION_TIME().getCount() - before)
    assert compiles[1] <= 16, compiles


def test_run_pipeline_clears_job_description(spark, sf_dir):
    """Stages label and tag their jobs ``kg-stage:<name>`` through the
    thread-local job description and job tags; no label or tag may outlive
    its stage on the calling thread."""
    sc = spark.sparkContext
    sc.setJobDescription(None)
    run_pipeline(spark, sf_dir)
    assert sc.getLocalProperty("spark.job.description") is None
    assert not sc.getJobTags()


def test_stage_graph_matches_benchmark():
    """perfbench restates the stage graph: ``STAGE_DEPS`` for the critical
    path and ``STAGE_LAYER`` for the stages a traced build must span. A
    stage added to or removed from the table must change both."""
    from perfbench.run import STAGE_LAYER
    from perfbench.stats import STAGE_DEPS

    for fuzzy in (False, True):
        table = stages(fuzzy)
        deps = {s.name: tuple(i for i in s.inputs if i != "transcripts") for s in table}
        assert deps == STAGE_DEPS
        assert set(deps) == set(STAGE_LAYER)


def _ledger(root: str) -> dict:
    import json

    with open(f"{root}/_ledger.json") as f:
        return json.load(f)


def test_resume_rebuilds_after_code_change(spark, sf_dir, tmp_path, monkeypatch):
    """The root key carries a digest of the package's sources: a rerun with
    the same code reuses all ten stages, a rerun after a code change
    rebuilds all ten."""
    root = str(tmp_path)
    run_pipeline(spark, sf_dir, checkpoint_root=root)
    built = _ledger(root)
    assert set(built) == {s.name for s in stages()}
    run_pipeline(spark, sf_dir, checkpoint_root=root)
    assert _ledger(root) == built
    monkeypatch.setattr(pipeline, "_code_digest", lambda: "edited")
    run_pipeline(spark, sf_dir, checkpoint_root=root)
    again = _ledger(root)
    assert {k for k in again if again[k]["fingerprint"] != built[k]["fingerprint"]} == set(built)


def test_code_digest_reads_a_zipped_package(tmp_path):
    """A cluster deployment ships the package as a ``--py-files`` zip: the
    source digest read from the zip equals the one read from the files."""
    import subprocess
    import sys

    pkg = os.path.dirname(os.path.dirname(os.path.abspath(pipeline.__file__)))
    archive = shutil.make_archive(
        str(tmp_path / "pkg"), "zip", os.path.dirname(pkg), os.path.basename(pkg)
    )
    code = (
        "import sys; sys.path.insert(0, sys.argv[1]); "
        "from mannheimsearchjoinsengine_spark.plans import pipeline; "
        "print(pipeline.__file__); print(pipeline._code_digest())"
    )
    out = subprocess.run(
        [sys.executable, "-c", code, archive],
        cwd=tmp_path, capture_output=True, text=True, check=True, timeout=120,
    )
    module_file, digest = out.stdout.split()
    assert module_file.startswith(archive)
    assert digest == pipeline._code_digest()


def test_failed_stage_cancels_running_siblings(spark, sf_dir, tmp_path, monkeypatch):
    """A stage that fails while a sibling's Spark job runs: run_pipeline
    raises the failure once the sibling's job is cancelled (not when it
    would have finished), the ledger commits neither of them nor
    ``triples``, and a rerun on the same root returns the oracle's
    triples."""
    import time

    flag, sleep_s = str(tmp_path / "sibling_started"), 120

    def stalled(v):
        open(flag, "w").close()
        time.sleep(sleep_s)
        return v

    def slow_merge_map(cells):
        return cells.limit(1).select(F.udf(stalled, "string")("pred_raw").alias("pred_raw"))

    def failing_attributes(cells):
        deadline = time.time() + 60
        while not os.path.exists(flag) and time.time() < deadline:
            time.sleep(0.1)
        raise RuntimeError("injected attributes failure")

    root = str(tmp_path / "ckpt")
    monkeypatch.setattr(pipeline, "pred_merge_map", slow_merge_map)
    monkeypatch.setattr(pipeline, "build_attributes", failing_attributes)
    t0 = time.time()
    with pytest.raises(RuntimeError, match="injected attributes failure"):
        run_pipeline(spark, sf_dir, checkpoint_root=root)
    assert os.path.exists(flag)
    assert time.time() - t0 < sleep_s / 2
    assert not {"attributes", "pred_merge_map", "triples"} & set(_ledger(root))
    monkeypatch.undo()
    got = {
        (r.subj, r.pred, r.obj, r.obj_dtype)
        for r in run_pipeline(spark, sf_dir, checkpoint_root=root)["triples"]
        .select("subj", "pred", "obj", "obj_dtype")
        .collect()
    }
    assert got == oracle.triples(ensure_transcripts(sf_dir))


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


def test_exact_build_after_fuzzy_build_on_one_root(spark, sf_dir, tmp_path):
    """The canonicalization tier is a param of ``clusters``, and reaches
    ``triples`` through the key of its input ``clusters``: an exact build on
    a fuzzy build's checkpoint root rebuilds those two stages, reuses the
    others, and returns the exact oracle's triples."""
    path = ensure_transcripts(sf_dir)
    root = str(tmp_path)
    run_pipeline(spark, sf_dir, checkpoint_root=root, fuzzy_canonical=True)
    fuzzy_entries = _ledger(root)
    got = {
        (r.subj, r.pred, r.obj, r.obj_dtype)
        for r in run_pipeline(spark, sf_dir, checkpoint_root=root)["triples"]
        .select("subj", "pred", "obj", "obj_dtype")
        .collect()
    }
    assert got == oracle.triples(path, fuzzy=False)
    exact_entries = _ledger(root)
    rebuilt = {k for k in exact_entries if exact_entries[k] != fuzzy_entries.get(k)}
    assert rebuilt == {"clusters", "triples"}


def test_torn_write_forces_clean_rebuild(spark, sf_dir, tmp_path_factory):
    """Crash contract (r03 directive #7): a checkpoint dir that doesn't
    match its ledger entry — or has data but no entry at all — must force a
    clean rebuild with identical output, never a silent short resume.

    Two torn shapes, one per crash window, and a stale entry:
    * crash BETWEEN data write and ledger save → files on disk, no entry;
    * damage AFTER a committed write (lost file) → entry present, footer
      row count disagrees;
    * an entry without a recorded schema (written before the ledger kept
      one) → rebuilt, not read back by inference.
    """
    import glob
    import json

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
    # shape 3: 'attributes' keeps its entry and data but not its schema
    del entries["attributes"]["schema"]
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
    # a rebuild records the schema again; a resume leaves the entry as is
    assert "schema" in rebuilt["attributes"]


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
        # the subj_bucket layout lives in the published table
        parts = [
            c.name for c in spark.catalog.listColumns("kgtest.triples") if c.isPartition
        ]
        assert parts == ["subj_bucket"]
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


def test_rewritten_catalog_table_rebuilds(spark, sf_dir, tmp_path):
    """A catalog table rewritten in place with the same row count and
    schema is a new input: a build on the first build's checkpoint root
    returns the rewritten table's triples, not the first build's. The
    rewrite keeps every text but reverses each role's texts, so the count,
    the schema and the text multiset all stay the same."""
    import pyarrow as pa
    import pyarrow.parquet as pq

    path = ensure_transcripts(sf_dir)
    t = pq.read_table(path)
    texts, roles = t.column("text").to_pylist(), t.column("role").to_pylist()
    reversed_texts = list(texts)
    for role in set(roles):
        idx = [i for i, r in enumerate(roles) if r == role]
        for i, j in zip(idx, reversed(idx)):
            reversed_texts[i] = texts[j]
    rewritten = str(tmp_path / "rewritten.parquet")
    pq.write_table(
        t.set_column(
            t.schema.get_field_index("text"), "text", pa.array(reversed_texts, pa.string())
        ),
        rewritten,
    )
    expected = oracle.triples(rewritten)
    assert expected != oracle.triples(path), "the rewrite must change the triples"

    root = str(tmp_path / "ckpt")
    spark.sql(f"CREATE DATABASE IF NOT EXISTS kgrewrite LOCATION '{tmp_path}/wh'")
    try:
        spark.read.parquet(path).write.saveAsTable("kgrewrite.transcripts")
        run_pipeline(spark, sf_dir, checkpoint_root=root, input_table="kgrewrite.transcripts")
        spark.read.parquet(rewritten).write.mode("overwrite").saveAsTable("kgrewrite.transcripts")
        got = {
            (r.subj, r.pred, r.obj, r.obj_dtype)
            for r in run_pipeline(
                spark, sf_dir, checkpoint_root=root, input_table="kgrewrite.transcripts"
            )["triples"]
            .select("subj", "pred", "obj", "obj_dtype")
            .collect()
        }
        assert got == expected
    finally:
        spark.sql("DROP DATABASE IF EXISTS kgrewrite CASCADE")


def test_table_signature_of_an_unlisted_source_never_repeats(spark, sf_dir):
    """A table whose files Spark cannot list (here a frame built in memory)
    cannot show that it is unchanged, so each fingerprint is new and its
    stages rebuild; a file-backed frame keeps one fingerprint."""
    mem = spark.createDataFrame([("c0", 0)], "conv_id string, turn_idx int")
    assert mem.inputFiles() == []
    assert pipeline._table_signature(spark, mem) != pipeline._table_signature(spark, mem)
    files = spark.read.parquet(ensure_transcripts(sf_dir))
    assert pipeline._table_signature(spark, files) == pipeline._table_signature(spark, files)
