"""Scale behaviour of the joins.

1. The index df-cap must broadcast the tiny HOT-token list into a left-anti
   join — never the O(vocabulary) keep list (plan-shape asserted on the
   explain string, output pinned against the keep-list formula).
2. Join strategies are Spark's: with broadcast disabled
   (``autoBroadcastJoinThreshold=-1``) the key-set joins, and the whole
   pipeline, return what they return at the default threshold; and on a
   ledger build the pipeline's unhinted key-set joins plan as broadcasts.
"""

from __future__ import annotations

import pytest
from pyspark.sql import functions as F

from mannheimsearchjoinsengine_spark.operators import probe
from mannheimsearchjoinsengine_spark.operators.fuse import fuse_long
from mannheimsearchjoinsengine_spark.operators.index import build_postings
from mannheimsearchjoinsengine_spark.plans.pipeline import run_pipeline
from mannheimsearchjoinsengine_spark.sources.transcripts import load_transcripts
from mannheimsearchjoinsengine_spark.operators.extract import (
    extract_facts,
    extract_mentions,
)


def _rows(df, cols=None):
    cols = cols or df.columns
    return sorted(tuple(r[c] for c in cols) for r in df.select(cols).collect())


# --- directive 1: hot-side broadcast in the index df-cap ---------------------


def test_index_dfcap_plan_broadcasts_hot_side(spark, sf_dir):
    facts = extract_facts(load_transcripts(spark, sf_dir))
    plan = build_postings(facts, df_cap=0.5)._jdf.queryExecution().optimizedPlan().toString()
    # the df-cap filter must be an ANTI join (against the bounded hot list),
    # not an inner join against the O(vocabulary) keep list
    assert "LeftAnti" in plan, plan
    inner_token_joins = [
        ln for ln in plan.splitlines() if "Join Inner" in ln and "token" in ln
    ]
    assert not inner_token_joins, inner_token_joins


def test_index_dfcap_output_matches_keep_list_formula(spark):
    # 4 labels; token 'the' in 3/4 labels (> floor(0.5*4)+1 = 3? no: 3 <= 3
    # keeps it), token 'x' in all 4 (> 3 → dropped)
    rows = [
        ("x the alpha", 1), ("x the beta", 1), ("x the gamma", 2), ("x delta", 2),
    ]
    facts = spark.createDataFrame(rows, ["subj_norm", "conv_id"])
    got = build_postings(facts, df_cap=0.5)
    toks = {r.token for r in got.select("token").distinct().collect()}
    assert "x" not in toks  # df 4 > floor(0.5*4)+1 = 3 → hot, dropped
    assert "the" in toks  # df 3 <= 3 → kept
    assert {"alpha", "beta", "gamma", "delta"} <= toks
    # exact equivalence with the old keep-list formulation
    no_cap = build_postings(facts, df_cap=None)
    df_tok = no_cap.groupBy("token").agg(
        F.countDistinct("subj_norm").alias("df_labels")
    )
    keep = df_tok.filter(F.col("df_labels") <= 3).select("token")
    expected = no_cap.join(keep, "token")
    assert _rows(got) == _rows(expected)


# --- directive 2: Spark's join selection, with and without broadcast ---------

NO_BROADCAST = {"spark.sql.autoBroadcastJoinThreshold": "-1"}
TRIPLE_COLS = ["subj", "pred", "obj", "obj_dtype"]


def _plan(df) -> str:
    # before an action on df itself this is the planner's initial plan
    return df._jdf.queryExecution().executedPlan().toString()


def _inputs(spark, sf_dir):
    t = load_transcripts(spark, sf_dir)
    return extract_mentions(t).localCheckpoint(), extract_facts(t).localCheckpoint()


def test_join_results_salted_equivalence(spark, sf_dir, spark_conf):
    m, f = _inputs(spark, sf_dir)
    want = _rows(probe.join_results(m, f))
    with spark_conf(NO_BROADCAST):
        shuffled = probe.join_results(m, f)
        got = _rows(shuffled)
        assert "BroadcastHashJoin" not in _plan(shuffled)
    assert got == want


def test_fuse_long_salted_equivalence(spark, sf_dir, spark_conf):
    m, f = _inputs(spark, sf_dir)
    want = _rows(fuse_long(m, f))
    with spark_conf(NO_BROADCAST):
        shuffled = fuse_long(m, f)
        got = _rows(shuffled)
        assert "BroadcastHashJoin" not in _plan(shuffled)
    assert got == want


def test_row_density_gated_kept_broadcast(spark, spark_conf):
    from mannheimsearchjoinsengine_spark.operators.fuse import row_density

    fused = spark.createDataFrame(
        [(f"s{i}", f"p{i % 3}", "v") for i in range(30)],
        ["query_norm", "pred_raw", "obj_raw"],
    )
    want = _rows(row_density(fused))
    with spark_conf(NO_BROADCAST):
        shuffled = row_density(fused)
        got = _rows(shuffled)
        assert "BroadcastHashJoin" not in _plan(shuffled)
    assert got == want


@pytest.fixture(scope="module")
def ledger_build(spark, sf_dir, tmp_path_factory):
    """One ledger build at the default broadcast threshold."""
    root = str(tmp_path_factory.mktemp("ckpt_joins"))
    return root, run_pipeline(spark, sf_dir, checkpoint_root=root)


def test_pipeline_salted_branch_identical_triples(
    spark, sf_dir, spark_conf, ledger_build, tmp_path
):
    """A ledger build with broadcast disabled (every key-set join shuffled)
    returns the same triples as one at the default threshold."""
    want = _rows(ledger_build[1]["triples"], TRIPLE_COLS)
    with spark_conf(NO_BROADCAST):
        got = _rows(
            run_pipeline(spark, sf_dir, checkpoint_root=str(tmp_path))["triples"],
            TRIPLE_COLS,
        )
    assert got == want


def test_ledger_build_plans_broadcast_joins(spark, ledger_build):
    """The pipeline's key-set joins carry no hint; over stages read back
    from the ledger, Spark's planner still broadcasts every one of them
    from the parquet sizes, and plans no shuffled or sort-merge join."""
    from mannheimsearchjoinsengine_spark.operators.triplify import to_triples

    root, r = ledger_build
    dtypes = spark.read.parquet(f"{root}/pred_dtypes")
    frames = {
        "join_results": probe.join_results(r["mentions"], r["facts"]),
        "cells ⋈ pred_merge_map": r["cells"].join(r["pred_merge_map"], "pred_raw"),
        "to_triples": to_triples(r["resolved"], r["clusters"], dtypes),
    }
    for name, df in frames.items():
        plan = _plan(df)
        assert "BroadcastHashJoin" in plan, (name, plan)
        assert "ShuffledHashJoin" not in plan, (name, plan)
        assert "SortMergeJoin" not in plan, (name, plan)
