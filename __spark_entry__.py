"""Driver contract for the spark-graft builder (PySpark target).

``entry`` runs the flagship KG-construction pipeline (transcripts →
triples) at sf0.001; ``queries``/``oracle_sql`` expose every implemented
operator from SURVEY.md §2 plus the training-data add-ons, with DuckDB
oracles aligned column-by-column (see
mannheimsearchjoinsengine_spark/driver_contract.py).
"""

from __future__ import annotations

from collections.abc import Callable

from pyspark.sql import DataFrame, SparkSession

_CONTRACT = None


def _contract():
    global _CONTRACT
    if _CONTRACT is None:
        from mannheimsearchjoinsengine_spark.driver_contract import build_contract

        _CONTRACT = build_contract()
    return _CONTRACT


def entry(spark: SparkSession) -> DataFrame:
    """Flagship query: full KG pipeline on sf0.001 → triple table, under
    the engine's session settings."""
    from mannheimsearchjoinsengine_spark.plans.pipeline import (
        default_checkpoint_root,
        run_pipeline,
    )
    from mannheimsearchjoinsengine_spark.session import apply_engine_conf

    apply_engine_conf(spark)
    sf_dir = "/root/testdata/sf0.001"
    result = run_pipeline(spark, sf_dir, checkpoint_root=default_checkpoint_root(sf_dir))
    return result["triples"].select("subj", "pred", "obj", "obj_dtype", "subj_bucket")


def queries() -> dict[str, Callable[[SparkSession, str], DataFrame]]:
    return _contract()[0]


def oracle_sql() -> dict[str, str]:
    return _contract()[1]
