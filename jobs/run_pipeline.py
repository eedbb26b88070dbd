#!/usr/bin/env python
"""spark-submit entry point for the KG-construction pipeline.

Cluster run (the north-rule deployment shape):

    cd /root/repo && zip -qr /tmp/sjspark.zip mannheimsearchjoinsengine_spark
    spark-submit --master <cluster> --py-files /tmp/sjspark.zip \
        jobs/run_pipeline.py --sf-dir <input> --checkpoint-root <ckpt> \
        [--fuzzy-canonical] [--output <dir>] \
        [--wordnet-dir /path/to/WordNet/dict \
         --wordnet-scores-output <dir>]

With ``--wordnet-dir`` pointing at a WNDB ``dict/`` directory (a public
WordNet export's ``index.noun`` + ``data.noun`` — ship it to the driver
with ``--files`` or a mounted path), the job additionally runs the F7
WordNet label-similarity tier over the extracted predicate vocabulary;
the lexicon is parsed driver-side and broadcast into the pair scoring.

The job applies ``session.ENGINE_CONF`` (AQE, Arrow, the 64 MB broadcast
threshold, session zone UTC) to the session spark-submit gives it; a key
set with ``--conf`` keeps its value. Master, executor topology, shuffle
partitions and scan splits come from spark-submit. ``--output`` replaces
the whole directory (static partition overwrite, whatever the session's
mode), so a re-run to the same path leaves no bucket of an earlier run.

With --checkpoint-root every stage materializes through the ledger: kill
the job at any stage boundary and a re-run resumes from the last completed
stage with identical output (per-partition lineage rows land under
<ckpt>/_lineage/).
"""

from __future__ import annotations

import argparse
import json
import sys
import time


def main(argv: list[str] | None = None) -> int:
    ap = argparse.ArgumentParser(description=__doc__)
    ap.add_argument("--sf-dir", default="/root/testdata/sf0.001")
    ap.add_argument("--checkpoint-root", default=None)
    ap.add_argument("--output", default=None, help="optional triple-table parquet dir")
    ap.add_argument("--fuzzy-canonical", action="store_true")
    src = ap.add_mutually_exclusive_group()
    src.add_argument(
        "--input-path",
        default=None,
        help="read transcripts from this parquet/csv(.gz)/json path instead "
        "of the sf-dir's synthesized parquet",
    )
    src.add_argument(
        "--input-table",
        default=None,
        help="read transcripts from this catalog table identifier "
        "(e.g. kg.db.transcripts on an Iceberg catalog)",
    )
    ap.add_argument(
        "--input-format",
        default=None,
        choices=["parquet", "csv", "json"],
        help="override the extension-inferred format of --input-path",
    )
    ap.add_argument(
        "--output-table",
        default=None,
        help="also materialize the triple table to this catalog table "
        "identifier (writeTo createOrReplace, partitioned by subj_bucket)",
    )
    ap.add_argument(
        "--output-table-format",
        default="parquet",
        help="table provider for --output-table (iceberg on a cluster "
        "with the runtime jar; parquet against spark_catalog)",
    )
    ap.add_argument(
        "--wordnet-dir",
        default=None,
        help="WNDB dict/ directory (index.noun + data.noun, e.g. an "
        "extracted public WordNet export): enables the F7 WordNet label-"
        "similarity tier over the extracted predicate vocabulary; the "
        "lexicon is built driver-side and broadcast (~500k rows at full "
        "WordNet scale)",
    )
    ap.add_argument(
        "--wordnet-scores-output",
        default=None,
        help="parquet dir for the (label1, label2, price, wn_score) "
        "predicate-pair table (requires --wordnet-dir); without it the "
        "pair count still lands in the summary JSON",
    )
    args = ap.parse_args(argv)
    if args.wordnet_scores_output and not args.wordnet_dir:
        ap.error("--wordnet-scores-output requires --wordnet-dir")

    from pyspark.sql import SparkSession

    from mannheimsearchjoinsengine_spark.plans.pipeline import run_pipeline
    from mannheimsearchjoinsengine_spark.session import apply_engine_conf

    spark = SparkSession.builder.appName("sjspark-kg-pipeline").getOrCreate()
    apply_engine_conf(spark)
    spark.sparkContext.setLogLevel("WARN")

    t0 = time.time()
    result = run_pipeline(
        spark,
        args.sf_dir,
        checkpoint_root=args.checkpoint_root,
        fuzzy_canonical=args.fuzzy_canonical,
        input_path=args.input_path,
        input_format=args.input_format,
        input_table=args.input_table,
    )
    triples = result["triples"]
    if args.output:
        (
            triples.write.mode("overwrite")
            .option("partitionOverwriteMode", "static")
            .partitionBy("subj_bucket")
            .parquet(args.output)
        )
    if args.output_table:
        from mannheimsearchjoinsengine_spark.sources.catalog import write_table

        write_table(triples, args.output_table, args.output_table_format)
    wn_pairs = None
    if args.wordnet_dir:
        from pyspark.sql import functions as F

        from mannheimsearchjoinsengine_spark.operators.wordnet import (
            wordnet_label_scores,
        )
        from mannheimsearchjoinsengine_spark.operators.wordnet_build import (
            build_lexicon_from_dict_dir,
        )

        lex = build_lexicon_from_dict_dir(spark, args.wordnet_dir)
        preds = result["facts"].select(F.col("pred_raw").alias("label")).distinct()
        pairs = preds.select(F.col("label").alias("label1")).join(
            preds.select(F.col("label").alias("label2")),
            F.col("label1") <= F.col("label2"),
        )
        scores = wordnet_label_scores(pairs, lex)
        if args.wordnet_scores_output:
            scores.write.mode("overwrite").parquet(args.wordnet_scores_output)
        wn_pairs = scores.count()
    n = triples.count()
    summary = {
        "triples": n,
        "wall_s": round(time.time() - t0, 3),
        "input": args.input_path or args.input_table or args.sf_dir,
        "resumable": args.checkpoint_root is not None,
    }
    if wn_pairs is not None:
        summary["wordnet_pairs"] = wn_pairs
    print(json.dumps(summary))
    return 0


if __name__ == "__main__":
    sys.exit(main())
