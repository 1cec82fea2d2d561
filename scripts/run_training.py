#!/usr/bin/env python
"""spark-submit entry point for the training-data pipeline
(plans/training.py): quality gate → lang ID → exact dedup → near-dup
canonical over a documents parquet directory.

Examples
--------
Local smoke::

    spark-submit --master 'local[8]' \
        --py-files "$(python -c 'from pcrawler_spark.session import _package_zip; print(_package_zip())')" \
        scripts/run_training.py --docs /root/testdata/sf0.01/documents.parquet \
        --out /tmp/training_out

Cluster shape (the 100 TB run: documents partitioned on doc_id, output
partitioned the same)::

    spark-submit --master <cluster> --num-executors N \
        --py-files pcrawler_spark.zip scripts/run_training.py \
        --docs /data/documents --out /data/training --quality-min 450000
"""

from __future__ import annotations

import argparse
import json
import sys


def main(argv: list[str] | None = None) -> int:
    p = argparse.ArgumentParser(description=__doc__,
                                formatter_class=argparse.RawDescriptionHelpFormatter)
    p.add_argument("--docs", required=True, help="documents parquet dir (doc_id, text, ...)")
    p.add_argument("--out", required=True, help="output parquet dir (canonical annotated docs)")
    p.add_argument("--quality-min", type=int, default=450000)
    p.add_argument("--no-near-dedup", action="store_true",
                   help="stop after the exact-fingerprint dedup")
    p.add_argument("--id-col", default="doc_id")
    p.add_argument("--text-col", default="text")
    args = p.parse_args(argv)

    from pyspark.sql import SparkSession

    spark = SparkSession.builder.appName("pcrawler_spark_training").getOrCreate()
    spark.sparkContext.setLogLevel("WARN")

    from pcrawler_spark.plans.training import training_pipeline

    docs = spark.read.parquet(args.docs)
    n_in = docs.count()
    out = training_pipeline(
        docs, quality_min=args.quality_min, near_dedup=not args.no_near_dedup,
        id_col=args.id_col, text_col=args.text_col,
    )
    out.write.mode("overwrite").parquet(args.out)
    n_out = spark.read.parquet(args.out).count()
    print(json.dumps({"docs_in": n_in, "docs_out": n_out}))
    spark.stop()
    return 0


if __name__ == "__main__":
    sys.exit(main())
