#!/usr/bin/env python
"""spark-submit entry point for the crawl engine (the north_rule deployment
shape: ``spark-submit --py-files pcrawler_spark.zip scripts/run_crawl.py``).

Runs the full epoch engine — frontier → politeness → fetch → fused extract →
atomic epoch commits → export — against a pages parquet directory (or the
deterministic synthetic corpus when ``--synthetic N`` is given), resuming
from ``--state-dir`` if it already holds committed epochs.

Examples
--------
Local smoke (synthetic corpus, fresh state)::

    spark-submit --master 'local[8]' \
        --py-files "$(python -c 'from pcrawler_spark.session import _package_zip; print(_package_zip())')" \
        scripts/run_crawl.py --synthetic 100 --state-dir /tmp/crawl_state

Cluster shape (N executors; Iceberg/parquet state dir on shared storage)::

    spark-submit --master <cluster> --num-executors N \
        --py-files pcrawler_spark.zip scripts/run_crawl.py \
        --pages /data/pages --hosts /data/hosts --seeds /data/seeds \
        --state-dir /data/crawl_state --epoch-seconds 300
"""

from __future__ import annotations

import argparse
import json
import sys


def main(argv: list[str] | None = None) -> int:
    p = argparse.ArgumentParser(description=__doc__,
                                formatter_class=argparse.RawDescriptionHelpFormatter)
    p.add_argument("--pages", help="pages parquet dir (url, warc_ts, html, text, lang)")
    p.add_argument("--pages-table",
                   help="name of a BUCKETED page-store table (plans/pagestore.py) — "
                        "the no-broadcast fetch path for very large schedules")
    p.add_argument("--hosts", help="hosts parquet dir (host, crawl_delay_s, robots_disallow, max_parallel)")
    p.add_argument("--seeds", help="seeds parquet dir (url, priority, industry)")
    p.add_argument("--synthetic", type=int, metavar="N",
                   help="generate an N-company synthetic corpus instead of reading --pages/--hosts/--seeds")
    p.add_argument("--state-dir", required=True, help="epoch catalog root (resumes if non-empty)")
    p.add_argument("--export", help="optional final CSV export path")
    p.add_argument("--epoch-seconds", type=float, default=60.0)
    p.add_argument("--max-epochs", type=int, default=50)
    p.add_argument("--compact-every", type=int, default=None)
    p.add_argument("--salted-rank-partitions", type=int, default=None)
    args = p.parse_args(argv)

    from pyspark.sql import SparkSession

    # under spark-submit the session/master comes from the submit args;
    # plain `python scripts/run_crawl.py` falls back to local[*]
    spark = SparkSession.builder.appName("pcrawler_spark_crawl").getOrCreate()
    spark.sparkContext.setLogLevel("WARN")

    from pcrawler_spark.plans import CrawlEngine, CrawlRunConfig

    if args.synthetic:
        from pcrawler_spark.sources.synthetic import SyntheticCrawlConfig, generate_crawl_corpus

        corpus = generate_crawl_corpus(SyntheticCrawlConfig(n_companies=args.synthetic))
        pages = spark.createDataFrame(
            corpus["pages"], "url string, warc_ts timestamp, html binary, text string, lang string"
        )
        hosts = spark.createDataFrame(
            corpus["hosts"],
            "host string, crawl_delay_s double, robots_disallow array<string>, max_parallel int",
        )
        seeds = spark.createDataFrame(corpus["seeds"], "url string, priority int, industry string")
    else:
        if not ((args.pages or args.pages_table) and args.hosts and args.seeds):
            p.error("either --synthetic N or (--pages | --pages-table) + --hosts + --seeds")
        pages = args.pages_table or spark.read.parquet(args.pages)
        hosts = spark.read.parquet(args.hosts)
        seeds = spark.read.parquet(args.seeds)

    cfg = CrawlRunConfig(
        state_dir=args.state_dir,
        epoch_seconds=args.epoch_seconds,
        max_epochs=args.max_epochs,
        compact_every=args.compact_every,
        salted_rank_partitions=args.salted_rank_partitions,
    )
    engine = CrawlEngine(spark, pages, hosts, cfg)
    metrics = engine.run(seeds)
    if args.export:
        engine.export_csv(args.export)
    summary = {
        "epochs_run": len(metrics),
        "urls_fetched": sum(m["fetched"] for m in metrics),
        "records_out": sum(m["records_out"] for m in metrics),
        "last_epoch": metrics[-1]["epoch"] if metrics else None,
    }
    print(json.dumps(summary))
    spark.stop()
    return 0


if __name__ == "__main__":
    sys.exit(main())
