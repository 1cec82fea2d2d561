#!/usr/bin/env python
"""Calibration harness for the scaling bench (round-3 protocol work).

Measures, at a configurable corpus size and fetch-join variant:
  * the scheduling-only wall (the per-pass fixed cost the north-rule
    efficiency ratio is sensitive to),
  * full schedule+extract walls at 1x4 and 4x4 real executor JVMs.

Env knobs: CAL_N (companies), CAL_VARIANT (bucketed|broadcast),
CAL_RUNS (runs per level), CAL_LEVELS ("1,4").
Prints one JSON line per level; does not touch BENCH.md.
"""

from __future__ import annotations

import json
import os
import sys
import time

REPO = os.path.dirname(os.path.dirname(os.path.abspath(__file__)))
sys.path.insert(0, REPO)

from bench import ensure_corpus, hosts_df  # noqa: E402

N = int(os.environ.get("CAL_N", "450000"))
VARIANT = os.environ.get("CAL_VARIANT", "bucketed")
RUNS = int(os.environ.get("CAL_RUNS", "2"))
LEVELS = [int(x) for x in os.environ.get("CAL_LEVELS", "1,4").split(",")]
BUCKETS = 64

LC_CONF = {
    "spark.locality.wait": "0",
    "spark.sql.files.maxPartitionBytes": str(2 * 1024 * 1024),
    "spark.sql.files.openCostInBytes": str(256 * 1024),
}


def bucketed_path(n: int) -> str:
    return os.path.join(REPO, ".bench", f"pages_{n}_bucketed_v2")


def ensure_bucketed(spark, corpus_path: str, n: int) -> str:
    from pcrawler_spark.plans.pagestore import write_bucketed_pages

    path = bucketed_path(n)
    if not os.path.exists(os.path.join(path, "_SUCCESS")):
        t0 = time.time()
        write_bucketed_pages(
            spark.read.parquet(corpus_path), "pages_bucketed_cal",
            n_buckets=BUCKETS, path=path,
        )
        print(f"# bucketed store built in {time.time() - t0:.1f}s", flush=True)
    return path


def run_level(n_exec: int, corpus_path: str, bpath: str | None, n: int) -> dict:
    from pyspark.sql import functions as F

    from pcrawler_spark.operators.politeness import politeness_decide
    from pcrawler_spark.plans.singlepass import (
        classify_urls, kind_priority, schedule_and_extract, schedule_and_extract_bucketed)
    from pcrawler_spark.session import get_spark

    spark = get_spark(
        app_name=f"cal_{VARIANT}_{n_exec}x4",
        master=f"local-cluster[{n_exec},4,6144]",
        shuffle_partitions=n_exec * 4,
        extra_conf=LC_CONF,
    )
    try:
        hosts = hosts_df(spark, n)
        if VARIANT == "bucketed":
            from pcrawler_spark.plans.pagestore import register_bucketed_pages

            register_bucketed_pages(spark, "pages_b", f"file://{bpath}", BUCKETS)
            pages_t = spark.table("pages_b")

            def job(sample_mod=None):
                return schedule_and_extract_bucketed(
                    spark, "pages_b", hosts, sample_mod=sample_mod)

            def sched_only():
                meta = classify_urls(
                    pages_t.select("url_hash", "canon_url", "host", "warc_ts")
                ).withColumn("priority", kind_priority()).withColumn("retry_count", F.lit(0))
                meta = meta.repartition(spark.sparkContext.defaultParallelism, "host")
                dec = politeness_decide(meta, hosts, epoch_seconds=1e9)
                return dec.filter(F.col("decision") == "scheduled").select("url_hash")
        else:
            pages = spark.read.parquet(corpus_path)

            def job(sample_mod=None):
                src = pages if sample_mod is None else pages.filter(
                    F.pmod(F.xxhash64("url"), F.lit(sample_mod)) == 0)
                return schedule_and_extract(spark, src, hosts)

            sched_only = None

        # warm: subset pass touching every executor
        job(sample_mod=4).count()
        sched_walls = []
        if sched_only is not None:
            for _ in range(2):
                t0 = time.time()
                sched_only().count()
                sched_walls.append(round(time.time() - t0, 3))
        walls, nrows = [], 0
        for _ in range(RUNS):
            spark._jvm.System.gc()
            time.sleep(0.5)
            t0 = time.time()
            nrows = job().count()
            walls.append(round(time.time() - t0, 3))
        return {"variant": VARIANT, "executors": n_exec, "cores": n_exec * 4,
                "urls": nrows, "walls_s": walls, "sched_walls_s": sched_walls}
    finally:
        spark.stop()


def main() -> None:
    from pcrawler_spark.session import get_spark

    spark = get_spark(app_name="cal_prep", master="local[32]", shuffle_partitions=32)
    corpus_path = ensure_corpus(spark, N)
    bpath = ensure_bucketed(spark, corpus_path, N) if VARIANT == "bucketed" else None
    spark.stop()
    for lvl in LEVELS:
        r = run_level(lvl, corpus_path, bpath, N)
        print(json.dumps(r), flush=True)


if __name__ == "__main__":
    main()
