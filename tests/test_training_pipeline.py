"""The packaged composed pipeline (plans/training.py)."""

import os

from pyspark.sql import functions as F

import bench
from pcrawler_spark.plans.training import training_pipeline
from pcrawler_spark.sources import trainingdocs


def _docs(spark):
    good = ("the cat and the dog is a good pair of friends, " * 6).strip()
    good2 = ("a list of the spark engines and the flink engines is long, " * 6).strip()
    junk = "x" * 30  # short, no stopwords → fails the quality gate
    rows = [
        (1, good),
        (2, good),              # exact dup of 1 → dropped (keep-min)
        (3, good + " extra!"),  # near dup of 1 → dropped by LSH+CC
        (4, good2),             # distinct original
        (5, junk),              # quality-gated out
    ]
    return spark.createDataFrame(rows, "doc_id long, text string")


def test_training_pipeline_stages(spark):
    out = training_pipeline(_docs(spark), quality_min=450000)
    kept = sorted(r["doc_id"] for r in out.collect())
    assert kept == [1, 4], kept
    row = {r["doc_id"]: r for r in out.collect()}
    assert row[1]["lang_pred"] == "en"
    assert row[1]["n_tokens"] > 50
    assert row[1]["quality_ppm"] >= 450000


def test_training_pipeline_no_near_dedup(spark):
    out = training_pipeline(_docs(spark), quality_min=450000, near_dedup=False)
    # exact dedup still collapses 1/2; the near-dup 3 survives
    assert sorted(r["doc_id"] for r in out.collect()) == [1, 3, 4]


def test_training_pipeline_custom_columns(spark):
    df = _docs(spark).select(F.col("doc_id").alias("page_id"), F.col("text").alias("body"))
    out = training_pipeline(df, quality_min=450000, id_col="page_id", text_col="body")
    assert sorted(r["page_id"] for r in out.collect()) == [1, 4]


def test_crawl_to_training_data_end_to_end(spark):
    """The two halves of the engine composed: the fused crawl pass extracts
    page text from a synthetic corpus, and that extracted text feeds the
    training pipeline (quality gate → dedup → canonical) — crawl output IS
    training-pipeline input, column-renaming only."""
    import pandas as pd

    from pcrawler_spark.plans.singlepass import schedule_and_extract
    from pcrawler_spark.sources.synthetic import (
        SyntheticCrawlConfig, _hosts_rows, generate_crawl_corpus)

    cfg = SyntheticCrawlConfig(n_companies=30, n_industries=3, n_hosts=5)
    corpus = generate_crawl_corpus(cfg)
    pages = spark.createDataFrame(
        corpus["pages"],
        "url string, warc_ts timestamp, html binary, text string, lang string",
    )
    hosts = spark.createDataFrame(
        pd.DataFrame(_hosts_rows(cfg)),
        "host string, crawl_delay_s double, robots_disallow array<string>, max_parallel int",
    )
    extracted = schedule_and_extract(spark, pages, hosts)
    docs = extracted.select(
        F.col("url_hash").alias("doc_id"), "text"
    ).filter(F.length("text") > 0)
    n_docs = docs.count()
    assert n_docs > 0
    out = training_pipeline(docs, quality_min=0)  # gate open: dedup is the subject
    n_out = out.count()
    assert 0 < n_out <= n_docs
    # canonical outputs carry the annotations downstream training needs
    for col in ("lang_pred", "quality_ppm", "n_tokens"):
        assert col in out.columns
    # idempotent: running the pipeline on its own output changes nothing
    again = training_pipeline(
        out.select("doc_id", "text"), quality_min=0)
    assert again.count() == n_out


def test_bench_training_docs_cold_start(spark, tmp_path, monkeypatch):
    """bench.py builds its training corpus from a cold cache with the
    package's generator alone, and a second call reuses the cached copy."""
    monkeypatch.setattr(bench, "REPO", str(tmp_path))
    path = bench.ensure_training_docs(spark, 300)
    rows = spark.read.parquet(path).collect()
    assert sorted(r["doc_id"] for r in rows) == list(range(300))
    assert all(r["text"] == trainingdocs._doc_text(r["doc_id"]) for r in rows)
    marker = os.path.join(path, "_SUCCESS")
    mtime = os.stat(marker).st_mtime_ns
    assert bench.ensure_training_docs(spark, 300) == path
    assert os.stat(marker).st_mtime_ns == mtime
