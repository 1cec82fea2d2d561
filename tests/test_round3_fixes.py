"""Round-3 fix tests: streaming seen-table sink discipline, winnowing 2^30
position space, compaction GC retry after a crash, and worked-epoch counting
under compaction."""

import hashlib
import os
import random

from pyspark.sql import functions as F

from pcrawler_spark.plans import CrawlEngine, CrawlRunConfig
from pcrawler_spark.sources.synthetic import SyntheticCrawlConfig, generate_crawl_corpus


def _spark_corpus(spark, cfg):
    corpus = generate_crawl_corpus(cfg)
    pages = spark.createDataFrame(
        corpus["pages"], "url string, warc_ts timestamp, html binary, text string, lang string"
    )
    hosts = spark.createDataFrame(
        corpus["hosts"],
        "host string, crawl_delay_s double, robots_disallow array<string>, max_parallel int",
    )
    seeds = spark.createDataFrame(corpus["seeds"], "url string, priority int, industry string")
    return corpus, pages, hosts, seeds


# ---------------------------------------------------------------------------
# Winnowing: 2^30 position space (docs past 2^20 chars used to corrupt the
# packed (hash, pos) ordering)
# ---------------------------------------------------------------------------

def _brute_winnow(text: str, k: int, w: int):
    base = 1 << 30
    t = text.lower()
    n_grams = max(len(t) - (k - 1), 0)
    packed = []
    for pos in range(1, n_grams + 1):
        gram = t[pos - 1: pos - 1 + k]
        h = int(hashlib.md5(gram.encode()).hexdigest()[:8], 16)
        packed.append(h * base + (base - pos))
    out = set()
    for i in range(n_grams - w + 1):
        pick = min(packed[i: i + w])
        out.add((pick >> 30, base - (pick & (base - 1))))
    return out


def test_winnowing_survives_megabyte_documents(spark):
    """A document longer than 2^20 characters must fingerprint identically
    to the reference Python winnower — the 20-bit position field borrowed
    into the hash bits past 1M chars."""
    from pcrawler_spark.operators.textstats import winnowing_fingerprints

    rng = random.Random(42)
    big = "".join(rng.choices("abcdefgh ", k=(1 << 20) + 5000))
    small = "tiny document under the wire"
    df = spark.createDataFrame([(1, big), (2, small)], "doc_id long, text string")
    got = {}
    for r in winnowing_fingerprints(df, k=8, w=4).collect():
        got.setdefault(r["doc"], set()).add((r["fp_hash"], r["fp_pos"]))
    assert got[1] == _brute_winnow(big, 8, 4)
    assert got[2] == _brute_winnow(small, 8, 4)
    # positions beyond 2^20 must actually occur for this test to bite
    assert any(pos > (1 << 20) for _h, pos in got[1])


# ---------------------------------------------------------------------------
# Catalog: crashed compaction GC is retried
# ---------------------------------------------------------------------------

def test_compaction_gc_retried_after_crash(spark, tmp_path, monkeypatch):
    cfg = SyntheticCrawlConfig(n_companies=20, n_industries=2, n_hosts=4)
    corpus, pages, hosts, seeds = _spark_corpus(spark, cfg)
    engine = CrawlEngine(
        spark, pages, hosts,
        CrawlRunConfig(state_dir=str(tmp_path / "st"), epoch_seconds=120.0),
    )
    out = engine.run(seeds)
    assert len(out) >= 2
    cat = engine.catalog
    before = sorted(r.url_hash for r in cat.read("seen").select("url_hash").collect())

    # simulate a crash between the manifest rename and the rmtree loop
    import pcrawler_spark.plans.catalog as catmod
    monkeypatch.setattr(catmod.shutil, "rmtree", lambda *a, **k: None)
    ep = cat.compact(["seen"])
    assert ep is not None
    monkeypatch.undo()

    replaced = cat._replaced_epochs("seen")
    stale = [e for e in replaced
             if os.path.isdir(os.path.join(str(tmp_path / "st"), "seen", f"epoch={e}"))]
    assert stale, "crash simulation should have left stale replaced dirs"
    # readers already skip them
    assert sorted(r.url_hash for r in cat.read("seen").select("url_hash").collect()) == before
    # the next compact()/rollback retries the GC
    removed = cat.gc_replaced()
    assert removed == len(stale)
    assert not any(
        os.path.isdir(os.path.join(str(tmp_path / "st"), "seen", f"epoch={e}"))
        for e in replaced
    )
    assert sorted(r.url_hash for r in cat.read("seen").select("url_hash").collect()) == before


def test_max_epochs_counts_worked_epochs_not_compactions(spark, tmp_path):
    """compact_every consumes catalog epoch NUMBERS; the max_epochs bound
    must still deliver the configured number of CRAWL epochs."""
    cfg = SyntheticCrawlConfig(n_companies=20, n_industries=2, n_hosts=4)
    corpus, pages, hosts, seeds = _spark_corpus(spark, cfg)
    runs = {}
    for name, compact_every in (("plain", None), ("compact", 1)):
        engine = CrawlEngine(
            spark, pages, hosts,
            CrawlRunConfig(state_dir=str(tmp_path / name), epoch_seconds=120.0,
                           max_epochs=2, compact_every=compact_every),
        )
        runs[name] = engine.run(seeds)
    assert len(runs["plain"]) == 2
    assert len(runs["compact"]) == 2, (
        "compaction commits must not eat the crawl-epoch budget")
    assert [m["scheduled"] for m in runs["plain"]] == [m["scheduled"] for m in runs["compact"]]


# ---------------------------------------------------------------------------
# Streaming: the cross-batch dedup reads ONLY the compact _seen side table
# ---------------------------------------------------------------------------

def test_stream_sink_reads_only_seen_table(spark, tmp_path, monkeypatch):
    from pyspark.sql.readwriter import DataFrameReader

    from pcrawler_spark.streaming.pipeline import PAGES_SCHEMA, run_extract_to_parquet

    cfg = SyntheticCrawlConfig(n_companies=20, n_industries=2, n_hosts=4)
    corpus = generate_crawl_corpus(cfg)
    df = spark.createDataFrame(corpus["pages"], PAGES_SCHEMA)
    in_dir = str(tmp_path / "pages")
    out_dir = str(tmp_path / "out")
    ckpt = str(tmp_path / "ckpt")
    df.write.parquet(in_dir)

    q = run_extract_to_parquet(spark, in_dir, out_dir, ckpt)
    q.awaitTermination(120)
    n0 = spark.read.parquet(out_dir).count()
    assert n0 > 0
    # compact seen side table exists, one slim column, hidden from output readers
    seen = spark.read.parquet(f"{out_dir}/_seen")
    assert set(seen.columns) == {"url_hash", "batch_id"}
    assert seen.count() == n0

    # land the same pages again as NEW input files → new batch, all dupes
    df.write.mode("append").parquet(in_dir)
    recorded = []
    orig = DataFrameReader.parquet

    def rec(self, *paths, **kw):
        recorded.append(paths)
        return orig(self, *paths, **kw)

    monkeypatch.setattr(DataFrameReader, "parquet", rec)
    q2 = run_extract_to_parquet(spark, in_dir, out_dir, ckpt)
    q2.awaitTermination(120)
    monkeypatch.undo()

    commit_reads = [p for paths in recorded for p in paths if out_dir in str(p)]
    assert commit_reads, "the dedup pass should have read the seen table"
    assert all("_seen" in str(p) for p in commit_reads), (
        f"sink must not re-read wide output partitions: {commit_reads}")
    # effective exactly-once held: replayed urls added zero rows
    assert spark.read.parquet(out_dir).count() == n0


# ---------------------------------------------------------------------------
# Zipf mega-host skew: the salting knobs must actually defuse it
# ---------------------------------------------------------------------------

def test_zipf_mega_host_skew_defusal(spark):
    """A frontier where ONE host holds ~50% of the URLs: plain
    repartition(host) serializes the mega host into a single partition (its
    sort task IS the wall at scale), while the salted rank's phase-1
    (host, salt) groups are bounded by ~mega/k.  Decision equivalence is
    covered by test_salted_rank_equivalence — this test proves the knob
    changes the physical distribution, not just the plan."""
    import pandas as pd

    n_mega, n_rest = 40_000, 40_000
    pdf = pd.DataFrame({
        "canon_url": [f"https://mega.vn/p/{i}" for i in range(n_mega)]
                     + [f"https://h{i % 200}.vn/p/{i}" for i in range(n_rest)],
        "host": ["mega.vn"] * n_mega + [f"h{i % 200}.vn" for i in range(n_rest)],
        "priority": 1,
        "retry_count": 0,
        "url_hash": list(range(n_mega + n_rest)),
    })
    df = spark.createDataFrame(pdf)

    sizes = df.repartition(16, "host").groupBy(F.spark_partition_id().alias("p")).count()
    mu = max(r["count"] for r in sizes.collect())
    assert mu >= n_mega, f"unsalted should serialize the mega host: {mu}"

    # the salted-rank phase-1 partitions (host, salt) are bounded ~mega/k
    k = 8
    g = df.groupBy("host", F.pmod(F.xxhash64("url_hash"), F.lit(k)).alias("s")).count()
    assert max(r["count"] for r in g.collect()) <= int(n_mega / k * 1.3)


# ---------------------------------------------------------------------------
# Iceberg-parity: time-travel reads + the snapshots/metrics table
# ---------------------------------------------------------------------------

def test_time_travel_read_and_expiry(spark, tmp_path):
    from pcrawler_spark.plans.catalog import EpochCatalog

    cat = EpochCatalog(spark, str(tmp_path / "cat"))
    for e, vals in enumerate([[1, 2], [3], [4, 5]]):
        cat.write_epoch(e, {"t": spark.createDataFrame([(v,) for v in vals], "v int")},
                        metadata={"n": len(vals)})
    # snapshot as of epoch 1: epochs 0+1 only
    assert sorted(r["v"] for r in cat.read("t", upto_epoch=1).collect()) == [1, 2, 3]
    ce = cat.compact()
    assert ce == 3
    # post-compaction full read unchanged
    assert sorted(r["v"] for r in cat.read("t").collect()) == [1, 2, 3, 4, 5]
    # snapshot AT the compaction epoch: the compacted dir covers everything
    assert sorted(r["v"] for r in cat.read("t", upto_epoch=3).collect()) == [1, 2, 3, 4, 5]
    # snapshot BEFORE the compaction: its epochs were GC'd → loud error,
    # never a silent partial read
    import pytest as _pytest
    with _pytest.raises(ValueError, match="compacted away"):
        cat.read("t", upto_epoch=1)


def test_metrics_lineage_table(spark, tmp_path):
    from pcrawler_spark.plans.catalog import EpochCatalog
    from pyspark.sql import functions as F

    cat = EpochCatalog(spark, str(tmp_path / "cat2"))
    cat.write_epoch(0, {"t": spark.createDataFrame([(1,)], "v int")},
                    metadata={"phase": "bootstrap"})
    cat.write_epoch(1, {"t": spark.createDataFrame([(2,)], "v int")},
                    metadata={"fetched": 7, "records_out": 3})
    cat.compact()
    m = cat.metrics_df()
    rows = {r["epoch"]: r for r in m.collect()}
    assert set(rows) == {0, 1, 2}
    assert rows[1]["metrics"]["fetched"] == "7"
    assert rows[2]["compaction"] is True and rows[0]["compaction"] is False
    # queryable like any table
    got = (m.filter(~F.col("compaction"))
           .select(F.element_at("metrics", "records_out").alias("r")).collect())
    assert {x["r"] for x in got} == {None, "3"}


def test_concurrent_epoch_commit_is_atomic(spark, tmp_path):
    """One table's write failing fails the whole epoch: the call raises only
    after the other (concurrent) writes finished, commits no manifest, and
    rollback removes the dirs those writes left."""
    import pytest as _pytest
    from pcrawler_spark.plans.catalog import EpochCatalog

    cat = EpochCatalog(spark, str(tmp_path / "cat3"))

    def ok(v):
        return spark.createDataFrame([(v,)], "v int")

    cat.write_epoch(0, {"a": ok(0), "b": ok(0)})
    bad = spark.range(3).select(
        F.when(F.col("id") >= 0, F.raise_error(F.lit("boom"))).cast("int").alias("v"))
    with _pytest.raises(Exception, match="boom"):
        cat.write_epoch(1, {"a": ok(1), "b": ok(1), "c": bad, "d": ok(1)})
    assert not os.path.exists(cat._manifest_path(1))
    assert cat.last_committed_epoch() == 0
    assert all(os.path.isdir(cat._epoch_dir(t, 1)) for t in ("a", "b", "d"))
    cat.rollback_uncommitted()
    assert not any(os.path.exists(cat._epoch_dir(t, 1)) for t in "abcd")
    assert [r["v"] for r in cat.read("a").collect()] == [0]


def test_concurrent_epoch_writes_carry_callers_job_group(spark, tmp_path):
    """The writer threads run their jobs under the caller's job group, so
    per-group accounting still sees every job of the commit."""
    from pcrawler_spark.plans.catalog import EpochCatalog

    sc = spark.sparkContext
    tracker = sc.statusTracker()
    cat = EpochCatalog(spark, str(tmp_path / "cat4"))
    ungrouped = set(tracker.getJobIdsForGroup(None))
    sc.setJobGroup("epoch-commit-test", "concurrent write_epoch")
    try:
        cat.write_epoch(0, {t: spark.createDataFrame([(1,)], "v int") for t in "abc"})
    finally:
        sc._jsc.clearJobGroup()
    assert len(tracker.getJobIdsForGroup("epoch-commit-test")) >= 3
    assert set(tracker.getJobIdsForGroup(None)) <= ungrouped


def test_engine_metrics_accessor(spark, tmp_path):
    """engine.metrics() exposes the per-epoch counters the run() loop
    committed — the queryable lineage the north rule asks for."""
    from pcrawler_spark.plans import CrawlEngine, CrawlRunConfig
    from pcrawler_spark.sources.synthetic import (
        SyntheticCrawlConfig, generate_crawl_corpus, _hosts_rows)
    import pandas as pd

    cfg = SyntheticCrawlConfig(n_companies=12, n_industries=2, n_hosts=3)
    corpus = generate_crawl_corpus(cfg)
    pages = spark.createDataFrame(
        corpus["pages"],
        "url string, warc_ts timestamp, html binary, text string, lang string")
    hosts = spark.createDataFrame(
        pd.DataFrame(_hosts_rows(cfg)),
        "host string, crawl_delay_s double, robots_disallow array<string>, max_parallel int")
    eng = CrawlEngine(spark, pages, hosts,
                      CrawlRunConfig(state_dir=str(tmp_path / "st"), max_epochs=3))
    run_metrics = eng.run(spark.createDataFrame(corpus["seeds"],
                          "url string, priority int, industry string"))
    m = eng.metrics()
    rows = {r["epoch"]: r for r in m.collect()}
    worked = [r for r in rows.values() if not r["compaction"]
              and r["metrics"].get("phase") != "bootstrap"]
    assert len(worked) == len(run_metrics)
    total_fetched = sum(int(r["metrics"]["fetched"]) for r in worked)
    assert total_fetched == sum(x["fetched"] for x in run_metrics)
