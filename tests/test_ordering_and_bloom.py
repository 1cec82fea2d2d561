"""Crawl-ordering parity invariants.

The north_rule requires "matching the reference's crawl ordering ... under
the same seed list and politeness budget".  The reference's ordering
semantics (SURVEY.md §7.4.2) are: phase waves (listings before the details
they link, details before the contacts they link — main.py:661-697), FIFO
within a host (ORDER BY crawled_at batches — db_manager.py:176-178), and
never more than the politeness budget per host per wave.  These are
checkable invariants of the engine's committed state — no circular
re-simulation needed.
"""

import pytest
from pyspark.sql import functions as F

from pcrawler_spark.plans import CrawlEngine, CrawlRunConfig
from pcrawler_spark.sources.synthetic import SyntheticCrawlConfig, generate_crawl_corpus

CFG = SyntheticCrawlConfig(n_companies=80, n_industries=4, n_hosts=8)


@pytest.fixture(scope="module")
def engine_run(spark, tmp_path_factory):
    corpus = generate_crawl_corpus(CFG)
    pages = spark.createDataFrame(
        corpus["pages"], "url string, warc_ts timestamp, html binary, text string, lang string"
    )
    hosts = spark.createDataFrame(
        corpus["hosts"],
        "host string, crawl_delay_s double, robots_disallow array<string>, max_parallel int",
    )
    seeds = spark.createDataFrame(corpus["seeds"], "url string, priority int, industry string")
    # small epoch budget so deferral/ordering is actually exercised
    engine = CrawlEngine(
        spark, pages, hosts,
        CrawlRunConfig(state_dir=str(tmp_path_factory.mktemp("ord") / "st"),
                       epoch_seconds=8.0, max_epochs=60),
    )
    metrics = engine.run(seeds)
    return engine, corpus, hosts, metrics


def _fetch_epochs(engine):
    """url_hash → epoch fetched, joined with frontier metadata."""
    seen = engine.seen().filter(F.col("reason") == "fetched").select("url_hash", "first_epoch")
    frontier = engine.catalog.read("frontier").drop("epoch").dropDuplicates(["url_hash"])
    return seen.join(frontier, "url_hash")


def test_phase_wave_order(engine_run):
    """A page is always fetched strictly after the page that discovered it:
    listings(epoch e) → details(>e) → contacts(>e')."""
    engine, corpus, hosts, _ = engine_run
    fe = _fetch_epochs(engine).select("url_hash", "canon_url", "kind", "first_epoch").toPandas()
    by_kind_min = fe.groupby("kind").first_epoch.min()
    by_kind_max = fe.groupby("kind").first_epoch.max()
    # seeds (listings) start at epoch 1; no detail before epoch 2; no
    # contact before epoch 3
    assert by_kind_min["listing"] == 1
    assert by_kind_min["detail"] >= 2
    assert by_kind_min["contact"] >= 3
    # per company: contact fetched strictly after its detail page
    truth = corpus["truth"]
    det = fe[fe.kind == "detail"].set_index("canon_url").first_epoch
    con = fe[fe.kind == "contact"].set_index("canon_url").first_epoch
    detail_urls = truth[truth.kind == "detail"].set_index("company_id").url
    checked = 0
    for t in truth[truth.kind == "contact"].itertuples():
        if t.url in con.index and detail_urls[t.company_id] in det.index:
            assert con[t.url] > det[detail_urls[t.company_id]], t.url
            checked += 1
    assert checked > 10


def test_budget_never_exceeded(engine_run):
    """Per (host, epoch): fetched count ≤ floor(epoch_s/delay)*parallel."""
    engine, corpus, hosts, _ = engine_run
    fe = _fetch_epochs(engine).groupBy("host", "first_epoch").count().toPandas()
    policy = {r["host"]: max(1, int(8.0 / r["crawl_delay_s"]) * r["max_parallel"])
              for r in corpus["hosts"].to_dict("records")}
    for row in fe.itertuples():
        assert row.count <= policy[row.host], (row.host, row.first_epoch, row.count)


def test_priority_fifo_within_host(engine_run):
    """Deterministic scheduler-order property (the FIFO analogue of the
    reference's ORDER BY crawled_at batches): for two urls of the same
    (host, priority, retry_count), if y was already pending when x was
    fetched (y discovered before x's epoch) but y was fetched later, then
    x must precede y in the scheduler's order key (url_hash)."""
    engine, *_ = engine_run
    fe = _fetch_epochs(engine).select(
        "host", "first_epoch", "priority", "retry_count", "epoch_added", "url_hash"
    ).toPandas()
    violations = []
    for (host, pr, rc), grp in fe.groupby(["host", "priority", "retry_count"]):
        rows = grp.sort_values("first_epoch").to_dict("records")
        for x in rows:
            for y in rows:
                if (
                    y["first_epoch"] > x["first_epoch"]
                    and y["epoch_added"] < x["first_epoch"]
                    and y["url_hash"] < x["url_hash"]
                ):
                    violations.append((host, pr, x["url_hash"], y["url_hash"]))
    assert not violations, violations[:5]

