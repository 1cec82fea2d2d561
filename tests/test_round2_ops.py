"""Round-2 operator tests: SimHash exact-recall banding, Jaccard hot-shingle
cap and null-text shingles, the F5 html-length gate, and the X11 error-URL
heuristic."""

import contextlib
import io
import itertools

from pyspark.sql import functions as F

from pcrawler_spark.operators.simdedup import (
    minhash_lsh_candidates,
    ngram_jaccard_pairs,
    simhash,
    simhash_blocks,
    simhash_near_pairs,
)
from pcrawler_spark.operators.qualitygate import error_url_filter


# deterministic corpus with engineered near-duplicates: pairs of docs that
# differ in exactly one token out of many shared ones tend to land within a
# few Hamming bits; unrelated docs are far apart
_BASE = "the quick brown fox jumps over the lazy dog near the river bank today"
_DOCS = (
    [(i, _BASE + f" variant{i % 7}") for i in range(28)]
    + [(100 + i, " ".join(f"tok{i}x{j}" for j in range(20))) for i in range(12)]
)


def _brute_force_pairs(spark, docs, max_hamming):
    sh = {r["doc"]: r["simhash"] for r in simhash(
        spark.createDataFrame(docs, "doc_id long, text string")
    ).collect()}
    out = set()
    for a, b in itertools.combinations(sorted(sh), 2):
        h = bin(sh[a] ^ sh[b]).count("1")
        if h <= max_hamming:
            out.add((a, b, h))
    return out


def test_simhash_blocks_cover_all_bits():
    for bits, mh in [(32, 4), (32, 6), (64, 3)]:
        blocks = simhash_blocks(bits, mh)
        assert len(blocks) == mh + 1
        covered = []
        for off, w in blocks:
            covered.extend(range(off, off + w))
        assert covered == list(range(bits))


def test_simhash_near_pairs_exact_recall_vs_bruteforce(spark):
    """Pigeonhole banding must find EVERY pair within the Hamming budget —
    the round-1 prefix bucket silently missed pairs whose differing bits
    fell in the top 16."""
    df = spark.createDataFrame(_DOCS, "doc_id long, text string")
    for max_hamming in (2, 4):
        got = {
            (r["doc_a"], r["doc_b"], r["hamming"])
            for r in simhash_near_pairs(df, max_hamming=max_hamming).collect()
        }
        want = _brute_force_pairs(spark, _DOCS, max_hamming)
        assert got == want
        assert len(want) > 0, "corpus must actually contain near pairs"


def test_simhash_no_duplicate_pairs(spark):
    """A pair agreeing on several blocks appears exactly once."""
    df = spark.createDataFrame(_DOCS, "doc_id long, text string")
    rows = simhash_near_pairs(df, max_hamming=4).collect()
    pairs = [(r["doc_a"], r["doc_b"]) for r in rows]
    assert len(pairs) == len(set(pairs))


def test_ngram_jaccard_hot_shingle_cap(spark):
    """A shingle above the document-frequency cap is dropped from the
    inverted index: pairs supported only by hot shingles disappear."""
    shared = "alpha beta gamma"  # one trigram shingle shared by ALL docs
    docs = [(i, shared + f" unique{i} tail{i} end{i}") for i in range(6)]
    df = spark.createDataFrame(docs, "doc_id long, text string")
    uncapped = ngram_jaccard_pairs(df, threshold=0.01)
    assert uncapped.count() == 15  # all C(6,2) pairs share 'alpha beta gamma'
    capped = ngram_jaccard_pairs(df, threshold=0.01, max_shingle_df=3)
    assert capped.count() == 0  # the only common shingle has df=6 > 3


def test_null_text_is_no_near_duplicate(spark):
    """A null text has no shingle, so it pairs with neither another null
    text nor ''.  Given the shingle '', these three docs would come out
    as three Jaccard-1.0 pairs and three LSH candidates."""
    df = spark.createDataFrame([(1, None), (2, None), (3, "")],
                               "doc_id long, text string")
    assert ngram_jaccard_pairs(df).count() == 0
    assert minhash_lsh_candidates(df).count() == 0


def test_html_length_gate_excludes_tiny_pages(spark):
    """F5 (detail_crawler.py:39): pages with ≤100 bytes of html never reach
    extraction in the fused pass."""
    import pandas as pd

    from pcrawler_spark.plans.singlepass import schedule_and_extract
    from pcrawler_spark.sources.synthetic import SyntheticCrawlConfig, generate_crawl_corpus, _hosts_rows

    cfg = SyntheticCrawlConfig(n_companies=10, n_industries=2, n_hosts=4)
    corpus = generate_crawl_corpus(cfg)
    pages = spark.createDataFrame(
        corpus["pages"], "url string, warc_ts timestamp, html binary, text string, lang string"
    )
    tiny = spark.createDataFrame(
        [("https://tiny.example.vn/a-tong-quan",
          corpus["pages"].warc_ts.iloc[0].to_pydatetime().replace(tzinfo=None),
          b"<html></html>", "", "vi")],
        "url string, warc_ts timestamp, html binary, text string, lang string",
    )
    hosts = spark.createDataFrame(
        pd.DataFrame(_hosts_rows(cfg)),
        "host string, crawl_delay_s double, robots_disallow array<string>, max_parallel int",
    )
    out = schedule_and_extract(spark, pages.unionByName(tiny), hosts)
    urls = [r["canon_url"] for r in out.select("canon_url").collect()]
    assert "https://tiny.example.vn/a-tong-quan" not in urls
    assert len(urls) > 0


def test_error_url_filter(spark):
    df = spark.createDataFrame(
        [(1, "https://x.vn/ok"), (2, "https://x.vn/404"), (3, "https://x.vn/page?e=TIMEOUT"),
         (4, "https://x.vn/not-found"), (5, "https://x.vn/felled"), (6, "https://x.vn/failed/x"),
         (7, "https://x.vn/error.html"), (8, "https://x.vn/4o4")],
        "id int, url string",
    )
    errors = {r["id"] for r in error_url_filter(df, "url", keep="errors").collect()}
    assert errors == {2, 3, 4, 6, 7}
    clean = {r["id"] for r in error_url_filter(df, "url", keep="clean").collect()}
    assert clean == {1, 5, 8}


# ---------------------------------------------------------------------------
# round-2 engine behaviors: deep email crawl, give-up retirement, compaction,
# per-epoch job discipline
# ---------------------------------------------------------------------------

import tempfile

from pcrawler_spark.plans import CrawlEngine, CrawlRunConfig
from pcrawler_spark.sources.synthetic import SyntheticCrawlConfig, generate_crawl_corpus, is_deep_contact


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


def test_deep_email_crawl_finds_subpage_emails(spark, tmp_path):
    """Emails that exist ONLY on a /lienhe subpage (never on the contact
    landing page) are found via the best-first keyword crawl and reach the
    final export attributed to the right company."""
    cfg = SyntheticCrawlConfig(n_companies=40, n_industries=2, n_hosts=6, deep_rate=0.5)
    corpus, pages, hosts, seeds = _spark_corpus(spark, cfg)
    truth = corpus["truth"]
    sub_truth = truth[truth.url.str.contains("/lienhe/")]
    # companies whose detail page is robots-private are never crawled at
    # all — their contact sites are legitimately unreached
    private_ids = set(truth[(truth.kind == "detail") & truth.is_private].company_id)
    deep_with_emails = sub_truth[
        (sub_truth.emails.map(len) > 0) & (~sub_truth.company_id.isin(private_ids))
    ]
    assert len(deep_with_emails) > 0, "corpus must contain deep-email companies"

    engine = CrawlEngine(
        spark, pages, hosts,
        CrawlRunConfig(state_dir=str(tmp_path / "st"), epoch_seconds=120.0),
    )
    engine.run(seeds)
    emails = engine.emails().toPandas()
    by_url = emails.set_index("canon_url")
    for t in deep_with_emails.itertuples():
        got = list(by_url.loc[t.url, "emails"])
        assert got == list(t.emails), f"{t.url}: {got} != {t.emails}"
    # and the export carries them under the company
    exp = engine.export().toPandas()
    t0 = deep_with_emails.iloc[0]
    company_rows = exp[exp.name == t0.company_name]
    assert set(t0.emails[:5]) <= set(company_rows.email), (
        f"{t0.company_name}: export emails {set(company_rows.email)} missing {t0.emails}"
    )


def test_deep_crawl_depth_bound(spark, tmp_path):
    """contact_max_depth=0 disables subpage expansion: subpage emails are
    NOT found, landing pages still are."""
    cfg = SyntheticCrawlConfig(n_companies=30, n_industries=2, n_hosts=5, deep_rate=0.5)
    corpus, pages, hosts, seeds = _spark_corpus(spark, cfg)
    engine = CrawlEngine(
        spark, pages, hosts,
        CrawlRunConfig(state_dir=str(tmp_path / "st"), epoch_seconds=120.0,
                       contact_max_depth=0),
    )
    engine.run(seeds)
    emails = engine.emails().toPandas()
    assert not emails.canon_url.str.contains("/lienhe/").any()
    assert len(emails) > 0


def test_gave_up_retires_permanently_failing_urls(spark, tmp_path):
    """A URL that keeps failing past max_retries gets a 'gave_up' seen row
    and the frontier drains (no livelock)."""
    cfg = SyntheticCrawlConfig(n_companies=30, n_industries=2, n_hosts=5)
    corpus, pages, hosts, seeds = _spark_corpus(spark, cfg)
    # simulate a permanently-missing page: drop some detail pages from the
    # store entirely -> those urls become 'missing' seen rows (retired), and
    # separately force flaky failures with max_retries=0 so first-attempt
    # failures exceed the retry budget immediately -> 'gave_up'
    engine = CrawlEngine(
        spark, pages, hosts,
        CrawlRunConfig(state_dir=str(tmp_path / "st"), epoch_seconds=120.0,
                       simulate_flaky_rate=0.3, max_retries=0),
    )
    metrics = engine.run(seeds)
    seen = engine.seen().toPandas()
    assert (seen.reason == "gave_up").sum() > 0
    assert engine._pending().count() == 0, "gave-up URLs must not stay pending"
    assert seen.url_hash.is_unique


def test_compaction_preserves_state_and_bounds_dirs(spark, tmp_path):
    """compact_every merges seen/frontier epoch dirs; final state identical
    to the uncompacted run and resume still works."""
    import os

    cfg = SyntheticCrawlConfig(n_companies=40, n_industries=2, n_hosts=6)
    corpus, pages, hosts, seeds = _spark_corpus(spark, cfg)
    finals = {}
    for name, every in (("plain", None), ("compact", 1)):
        engine = CrawlEngine(
            spark, pages, hosts,
            CrawlRunConfig(state_dir=str(tmp_path / name), epoch_seconds=30.0,
                           compact_every=every),
        )
        engine.run(seeds)
        finals[name] = {
            "seen": sorted(r.url_hash for r in engine.seen().select("url_hash").collect()),
            "records": sorted(r.canon_url for r in engine.records().select("canon_url").collect()),
        }
        if name == "compact":
            seen_dirs = [d for d in os.listdir(tmp_path / name / "seen") if d.startswith("epoch=")]
            assert len(seen_dirs) <= 2, f"compaction left {len(seen_dirs)} seen dirs"
            # resume on the compacted state is a no-op returning cleanly
            engine2 = CrawlEngine(
                spark, pages, hosts,
                CrawlRunConfig(state_dir=str(tmp_path / name), epoch_seconds=30.0),
            )
            assert engine2.run() == []
            assert sorted(r.url_hash for r in engine2.seen().select("url_hash").collect()) == finals[name]["seen"]
    assert finals["plain"]["seen"] == finals["compact"]["seen"]
    assert finals["plain"]["records"] == finals["compact"]["records"]


def test_epoch_job_discipline(spark, tmp_path, count_actions):
    """One epoch performs exactly 2 driver-side metric actions (round 1 ran
    8 separate count jobs per epoch): one groupBy('decision') collect and
    one groupBy('kind') collect — no .count()/.toPandas() anywhere.  Holds
    for the first epoch (no seen set yet) and for a steady-state epoch,
    whose pending set is one JVM-only left-anti join against seen."""
    cfg = SyntheticCrawlConfig(n_companies=30, n_industries=2, n_hosts=5)
    corpus, pages, hosts, seeds = _spark_corpus(spark, cfg)
    engine = CrawlEngine(
        spark, pages, hosts,
        CrawlRunConfig(state_dir=str(tmp_path / "st"), epoch_seconds=120.0),
    )
    engine.catalog.rollback_uncommitted()
    engine.init_frontier(seeds)
    calls = count_actions()
    assert engine.run_epoch(1) is not None
    assert calls == {"collect": 2, "count": 0, "toPandas": 0}

    buf = io.StringIO()
    with contextlib.redirect_stdout(buf):
        engine._pending().explain("formatted")
    plan = buf.getvalue()
    assert "LeftAnti" in plan, plan
    assert "ArrowEvalPython" not in plan and "BatchEvalPython" not in plan, plan
    calls.update(dict.fromkeys(calls, 0))
    assert engine.run_epoch(2) is not None
    assert calls == {"collect": 2, "count": 0, "toPandas": 0}


def test_repeated_crawl_compiles_no_new_code(spark, tmp_path):
    """The session's generated-class cache holds a crawl's working set: a
    second identical crawl into a fresh state dir reuses every class the
    first one compiled (with Spark's default 100 entries the cache cycles
    and each crawl recompiles its classes)."""
    cfg = SyntheticCrawlConfig(n_companies=30, n_industries=2, n_hosts=5)
    corpus, pages, hosts, seeds = _spark_corpus(spark, cfg)
    compiles = spark._jvm.org.apache.spark.metrics.source.CodegenMetrics \
        .METRIC_COMPILATION_TIME()
    added = []
    for name in ("first", "second"):
        before = compiles.getCount()
        engine = CrawlEngine(
            spark, pages, hosts,
            CrawlRunConfig(state_dir=str(tmp_path / name), epoch_seconds=120.0),
        )
        assert engine.run(seeds)
        added.append(compiles.getCount() - before)
    assert added[1] == 0, f"compiles per crawl (first, second): {added}"


def test_salted_rank_equivalence(spark):
    """Two-phase salted politeness rank (host-skew defusal) must produce
    EXACTLY the same decisions as the single-window rank on a skewed
    frontier with over- and under-budget hosts plus robots disallows."""
    from pcrawler_spark.operators.politeness import politeness_decide

    rows = []
    # mega host: 500 pending (budget will be 40) incl. disallowed paths
    for i in range(500):
        path = "/private/x" if i % 7 == 0 else f"/p/{i}"
        rows.append((f"https://mega.vn{path}", "mega.vn", i % 3, i % 2, i * 1000 + 7))
    # small host: 5 pending (under budget)
    for i in range(5):
        rows.append((f"https://small.vn/p/{i}", "small.vn", 1, 0, 900000 + i))
    frontier = spark.createDataFrame(
        rows, "canon_url string, host string, priority int, retry_count int, url_hash long"
    )
    hosts = spark.createDataFrame(
        [("mega.vn", 1.0, ["/private"], 2), ("small.vn", 1.0, [], 1)],
        "host string, crawl_delay_s double, robots_disallow array<string>, max_parallel int",
    )
    def decisions(**kw):
        out = politeness_decide(frontier, hosts, epoch_seconds=20.0, **kw)
        return sorted((r.url_hash, r.decision) for r in out.collect())

    plain = decisions()
    salted = decisions(salted_rank_partitions=8)
    assert plain == salted
    counts = {}
    for _, d in plain:
        counts[d] = counts.get(d, 0) + 1
    assert counts["scheduled"] == 40 + 5  # mega budget 20*2, small all 5
    assert counts["disallowed"] == len([i for i in range(500) if i % 7 == 0])
    assert counts["deferred"] == 505 - counts["scheduled"] - counts["disallowed"]


def test_winnowing_guarantee_and_determinism(spark):
    """Winnowing property: two docs sharing a long substring share at least
    one selected fingerprint; selection is deterministic."""
    from pcrawler_spark.operators.textstats import winnowing_fingerprints

    shared = "the common copied passage lives here verbatim"
    docs = [
        (1, "prefix one " + shared + " suffix alpha"),
        (2, "totally different beginning " + shared + " and ending"),
        (3, "no overlap with anything else at all zzz"),
    ]
    df = spark.createDataFrame(docs, "doc_id long, text string")
    fps = winnowing_fingerprints(df, k=8, w=4)
    rows = fps.collect()
    by_doc = {}
    for r in rows:
        by_doc.setdefault(r["doc"], set()).add(r["fp_hash"])
    # guarantee: len(shared) = 45 >= w + k - 1 = 11 -> a shared fingerprint
    assert by_doc[1] & by_doc[2], "copied passage must share a fingerprint"
    assert not (by_doc[3] & (by_doc[1] | by_doc[2]))
    # determinism
    again = {(r["doc"], r["fp_hash"], r["fp_pos"]) for r in winnowing_fingerprints(df, k=8, w=4).collect()}
    assert again == {(r["doc"], r["fp_hash"], r["fp_pos"]) for r in rows}


def test_bpe_token_count_counts_punctuation(spark):
    from pcrawler_spark.operators.textstats import bpe_token_count, token_count

    df = spark.createDataFrame(
        [(1, "hello world"), (2, "hello, world!!! it's 2026..."), (3, "a-b c_d")],
        "doc_id long, text string",
    )
    out = {r["doc_id"]: r["n_bpe_tokens"] for r in bpe_token_count(df).collect()}
    ws = {r["doc_id"]: r["n_tokens"] for r in token_count(df).collect()}
    # "hello world" -> ["hello", " world"] = 2
    assert out[1] == 2
    # punctuation-heavy text yields MORE bpe tokens than whitespace tokens
    assert out[2] > ws[2]
    # "it's" splits into " it" + "'s"
    assert out[2] == 8  # hello | , |  world | !!! |  it | 's |  2026 | ...


def test_engine_on_bucketed_pagestore(spark, tmp_path):
    """The epoch engine runs against a bucketed page-store TABLE (no
    broadcast, no pages-side shuffle in the fetch join) and produces the
    exact same final state as the DataFrame-input engine."""
    import shutil

    from pcrawler_spark.plans.pagestore import write_bucketed_pages

    cfg = SyntheticCrawlConfig(n_companies=40, n_industries=2, n_hosts=6)
    corpus, pages, hosts, seeds = _spark_corpus(spark, cfg)
    spark.sql("DROP TABLE IF EXISTS engine_pages_bucketed")
    wh = spark.conf.get("spark.sql.warehouse.dir").removeprefix("file:")
    shutil.rmtree(f"{wh}/engine_pages_bucketed", ignore_errors=True)
    write_bucketed_pages(pages, "engine_pages_bucketed", n_buckets=8)

    finals = {}
    for name, src in (("df", pages), ("bucketed", "engine_pages_bucketed")):
        engine = CrawlEngine(
            spark, src, hosts,
            CrawlRunConfig(state_dir=str(tmp_path / name), epoch_seconds=120.0),
        )
        engine.run(seeds)
        finals[name] = {
            "seen": sorted(r.url_hash for r in engine.seen().select("url_hash").collect()),
            "records": sorted(r.canon_url for r in engine.records().select("canon_url").collect()),
            "emails": sorted(
                (r.canon_url, tuple(r.emails)) for r in engine.emails().collect()
            ),
        }
    assert finals["df"] == finals["bucketed"]
    assert len(finals["df"]["seen"]) > 0
    spark.sql("DROP TABLE IF EXISTS engine_pages_bucketed")
