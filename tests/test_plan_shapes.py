"""Physical-plan shape assertions: the optimizations we rely on at scale
must actually appear in the plans (pushed filters, column pruning,
broadcast joins, whole-stage codegen, no Python UDFs in relational paths).
"""

import pytest
from pyspark.sql import functions as F

import __spark_entry__ as entry_mod

SF_DIR = "/root/testdata/sf0.01"


import contextlib
import io


def plan_of(df) -> str:
    buf = io.StringIO()
    with contextlib.redirect_stdout(buf):
        df.explain("formatted")
    return buf.getvalue()


def test_filter_pushdown_and_pruning(spark):
    df = entry_mod.q02_filter_project(spark, SF_DIR)
    plan = plan_of(df)
    assert "PushedFilters:" in plan and "l_shipdate" in plan.split("PushedFilters:")[1][:300]
    # only the needed columns are read
    read_schema = plan.split("ReadSchema:")[1].splitlines()[0]
    for col in ("l_orderkey", "l_partkey", "l_extendedprice", "l_discount"):
        assert col in read_schema
    assert "l_comment" not in read_schema and "l_returnflag" not in read_schema


def test_broadcast_dims(spark):
    plan = plan_of(entry_mod.q04_broadcast_dims_count(spark, SF_DIR))
    assert "BroadcastHashJoin" in plan
    assert "SortMergeJoin" not in plan  # all dims must broadcast


def test_whole_stage_codegen_in_agg(spark):
    df = entry_mod.q01_pricing_summary(spark, SF_DIR)
    df.collect()  # finalize the AQE plan so codegen ids are visible
    plan = plan_of(df)
    assert "codegen id" in plan and "HashAggregate" in plan
    assert "BatchEvalPython" not in plan and "ArrowEvalPython" not in plan


def test_scheduling_chain_is_jvm_only(spark):
    """The frontier scheduling path must contain no Python stage and must
    never carry the html column through an exchange."""
    from pcrawler_spark.functions.udfs import with_url_hash
    from pcrawler_spark.operators.dedup import dedup_keep_first_agg
    from pcrawler_spark.operators.politeness import politeness_decide
    from pcrawler_spark.plans.singlepass import classify_urls
    from pcrawler_spark.sources.synthetic import SyntheticCrawlConfig, generate_crawl_corpus

    corpus = generate_crawl_corpus(SyntheticCrawlConfig(n_companies=30, n_industries=3, n_hosts=5))
    pages = spark.createDataFrame(
        corpus["pages"], "url string, warc_ts timestamp, html binary, text string, lang string"
    )
    hosts = spark.createDataFrame(
        corpus["hosts"],
        "host string, crawl_delay_s double, robots_disallow array<string>, max_parallel int",
    )
    idx = with_url_hash(pages, "url")
    meta = idx.select("url_hash", "canon_url", "host", "warc_ts")
    winners = dedup_keep_first_agg(meta, "url_hash", ["warc_ts", "canon_url"], ["host"])
    frontier = classify_urls(winners).withColumn("priority", F.lit(1)).withColumn("retry_count", F.lit(0))
    sched = politeness_decide(frontier, hosts).filter(F.col("decision") == "scheduled")
    plan = plan_of(sched)
    assert "ArrowEvalPython" not in plan and "BatchEvalPython" not in plan
    # html never enters the scheduling exchanges
    for frag in plan.split("Exchange")[1:]:
        assert "html" not in frag.split("\n")[0]


@pytest.mark.parametrize("query", ["q32_extract_details", "q33_extract_text_identity"])
def test_extraction_oracles_run_the_fused_stage(spark, query):
    """q32/q33's byte-identity oracles must pin the extraction stage the
    crawler runs — the one fused mapInPandas — not a per-field UDF."""
    plan = plan_of(entry_mod.queries()[query](spark, SF_DIR))
    assert "MapInPandas" in plan
    assert "ArrowEvalPython" not in plan and "BatchEvalPython" not in plan


def test_dedup_agg_is_partial(spark):
    """keep-first aggregation must plan as partial+final HashAggregate
    (map-side combine), not a window sort."""
    from pcrawler_spark.operators.dedup import dedup_keep_first_agg

    df = spark.createDataFrame(
        [(1, "a", 1.0), (1, "b", 2.0), (2, "c", 3.0)], "k long, v string, o double"
    )
    out = dedup_keep_first_agg(df, "k", ["o"], ["v"])
    plan = plan_of(out)
    # min(struct) is sort-based, but still partial+final around one exchange
    assert "partial_min" in plan  # map-side combine before the shuffle
    assert "Window" not in plan


def _corpus_frames(spark, n=30):
    from pcrawler_spark.sources.synthetic import SyntheticCrawlConfig, generate_crawl_corpus

    corpus = generate_crawl_corpus(SyntheticCrawlConfig(n_companies=n, n_industries=3, n_hosts=5))
    pages = spark.createDataFrame(
        corpus["pages"], "url string, warc_ts timestamp, html binary, text string, lang string"
    )
    hosts = spark.createDataFrame(
        corpus["hosts"],
        "host string, crawl_delay_s double, robots_disallow array<string>, max_parallel int",
    )
    return pages, hosts


def test_singlepass_single_exchange_scheduling(spark):
    """The fused pass's scheduling chain must plan exactly ONE shuffle
    (repartition on host) and the fetch join must be a broadcast of the
    keys side — the wide pages scan is never exchanged."""
    from pcrawler_spark.plans.singlepass import schedule_and_extract

    import re

    pages, hosts = _corpus_frames(spark)
    out = schedule_and_extract(spark, pages, hosts)
    plan = plan_of(out)
    # formatted explain lists shuffle nodes as "(N) Exchange" (broadcast is
    # its own "BroadcastExchange" node)
    n_shuffles = len(re.findall(r"\(\d+\) Exchange\b", plan))
    assert n_shuffles == 1, f"expected 1 shuffle in the fused pass, got {n_shuffles}:\n{plan}"
    assert "BroadcastHashJoin" in plan
    assert "hashpartitioning(host" in plan  # and it is the host repartition
    assert "html" not in plan.split("Arguments: hashpartitioning(host")[1].split("\n")[0]


def test_bucketed_pagestore_no_broadcast_no_pages_shuffle(spark, tmp_path):
    """The 10^10-scale fetch path: bucketed pages table joined with the
    scheduled keys — NO broadcast, NO exchange on the pages side (only the
    keys side shuffles into the bucket layout)."""
    from pcrawler_spark.plans.pagestore import fetch_join_bucketed, write_bucketed_pages

    import shutil

    pages, hosts = _corpus_frames(spark, n=40)
    spark.sql("DROP TABLE IF EXISTS bucketed_pages_test")
    # a crashed earlier run can leave the managed-table dir without a
    # metastore entry; saveAsTable then refuses (LOCATION_ALREADY_EXISTS)
    wh = spark.conf.get("spark.sql.warehouse.dir").removeprefix("file:")
    shutil.rmtree(f"{wh}/bucketed_pages_test", ignore_errors=True)
    write_bucketed_pages(pages, "bucketed_pages_test", n_buckets=8)
    # a deterministic subset of real keys plus some misses (no limit():
    # GlobalLimit would add its own SinglePartition exchange on the keys
    # side and muddy the shuffle count)
    keys = (
        spark.table("bucketed_pages_test")
        .select("url_hash")
        .filter(F.pmod("url_hash", F.lit(3)) == 0)
        .union(spark.range(5).select(F.xxhash64("id").alias("url_hash")))
    )
    n_expected = keys.count() - 5
    joined = fetch_join_bucketed(spark.table("bucketed_pages_test"), keys)
    plan = plan_of(joined)
    assert "BroadcastHashJoin" not in plan and "BroadcastExchange" not in plan
    assert "ShuffledHashJoin" in plan or "SortMergeJoin" in plan
    # exactly one shuffle node, and it moves the KEYS side (no html in it)
    import re
    n_shuffles = len(re.findall(r"\(\d+\) Exchange\b", plan))
    assert n_shuffles <= 1, plan
    for m in re.finditer(r"Arguments: hashpartitioning\([^\n]*", plan):
        assert "html" not in m.group(0)
    # the pages-side scan must report the bucket layout
    assert "SelectedBucketsCount" in plan or "Bucketed: true" in plan, plan
    # correctness: bucketed join returns the matching rows
    assert joined.count() == n_expected
    spark.sql("DROP TABLE IF EXISTS bucketed_pages_test")


def test_pq_adc_plan_all_broadcast(spark):
    """q53's joins (codebook assigns + ADC table + re-rank candidate probe)
    must all be broadcast hash joins — neither the encoded corpus (ADC
    scan) nor the full-vector corpus (re-rank) ever shuffles."""
    plan = plan_of(entry_mod.q53_pq_rerank_topk(spark, SF_DIR))
    assert "BroadcastHashJoin" in plan
    assert "SortMergeJoin" not in plan
    assert "CartesianProduct" not in plan


def test_ivf_pq_plan_no_cartesian(spark):
    """q54: the only nested-loop join allowed is the broadcast centroid
    probe (tiny side by construction); no cartesian, no sort-merge."""
    plan = plan_of(entry_mod.q54_ivf_pq_topk(spark, SF_DIR))
    assert "CartesianProduct" not in plan
    assert "SortMergeJoin" not in plan
    # the broadcast centroid probe (formatted explain can print a reused
    # subtree twice, so bound rather than pin)
    assert plan.count("BroadcastNestedLoopJoin") <= 2


# (Exchange, Window, BroadcastNestedLoopJoin, SortMergeJoin) node counts of
# each ANN query's physical plan, measured before the knn.py primitives
# refactor (q30's after its learned branch broadcast the probe list, which
# removed a sort-merge join and its shuffle of the full-vector corpus).
# They are upper bounds: a later change may remove such nodes but never
# add one.
_ANN_PLAN_BOUNDS = {
    "q29_knn_bruteforce": (1, 1, 1, 0),
    "q30_knn_ivf": (7, 4, 3, 0),
    "q53_pq_rerank_topk": (4, 2, 0, 0),
    "q54_ivf_pq_topk": (7, 3, 1, 0),
    "q58_ivfadc_residual": (10, 3, 1, 0),
    "q60_sq8_family": (6, 4, 2, 0),
}


@pytest.mark.parametrize("query", list(_ANN_PLAN_BOUNDS))
def test_ann_plan_node_bounds(spark, query):
    import re

    plan = plan_of(getattr(entry_mod, query)(spark, SF_DIR))
    nodes = ("Exchange", "Window", "BroadcastNestedLoopJoin", "SortMergeJoin")
    counts = tuple(len(re.findall(rf"\(\d+\) {n}\b", plan)) for n in nodes)
    bounds = _ANN_PLAN_BOUNDS[query]
    assert all(c <= b for c, b in zip(counts, bounds)), (dict(zip(nodes, counts)), plan)


def test_repeated_spans_plan_shape(spark):
    """q61: the gram count must be a partial-agg groupBy (skew-safe: a
    boilerplate gram combines map-side, never fanning 10^8 rows into one
    reducer), the duplicated-gram set joins BACK by broadcast (the hit
    table never shuffles on the gram key), the island merge windows over
    doc_id alone, and no Python appears in the plan."""
    plan = plan_of(entry_mod.q61_repeated_spans(spark, SF_DIR))
    assert "BroadcastHashJoin" in plan
    assert "SortMergeJoin" not in plan
    assert "CartesianProduct" not in plan
    # the contam branch's eval-gram probe is an explicitly-broadcast
    # left-semi join — the corpus hit stream never shuffles on the gram key
    assert "LeftSemi" in plan
    # partial + final HashAggregate pair for the gram count
    assert "partial_count" in plan
    # tokenize/slide/explode are all JVM-side
    for py in ("BatchEvalPython", "ArrowEvalPython", "MapInPandas", "MapInArrow"):
        assert py not in plan


def test_pagerank_plan_shape(spark):
    """q46 pagerank branch: the iteration joins must be hash joins (never a
    cartesian / nested-loop), the per-round contribution sum a partial-agg
    groupBy on the dst node (map-side combine absorbs in-degree skew), and
    the whole thing JVM-side.  The edge/node sets are lazily
    localCheckpointed, so the iteration job reads stored blocks — the
    source scan must NOT reappear per round."""
    from pcrawler_spark.operators.linkrank import pagerank_ppm

    o = spark.read.parquet(f"{SF_DIR}/orders.parquet")
    edges = o.select(
        (F.col("o_custkey") % 200).alias("src"),
        F.when(F.col("o_orderkey") % 1000 < 500, F.col("o_orderkey") % 10)
        .otherwise(F.col("o_orderkey") % 200)
        .alias("dst"),
    )
    plan = plan_of(pagerank_ppm(edges, iters=3))
    assert "CartesianProduct" not in plan
    assert "BroadcastNestedLoop" not in plan
    assert "partial_sum" in plan
    # checkpointed lineage: the rank job scans the stored RDD, not parquet
    assert "Scan parquet" not in plan
    for py in ("BatchEvalPython", "ArrowEvalPython", "MapInPandas", "MapInArrow"):
        assert py not in plan


def test_redact_pii_plan_is_codegen_only(spark):
    """q39 pii branch: the staged regexp chain must stay inside whole-stage
    codegen — no Python evaluation node anywhere (redaction runs over every
    document at 100 TB; a per-row Python UDF here would be the pipeline's
    bottleneck)."""
    from pcrawler_spark.operators.redact import redact_pii

    c = spark.read.parquet(f"{SF_DIR}/customer.parquet")
    df = redact_pii(c.select(F.col("c_name").alias("text")))
    plan = plan_of(df)
    for py in ("BatchEvalPython", "ArrowEvalPython", "MapInPandas", "MapInArrow"):
        assert py not in plan
    # formatted mode marks codegen'd nodes with '*' + a codegen id — the
    # whole chain must collapse to one codegen'd Project over the scan
    assert "[codegen id" in plan and "* Project" in plan


def test_gopher_signals_plan_shape(spark):
    """q57 char-coverage signals: both n-gram counts are partial-agg
    groupBys keyed on (doc, gram) — per-doc hot grams combine map-side —
    and the top-gram tie-break resolves with aggregates, not a global
    sort."""
    from pcrawler_spark.operators.textstats import gopher_repetition_signals

    d = spark.read.parquet(f"{SF_DIR}/documents.parquet")
    plan = plan_of(gopher_repetition_signals(d))
    assert "partial_count" in plan
    assert "CartesianProduct" not in plan
    for py in ("BatchEvalPython", "ArrowEvalPython", "MapInPandas", "MapInArrow"):
        assert py not in plan


def test_bm25_plan_topk_and_term_filter_first(spark):
    """bm25: the final top-k must be TakeOrderedAndProject (per-partition
    heap + driver merge of k rows — never a global Sort), the query-term
    IN-filter must sit in the scan chain before any join, and the IDF
    table must broadcast."""
    from pcrawler_spark.operators.retrieval import bm25_topk

    d = spark.read.parquet(f"{SF_DIR}/documents.parquet")
    plan = plan_of(bm25_topk(d, ("spark", "vector", "window", "join"), k=20))
    assert "TakeOrderedAndProject" in plan
    assert "BroadcastHashJoin" in plan
    assert "CartesianProduct" not in plan
    # the explode feeds a tok IN (...) filter — present as a Filter cond
    assert plan.count("spark") >= 1 and "tok" in plan
    for py in ("BatchEvalPython", "ArrowEvalPython", "MapInPandas", "MapInArrow"):
        assert py not in plan


def test_text_operators_have_no_interpreted_lambdas(spark):
    """Words, n-grams, marker counts and chunks are compiled expressions
    (split / regexp_extract_all / regexp_count): no higher-order
    ``transform``/``filter``/``aggregate`` lambda, which Spark interprets
    per array element outside whole-stage codegen."""
    from pcrawler_spark.operators.chunking import token_chunks
    from pcrawler_spark.operators.simdedup import repeated_ngram_spans
    from pcrawler_spark.operators.textstats import (
        gopher_repetition_signals, repetition_ratio)
    from pcrawler_spark.plans.training import training_pipeline

    d = spark.read.parquet(f"{SF_DIR}/documents.parquet")
    train = training_pipeline(d, quality_min=450000)
    plans = {
        "training_pipeline": plan_of(train),
        "repetition_ratio": plan_of(repetition_ratio(d)),
        "gopher_repetition_signals": plan_of(gopher_repetition_signals(d)),
        "repeated_ngram_spans": plan_of(repeated_ngram_spans(d)),
        "token_chunks": plan_of(token_chunks(d)),
    }
    train.training_persist_handle.unpersist()
    for name, plan in plans.items():
        assert "lambdafunction" not in plan, name
