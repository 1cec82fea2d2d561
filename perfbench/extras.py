"""Layers a traced run measures besides its workload's operations.

``crawl_epochs`` adds the in-process kernel pass and the training pipeline,
``extract_bulk`` the kernel pass and the ANN queries: the traced runs then
took 66-92 s of their 180 s limit on a shared 4-core VM.  The training
pipeline and the ANN family are not workloads of their own (see README.md:
their runs do not fit the benchmark's time budget).  Each part checks its outputs
like a timed operation does and returns ``(per-layer metrics, checks
attempted, checks failed)``.
"""

from __future__ import annotations

import math
import os
import random
import re
import sys
import time

#: at most this many pages of the workload's corpus run through the kernels
KERNEL_SAMPLE = 5000
#: training docs per pipeline run (the seed is the doc-id offset)
TRAIN_DOCS = 20_000
#: the ANN family of ``__spark_entry__.queries()``
ANN_QUERIES = {
    "q29": "q29_knn_bruteforce", "q30": "q30_knn_ivf", "q53": "q53_pq_rerank_topk",
    "q54": "q54_ivf_pq_topk", "q58": "q58_ivfadc_residual", "q60": "q60_sq8_family",
}
#: the sf0.1 ``embeddings`` table's distribution and width at the sf0.01
#: table's 500 rows: with 1,000 rows the six queries and their DuckDB oracles
#: took 54 s on a loaded 4-core VM, with 500 rows 42 s; the ANN layer rides
#: on a traced run, whose time counts against the benchmark's budget
EMBEDDINGS = dict(rows=500, dim=64, labels=10)


def kernel_layer(pages) -> tuple[dict, int, int]:
    """The fused extraction's kernels over a fixed sample of ``pages``,
    dispatched by url kind as ``plans.singlepass._extract_batch`` does and
    timed per kernel.  Executors cannot be wrapped from outside, so this
    in-process pass is the per-kernel view; the text is checked
    byte-identical to the generator's."""
    from pcrawler_spark.html import parse_html
    from pcrawler_spark.kernels import (
        canonicalize_url, extract_company_details, extract_company_links,
        extract_emails, extract_text)
    from pcrawler_spark.kernels.emails import score_contact_links
    from pcrawler_spark.kernels.links import extract_pagination_links
    from pcrawler_spark.sources.synthetic import SyntheticCrawlConfig

    directory_host = SyntheticCrawlConfig().directory_host
    pages = pages[pages.html.map(len) > 100].sort_values("url")
    sample = pages.iloc[::max(1, len(pages) // KERNEL_SAMPLE)].head(KERNEL_SAMPLE)
    acc = dict.fromkeys(("parse_html", "details", "emails", "contact_links",
                         "listing_links", "text"), 0.0)
    clock = time.perf_counter
    wrong = 0
    for url, html, want in zip(sample.url, sample.html, sample.text):
        canon = canonicalize_url(url)
        m = re.match(r"^https?://([^/:@]+)", canon)
        host = m.group(1) if m else ""
        t = clock()
        root = parse_html(html)
        acc["parse_html"] += clock() - t
        t = clock()
        if "-tong-quan" in canon:
            extract_company_details(html, company_url=canon, root=root)
            acc["details"] += clock() - t
        elif host == directory_host:
            extract_company_links(html, root=root)
            extract_pagination_links(html, root=root)
            acc["listing_links"] += clock() - t
        else:
            url_type = "facebook" if "facebook.com" in host else "website"
            extract_emails(html, url_type)
            acc["emails"] += clock() - t
            t = clock()
            score_contact_links(html, base_url=canon, url_type=url_type, root=root)
            acc["contact_links"] += clock() - t
        t = clock()
        text = extract_text(html, root=root)
        acc["text"] += clock() - t
        wrong += text != want
    total = sum(acc.values())
    n = len(sample)
    layer = {f"kernels.{k}_s": v for k, v in acc.items()}
    layer["kernels.pages_per_s_core"] = n / total
    layer["kernels.parse_html_share"] = acc["parse_html"] / total
    if wrong:
        print(f"# kernel check failed: {wrong} of {n} pages' text not byte-identical",
              file=sys.stderr)
    return layer, 1, int(wrong > 0)


def training_layer(ctx) -> tuple[dict, int, int]:
    """One warm-up and one traced ``training_pipeline(docs, quality_min=0)``
    run, consumed by ``collect()``."""
    import pcrawler_spark.operators.concomp as concomp
    from pcrawler_spark.plans.training import training_pipeline
    from pcrawler_spark.sources import trainingdocs

    spark, tracer = ctx.spark, ctx.tracer
    lo = ctx.seed
    path = ctx.path("train-docs")
    spark.range(lo, lo + TRAIN_DOCS, numPartitions=16).mapInPandas(
        trainingdocs._gen_batches, "doc_id long, text string").write.parquet(path)
    docs = spark.read.parquet(path)

    def run():
        out = training_pipeline(docs, quality_min=0)
        rows = out.collect()
        out.training_persist_handle.unpersist()
        return rows

    pinned = sorted(r["doc_id"] for r in run())  # warm-up; pins the survivors
    tracer.wrap(concomp, "connected_components", "train.concomp")
    tracer.op = None
    tracer.enabled = True
    try:
        with tracer.span("train.pipeline") as s:
            rows = run()
    finally:
        tracer.enabled = False
    wall = s.wall
    concomp_s = sum(x.wall for x in tracer.spans if x.name == "train.concomp")

    fails = []
    ids = sorted(r["doc_id"] for r in rows)
    if ids != pinned:
        fails.append("surviving doc_ids differ from the warm-up run's")
    if len({r["fp"] for r in rows}) != len(rows):
        fails.append("exact-fingerprint duplicates among the survivors")
    # every survivor must be the smallest doc_id of its exact text
    first: dict[str, int] = {}
    for i in range(lo, lo + TRAIN_DOCS):
        first.setdefault(trainingdocs._doc_text(i), i)
    if not set(ids) <= set(first.values()):
        fails.append("a survivor is not the smallest doc_id of its text")
    for f in fails:
        print(f"# training check failed: {f}", file=sys.stderr)
    layer = {
        "training.docs_per_s": TRAIN_DOCS / wall,
        "training.concomp_s": concomp_s,
        "training.docs_out": len(rows),
        "training.survivor_ratio": len(rows) / TRAIN_DOCS,
    }
    return layer, 1, int(bool(fails))


def _write_embeddings(path: str, seed: int) -> None:
    """Unit-norm Gaussian float32 vectors with uniform labels — the
    distribution of the sf0.1 testdata table, drawn from ``seed``."""
    import numpy as np
    import pyarrow as pa
    import pyarrow.parquet as pq

    rng = np.random.default_rng(seed)
    v = rng.standard_normal((EMBEDDINGS["rows"], EMBEDDINGS["dim"])).astype(np.float32)
    v /= np.linalg.norm(v, axis=1, keepdims=True)
    table = pa.table({
        "vec_id": pa.array(np.arange(EMBEDDINGS["rows"], dtype=np.int64)),
        "embedding": pa.array(list(v), type=pa.list_(pa.float32())),
        "label": pa.array(rng.integers(0, EMBEDDINGS["labels"], EMBEDDINGS["rows"],
                                       dtype=np.int32)),
    })
    pq.write_table(table, path)


def _canon_cell(v):
    """The canonicalization of tests/test_oracle_parity.py."""
    if v is None:
        return "NULL"
    if isinstance(v, float):
        if math.isnan(v):
            return "NaN"
        return f"{v:.9g}"
    if isinstance(v, bool):
        return str(int(v))
    return str(v)


def _canon(rows, cols):
    order = sorted(range(len(cols)), key=lambda i: cols[i])
    return sorted(tuple(_canon_cell(r[i]) for i in order) for r in rows)


def ann_layer(ctx) -> tuple[dict, int, int]:
    """The six ANN queries once each, in a seed-permuted order, each
    consumed by ``collect()`` and checked against its DuckDB oracle."""
    import duckdb

    import __spark_entry__ as entry

    sf = ctx.path("ann")
    os.makedirs(sf, exist_ok=True)
    _write_embeddings(os.path.join(sf, "embeddings.parquet"), ctx.seed)
    queries, oracles = entry.queries(), entry.oracle_sql()
    order = sorted(ANN_QUERIES)
    random.Random(ctx.seed).shuffle(order)

    tracer = ctx.tracer
    tracer.op = None
    results = {}
    t_all = time.perf_counter()
    tracer.enabled = True
    try:
        for q in order:
            with tracer.span("ann.query", query=q) as s:
                df = queries[ANN_QUERIES[q]](ctx.spark, sf)
                results[q] = (df.columns, [tuple(r) for r in df.collect()], s)
    finally:
        tracer.enabled = False
    total = time.perf_counter() - t_all

    con = duckdb.connect()
    try:
        con.execute(f"CREATE VIEW embeddings AS SELECT * FROM "
                    f"'{os.path.join(sf, 'embeddings.parquet')}'")
        failed = 0
        for q, (cols, rows, _s) in results.items():
            tbl = con.execute(oracles[ANN_QUERIES[q]]).arrow()
            d_cols = list(tbl.column_names)
            d_rows = [tuple(r[c] for c in d_cols) for r in tbl.to_pylist()]
            ok = (sorted(cols) == sorted(d_cols) and len(rows) == len(d_rows) > 0
                  and _canon(rows, cols) == _canon(d_rows, d_cols))
            if not ok:
                failed += 1
                print(f"# ann check failed: {q} differs from its DuckDB oracle",
                      file=sys.stderr)
    finally:
        con.close()
    layer = {f"knn.{q}_s": s.wall for q, (_c, _r, s) in results.items()}
    layer["knn.queries_per_s"] = len(results) / total
    return layer, len(results), failed
