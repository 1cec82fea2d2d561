"""Fused schedule→extract single pass — the steady-state benchmark unit.

One epoch of the crawl engine, expressed as ONE job with a single fused
``mapInPandas`` extraction stage: every page row crosses the Arrow boundary
exactly once and is dispatched to the right kernel (details/emails/links) by
its URL kind inside the batch.  This is the per-URL work that dominates at
10^10 scale; fixed per-epoch driver costs are excluded, so throughput here
is what actually scales with executors.

Used by bench.py to evidence the N→4N scaling criterion (same job at
local[8] and local[32]).
"""

from __future__ import annotations

from typing import Iterable

import pandas as pd
from pyspark.sql import Column, DataFrame, SparkSession
from pyspark.sql import functions as F

from ..functions.udfs import with_url_hash
from ..operators.dedup import dedup_keep_first_agg
from ..operators.politeness import politeness_decide
from .pagestore import fetch_join_bucketed

EXTRACT_ALL_SCHEMA = (
    "url_hash long, canon_url string, kind string, url_type string, "
    "company_name string, address string, phone string, website string, "
    "facebook string, linkedin string, tiktok string, youtube string, "
    "instagram string, industry string, created_year string, revenue string, "
    "scale string, emails array<string>, out_links array<string>, text string"
)

_DETAIL_COLS = [
    "company_name", "address", "phone", "website", "facebook", "linkedin",
    "tiktok", "youtube", "instagram", "industry", "created_year", "revenue",
    "scale",
]


_INPUT_COLS = ("url_hash", "canon_url", "kind", "url_type", "html")


def _extract_batch(batches: Iterable[pd.DataFrame]) -> Iterable[pd.DataFrame]:
    """The fused kernel pass over Arrow batches of :data:`_INPUT_COLS`;
    any further input column is passthrough, echoed into the output
    unchanged.  Reached only through :func:`fused_extract`."""
    # imports inside: runs on executors via the shipped package zip
    from ..html import parse_html
    from ..kernels import (
        extract_company_details,
        extract_company_links,
        extract_emails,
        extract_text,
    )
    from ..kernels.emails import score_contact_links
    from ..kernels.links import extract_pagination_links

    for pdf in batches:
        out = {c: [] for c in ("url_hash", "canon_url", "kind", "url_type",
                               *_DETAIL_COLS, "emails", "out_links", "text")}
        for h, url, kind, url_type, html in zip(
            pdf["url_hash"], pdf["canon_url"], pdf["kind"], pdf["url_type"], pdf["html"]
        ):
            out["url_hash"].append(h)
            out["canon_url"].append(url)
            out["kind"].append(kind)
            out["url_type"].append(url_type)
            emails, links = None, None
            fields = {c: None for c in _DETAIL_COLS}
            root = parse_html(html)  # parsed ONCE, shared by all kernels
            if kind == "detail":
                rec = extract_company_details(html, company_url=url, root=root)
                for c in _DETAIL_COLS:
                    fields[c] = rec[c]
                links = [u for u in (rec["website"], rec["facebook"]) if u]
            elif kind == "contact":
                emails = extract_emails(html, url_type or "website")
                # best-first deep crawl (email_extractor.py:149-225): surface
                # the keyword-scored same-host links; the epoch engine
                # follows them to contact_max_depth
                links = score_contact_links(html, base_url=url,
                                            url_type=url_type or "website", root=root)
            else:  # listing
                links = extract_company_links(html, root=root) + extract_pagination_links(html, root=root)
            for c in _DETAIL_COLS:
                out[c].append(fields[c])
            out["emails"].append(emails)
            out["out_links"].append(links)
            # the byte-identity invariant: re-derived page text for every url
            out["text"].append(extract_text(html, root=root))
        frame = pd.DataFrame(out)
        for c in pdf.columns:
            if c not in _INPUT_COLS:
                frame[c] = pdf[c].to_numpy()
        yield frame


def fused_extract(df: DataFrame, passthrough: dict[str, str] | None = None) -> DataFrame:
    """The crawl's one extraction stage: a single ``mapInPandas`` over a
    DataFrame that has (url_hash, canon_url, kind, url_type, html) plus
    optional passthrough columns (name → spark type) that are echoed into
    the output unchanged — used by the epoch engine to carry frontier
    metadata (industry, depth, ...) through the single Arrow crossing."""
    passthrough = passthrough or {}
    schema = EXTRACT_ALL_SCHEMA + "".join(f", {c} {t}" for c, t in passthrough.items())
    return df.select(*_INPUT_COLS, *passthrough).mapInPandas(_extract_batch, schema)


def classify_urls(df: DataFrame, directory_host: str = "1900.example.vn") -> DataFrame:
    """The URL classifier (corpus conventions; cf. 1900comvn.yml:33): adds
    ``kind`` (detail | listing | contact) and, for contact urls, the
    ``url_type`` (facebook | website) from ``canon_url`` and ``host``."""
    is_detail = F.col("canon_url").contains("-tong-quan")
    is_listing = F.col("host") == F.lit(directory_host)
    return df.withColumn(
        "kind",
        F.when(is_detail, "detail").when(is_listing, "listing").otherwise("contact"),
    ).withColumn(
        "url_type",
        F.when(F.col("kind") != "contact", F.lit(None).cast("string"))
        .when(F.col("host").contains("facebook.com"), "facebook")
        .otherwise("website"),
    )


def kind_priority() -> Column:
    """Scheduling priority as a pure function of ``kind``: listings drain
    before details before contacts, mirroring the reference's phase order
    (main.py:661-697)."""
    return F.when(F.col("kind") == "listing", 0).when(F.col("kind") == "detail", 1).otherwise(2)


def schedule_and_extract(
    spark: SparkSession,
    pages: DataFrame,
    hosts: DataFrame,
    epoch_seconds: float = 1e9,
    directory_host: str = "1900.example.vn",
) -> DataFrame:
    """The full steady-state pass: canonicalize+hash → keep-oldest dedup →
    :func:`schedule_decisions` → fused extract.

    Shuffle discipline (the 100 TB concern): the whole scheduling chain runs
    on a NARROW projection (hash/host/ts — ~40 bytes/row) through exactly
    ONE exchange — an explicit repartition on ``host``, which satisfies the
    clustering the keep-oldest dedup agg (grouping on the superset
    (host, url_hash)), the per-host pending-count window, and the politeness
    rank window all require, so Catalyst inserts no further shuffles.  The
    wide ``html`` payload never enters any of them: the budget-bounded
    scheduled key set — two longs per row — is broadcast back onto the page
    scan, which streams file-split-parallel straight into the Arrow
    extraction stage.  (Round-1 shape paid three exchanges plus a 4-column
    broadcast; round-0 shuffled html through the windows — 8× slower and it
    inverted the N→4N scaling.)"""
    # F5 html-validity gate (detail_crawler.py:39): ≤100-byte pages are not
    # real pages and never enter scheduling or extraction
    idx = with_url_hash(pages.filter(F.length("html") > 100), "url")
    meta = idx.select("url_hash", "canon_url", "host", "warc_ts")
    # the scheduling chain's ONE exchange
    meta = meta.repartition(spark.sparkContext.defaultParallelism, "host")
    dd = dedup_keep_first_agg(meta, ["host", "url_hash"], ["warc_ts", "canon_url"], [])
    decided = schedule_decisions(dd, hosts, epoch_seconds, directory_host)
    keys = decided.filter(F.col("decision") == "scheduled").select("url_hash", "warc_ts")
    fetched = idx.select("url_hash", "canon_url", "host", "warc_ts", "html").join(
        F.broadcast(keys), on=["url_hash", "warc_ts"], how="inner"
    )
    return fused_extract(classify_urls(fetched, directory_host))


def schedule_decisions(
    pages_meta: DataFrame,
    hosts: DataFrame,
    epoch_seconds: float = 1e9,
    directory_host: str = "1900.example.vn",
) -> DataFrame:
    """The SCHEDULING chain: classify → kind-derived priority →
    politeness/robots decide (whose windows share ONE exchange on
    ``host``).  Input is the narrow (url_hash, canon_url, host) projection;
    output is the frontier annotated with ``decision``
    (scheduled | deferred | disallowed), ``kind`` and ``url_type``.

    :func:`schedule_and_extract`, :func:`schedule_and_extract_bucketed`
    (the bench headline job) and q34's decision-counts oracle branch all
    call THIS function, so the production scheduler's decisions stay
    pinned by the driver's DuckDB parity gate as the plan evolves."""
    meta = classify_urls(pages_meta, directory_host).withColumn(
        "priority", kind_priority()
    ).withColumn("retry_count", F.lit(0))
    # no pre-repartition (r7): politeness_decide's pending-count and rank
    # windows share ONE exchange of the frontier on host, so an explicit
    # repartition on host before them only added a second one.
    return politeness_decide(meta, hosts, epoch_seconds=epoch_seconds)


def schedule_and_extract_bucketed(
    spark: SparkSession,
    table_name: str,
    hosts: DataFrame,
    epoch_seconds: float = 1e9,
    directory_host: str = "1900.example.vn",
    sample_mod: int | None = None,
) -> DataFrame:
    """The steady-state pass over a BUCKETED page store
    (plans/pagestore.py) — the no-broadcast 10^10-scale shape:

    * the store is already canonicalized, deduped keep-oldest, and
      length-gated at write time, so the scheduling chain starts straight
      from a narrow (url_hash, host, warc_ts) column-pruned scan;
    * the fetch join needs NO broadcast and NO exchange on the pages side:
      the scheduled key set — one long per row — shuffles into the store's
      bucket layout and probes per bucket, streaming the wide ``html`` rows
      from the bucketed scan directly into the Arrow extraction stage.

    Versus the broadcast path this removes the driver-side hashed-relation
    build, whose cost grows with the schedule size and does not parallelize
    with executors — exactly the term that erodes N→4N scaling efficiency
    once an epoch schedules 10^6+ URLs.

    ``sample_mod`` keeps a deterministic ~1/mod hash sample of the store —
    a distributed warm-up subset that still touches every bucket (a
    ``limit()`` would collapse to one task)."""
    pages = spark.table(table_name)
    if sample_mod is not None:
        pages = pages.filter(F.pmod(F.xxhash64("url_hash"), F.lit(sample_mod)) == 0)
    decided = schedule_decisions(
        pages.select("url_hash", "canon_url", "host"), hosts,
        epoch_seconds=epoch_seconds, directory_host=directory_host,
    )
    keys = decided.filter(F.col("decision") == "scheduled").select("url_hash")
    return fused_extract(classify_urls(fetch_join_bucketed(pages, keys), directory_host))
