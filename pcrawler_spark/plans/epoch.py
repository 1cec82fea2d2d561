"""The crawl engine: frontier → politeness schedule → fetch → extract →
atomic epoch commit, looping until the frontier drains (SURVEY.md §7.1).

One epoch is one batch job.  The reference's six Celery phases collapse into
a single dataflow evaluated per epoch; phases emerge naturally from URL
depth (listing pages are fetched first because seeds point at them, detail
pages next, contact pages last — the same wave structure as
app/main.py:661-697 without any orchestration code).

Scale notes (10^10-URL design point):
* frontier/seen live in the epoch catalog partitioned by epoch; pending is
  ``frontier ∖ seen`` — one anti-join shuffle on the 64-bit hash, no state
  mutation ever (S10 → append-only; SURVEY.md §7.4.5).
* the scheduled set per epoch is budget-bounded by politeness.  The fetch
  join broadcasts it onto the page store only while it is at most
  ``_BROADCAST_MAX_SCHEDULED`` rows, and otherwise leaves the join to a
  shuffle plan; on a bucketed page store the keys shuffle into the bucket
  layout instead (``pagestore.fetch_join_bucketed``) and nothing is
  broadcast.
* extraction is ONE fused Arrow pass (``singlepass.fused_extract``) over
  the fetch join's output partitions, with no repartition before it.
* a deterministic "flaky fetch" simulator exercises the retry path
  (reference: 4 retries with backoff, tasks.py:204-268 → here: priority
  demotion via retry_count, re-scheduled next epoch).
"""

from __future__ import annotations

import time
from dataclasses import dataclass

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F
from pyspark.sql import types as T

from ..functions.udfs import with_url_hash
from .singlepass import classify_urls, fused_extract, kind_priority
from ..operators.dedup import dedup_keep_first, dedup_keep_last
from ..operators.politeness import politeness_decide
from ..operators.seen import anti_join_seen
from ..operators.export import export_contacts
from .catalog import EpochCatalog
from .pagestore import fetch_join_bucketed

# fetch-join strategy: the scheduled key set is broadcast onto the page scan
# only while its row count stays under this bound — beyond it the join falls
# back to a shuffle plan (or the bucketed page store at real scale) instead
# of OOMing the executors with a giant broadcast map
_BROADCAST_MAX_SCHEDULED = 4_000_000

FRONTIER_SCHEMA = T.StructType([
    T.StructField("url_hash", T.LongType()),
    T.StructField("canon_url", T.StringType()),
    T.StructField("host", T.StringType()),
    T.StructField("kind", T.StringType()),        # listing | detail | contact
    T.StructField("url_type", T.StringType()),    # website | facebook (contact)
    T.StructField("priority", T.IntegerType()),
    T.StructField("depth", T.IntegerType()),
    T.StructField("contact_depth", T.IntegerType()),  # hops inside a contact site (deep email crawl)
    T.StructField("industry", T.StringType()),
    T.StructField("company_name", T.StringType()),
    T.StructField("retry_count", T.IntegerType()),
    T.StructField("epoch_added", T.IntegerType()),
])

SEEN_SCHEMA = T.StructType([
    T.StructField("url_hash", T.LongType()),
    T.StructField("first_epoch", T.IntegerType()),
    T.StructField("reason", T.StringType()),      # fetched | disallowed | missing | gave_up
])


@dataclass
class CrawlRunConfig:
    state_dir: str
    directory_host: str = "1900.example.vn"
    epoch_seconds: float = 60.0
    max_epochs: int = 50
    max_retries: int = 4
    simulate_flaky_rate: float = 0.0   # deterministic first-attempt failures
    # circuit breaker (reference: app/utils/circuit_breaker.py:52-92 —
    # CLOSED/OPEN/HALF_OPEN per resource): a host with ≥ threshold failures
    # in an epoch is OPEN (skipped) for the next `cooldown` epochs, then
    # half-open (scheduled again)
    breaker_threshold: int = 3
    breaker_cooldown_epochs: int = 1
    # best-first deep email crawl (email_extractor.py:149-225): follow
    # keyword-scored links from contact landing pages up to this depth
    # (0 disables frontier expansion from contact pages)
    contact_max_depth: int = 1
    # merge seen/frontier epoch dirs every k worked epochs (None = never):
    # long crawls otherwise accrue one directory per epoch and the
    # per-epoch scheduling scan degrades into a file-listing storm
    compact_every: int | None = None
    # two-phase salted politeness rank (north_rule host-skew defusal): set
    # to ~cluster-cores when a mega-host's pending set outgrows one task's
    # sort; None keeps the single-exchange scheduling plan
    salted_rank_partitions: int | None = None


class CrawlEngine:
    def __init__(self, spark: SparkSession, pages: DataFrame | str, hosts: DataFrame,
                 cfg: CrawlRunConfig):
        self.spark = spark
        self.cfg = cfg
        self.catalog = EpochCatalog(spark, cfg.state_dir)
        self.hosts = hosts
        if isinstance(pages, str):
            # name of a BUCKETED page-store table (plans/pagestore.py —
            # already canonicalized, deduped, length-gated at write time).
            # The fetch join then needs neither a broadcast nor any exchange
            # on the pages side: the scheduled keys shuffle into the bucket
            # layout instead (the 10^10-scale path)
            self.bucketed = True
            self.pages_idx = spark.table(pages).select(
                "url_hash", "canon_url", "host", "html", "warc_ts", "lang"
            )
        else:
            self.bucketed = False
            # index the page store once: canonical url + hash, keep-oldest
            # per url (D2 dedup of duplicate captures), persisted across
            # epochs.  F5 validity gate (detail_crawler.py:39,
            # contact_crawler.py:127): a fetch with ≤100 bytes of html is
            # not a page — such URLs fall through to the 'missing'
            # seen-reason instead of being extracted
            idx = with_url_hash(pages.filter(F.length("html") > 100), "url")
            idx = dedup_keep_first(idx, ["url_hash"], "warc_ts", tiebreak=["canon_url"])
            self.pages_idx = idx.select(
                "url_hash", "canon_url", "host", "html", "warc_ts", "lang"
            ).persist()

    # ---- bootstrap ---------------------------------------------------------

    def init_frontier(self, seeds: DataFrame) -> None:
        """Epoch -0 commit: seeds become the initial frontier."""
        f = with_url_hash(seeds, "url")
        f = classify_urls(f, self.cfg.directory_host).select(
            "url_hash", "canon_url", "host", "kind", "url_type",
            F.coalesce(F.col("priority"), F.lit(0)).cast("int").alias("priority"),
            F.lit(0).alias("depth"),
            F.lit(0).alias("contact_depth"),
            F.col("industry"),
            F.lit(None).cast("string").alias("company_name"),
            F.lit(0).alias("retry_count"),
            F.lit(0).alias("epoch_added"),
        )
        self.catalog.write_epoch(0, {"frontier": f}, metadata={"phase": "bootstrap"})

    # ---- one epoch ---------------------------------------------------------

    def _worked_epochs(self) -> list[int]:
        """Catalog epoch numbers of actual CRAWL epochs — bootstrap and
        compaction commits consume epoch numbers but do no crawl work, so
        bounds expressed 'in epochs' (max_epochs, breaker cooldown) must not
        count them."""
        out = []
        for e in self.catalog.committed_epochs():
            md = self.catalog.manifest(e).get("metadata", {})
            if md.get("compaction") or md.get("phase") == "bootstrap":
                continue
            out.append(e)
        return out

    def _pending(self) -> DataFrame | None:
        frontier = self.catalog.read("frontier")
        if frontier is None:
            return None
        frontier = frontier.drop("epoch")
        seen = self.catalog.read("seen")
        pending = frontier if seen is None else anti_join_seen(frontier, seen.drop("epoch"))
        # rediscovered urls keep one row; retried rows win (highest retry_count
        # → demoted in the politeness order), ties broken by earliest epoch
        return dedup_keep_last(pending, ["url_hash"], "retry_count", tiebreak=["epoch_added"])

    def run_epoch(self, epoch: int) -> dict | None:
        t0 = time.time()
        cfgc = self.cfg
        pending = self._pending()
        if pending is None:
            return None

        # ONE plan annotates every pending row with its fate; every metric
        # below comes from a single groupBy('decision') action instead of
        # the round-1 engine's 8 count jobs per epoch.  Pending rows were
        # classified and prioritised when inserted (classify_urls +
        # kind_priority, as in schedule_decisions) and carry real
        # retry_counts, so they enter the decide step directly
        decided = politeness_decide(
            pending, self.hosts, epoch_seconds=cfgc.epoch_seconds,
            salted_rank_partitions=cfgc.salted_rank_partitions,
        )

        # circuit breaker: hosts that tripped in the cooldown window are
        # OPEN — their urls sit out this epoch (stay pending, no seen rows).
        # the window is counted in WORKED epochs (failures are only recorded
        # on those), so an intervening compaction commit — which consumes a
        # catalog epoch number — cannot silently shorten the cooldown
        breaker = self.catalog.read("breaker")
        if breaker is not None and cfgc.breaker_threshold > 0:
            recent_worked = self._worked_epochs()[-cfgc.breaker_cooldown_epochs:]
            window_start = min(recent_worked) if recent_worked else epoch
            open_hosts = (
                breaker.drop("epoch")
                .filter(
                    (F.col("n_failures") >= cfgc.breaker_threshold)
                    & (F.col("fail_epoch") >= window_start)
                )
                .select("host").distinct()
                .withColumn("_open", F.lit(True))
            )
            decided = (
                decided.join(F.broadcast(open_hosts), on="host", how="left")
                .withColumn(
                    "decision",
                    F.when(
                        (F.col("decision") == "scheduled") & F.col("_open"),
                        F.lit("breaker"),
                    ).otherwise(F.col("decision")),
                )
                .drop("_open")
            )

        # deterministic flaky-fetch simulation: fail first attempts by hash
        if cfgc.simulate_flaky_rate > 0:
            flaky = (
                F.pmod(F.xxhash64("url_hash", F.lit(1234)), F.lit(10_000))
                < F.lit(int(cfgc.simulate_flaky_rate * 10_000))
            ) & (F.col("retry_count") < F.lit(1))
            decided = decided.withColumn(
                "decision",
                F.when((F.col("decision") == "scheduled") & flaky, F.lit("flaky"))
                .otherwise(F.col("decision")),
            )

        decided = decided.persist()
        # ---- metric action 1 of 2: all scheduling counters at once --------
        counts = {r["decision"]: r["count"] for r in decided.groupBy("decision").count().collect()}
        urls_pending = sum(counts.values())
        n_scheduled = counts.get("scheduled", 0)
        n_deferred = counts.get("deferred", 0)
        n_disallowed = counts.get("disallowed", 0)
        n_breaker_deferred = counts.get("breaker", 0)
        n_failed = counts.get("flaky", 0)
        if urls_pending == 0 or (
            n_scheduled == 0 and n_failed == 0
            and n_breaker_deferred == 0 and n_disallowed == 0
        ):
            # empty frontier, or nothing schedulable and nothing that will
            # unblock by waiting
            decided.unpersist()
            return None

        attempt = decided.filter(F.col("decision") == "scheduled")
        failed_now = decided.filter(F.col("decision") == "flaky") if n_failed else None
        disallowed = decided.filter(F.col("decision") == "disallowed")

        # fetch = hash-join against the page store; the politeness budget
        # bounds the scheduled side, so broadcast it while it is provably
        # small (count from metric action 1 — no extra job) and fall back to
        # a shuffle plan beyond the gate instead of OOMing on a giant
        # broadcast map; the 10^10-row page store is never shuffled either way
        att_sel = attempt.select(
            "url_hash", "kind", "url_type", "priority", "depth", "contact_depth",
            F.col("industry").alias("seed_industry"),
            F.col("company_name").alias("seed_company_name"),
            "retry_count",
        )
        if self.bucketed:
            # no broadcast and no pages exchange, whatever the schedule size
            fetched = fetch_join_bucketed(self.pages_idx, att_sel)
        else:
            att_join = (F.broadcast(att_sel) if n_scheduled <= _BROADCAST_MAX_SCHEDULED
                        else att_sel)
            fetched = self.pages_idx.join(att_join, on="url_hash", how="inner")
        # ONE fused Arrow pass: shared DOM parse feeds detail/email/link/text
        # kernels per url kind; frontier metadata rides through as passthrough
        ext = fused_extract(
            fetched,
            passthrough={
                "host": "string", "lang": "string", "warc_ts": "timestamp",
                "seed_industry": "string", "seed_company_name": "string",
                "depth": "int", "contact_depth": "int",
            },
        ).persist()
        # ---- metric action 2 of 2: per-kind output counters ---------------
        kind_counts = {r["kind"]: r["count"] for r in ext.groupBy("kind").count().collect()}
        n_fetched = sum(kind_counts.values())
        n_records = kind_counts.get("detail", 0)
        missing = att_sel.join(ext.select("url_hash"), "url_hash", "left_anti")

        details = ext.filter(F.col("kind") == "detail").select(
            "url_hash", "canon_url", "host", "lang", "warc_ts", "seed_industry",
            "company_name", "address", "phone", "website", "facebook",
            "linkedin", "tiktok", "youtube", "instagram", "industry",
            "created_year", "revenue", "scale", "text",
            F.lit(epoch).alias("epoch_fetched"),
        )

        emails = ext.filter(F.col("kind") == "contact").select(
            "url_hash", "canon_url", "url_type",
            F.col("seed_company_name").alias("company_name"), "emails",
            F.when(F.size("emails") > 0, F.lit(0.9)).otherwise(F.lit(0.0)).alias("confidence_score"),
            F.lit(epoch).alias("epoch_fetched"),
        )

        # frontier expansion: listing pages yield company + pagination links
        # (list_crawler.py:342-394, :330-340), detail pages yield their
        # website/facebook contact urls, and contact pages yield their
        # keyword-scored best-first links (email_extractor.py:149-225) up to
        # contact_max_depth — contact subpages inherit the company so their
        # emails join back to it
        expandable = (F.col("kind") != "contact") | (
            F.col("contact_depth") < F.lit(cfgc.contact_max_depth)
        )
        new_links = (
            ext.filter(expandable & (F.size(F.coalesce("out_links", F.array())) > 0))
            .select(
                F.explode("out_links").alias("url"),
                (F.col("depth") + 1).alias("depth"),
                # contact children of a contact page are one hop deeper into
                # the site; contact landing pages (children of details) start
                # at 0; non-contact children reset
                F.when(F.col("kind") == "contact", F.col("contact_depth") + 1)
                .otherwise(F.lit(0)).alias("contact_depth"),
                F.col("seed_industry").alias("industry"),
                F.when(F.col("kind") == "detail", F.col("company_name"))
                .when(F.col("kind") == "contact", F.col("seed_company_name"))
                .otherwise(F.lit(None).cast("string")).alias("company_name"),
            )
        )
        new_frontier = classify_urls(
            with_url_hash(new_links, "url"), cfgc.directory_host
        ).select(
            "url_hash", "canon_url", "host", "kind", "url_type",
            kind_priority().alias("priority"),
            F.col("depth").cast("int"),
            F.col("contact_depth").cast("int"),
            "industry", "company_name",
            F.lit(0).alias("retry_count"),
            F.lit(epoch).alias("epoch_added"),
        ).dropDuplicates(["url_hash"])

        # failed fetches: retries go back to the frontier with demoted
        # order; attempts beyond max_retries are permanently RETIRED with a
        # 'gave_up' seen row — without it the URL would stay pending forever
        # and be rescheduled every epoch (livelock under persistent failures)
        gave_up = None
        breaker_rows = None
        if failed_now is not None:
            breaker_rows = (
                failed_now.groupBy("host")
                .agg(F.count("*").alias("n_failures"))
                .withColumn("fail_epoch", F.lit(epoch))
            )
            bumped = failed_now.select(
                "url_hash", "canon_url", "host", "kind", "url_type",
                "priority", "depth", "contact_depth", "industry", "company_name",
                (F.col("retry_count") + 1).cast("int").alias("retry_count"),
                F.lit(epoch).alias("epoch_added"),
            )
            retries = bumped.filter(F.col("retry_count") <= cfgc.max_retries)
            gave_up = bumped.filter(F.col("retry_count") > cfgc.max_retries)
            new_frontier = new_frontier.unionByName(retries)

        # seen = fetched ∪ disallowed ∪ missing ∪ gave_up (never re-scheduled)
        def _seen(df: DataFrame, reason: str) -> DataFrame:
            return df.select(
                "url_hash",
                F.lit(epoch).alias("first_epoch"),
                F.lit(reason).alias("reason"),
            )

        seen_rows = (
            _seen(ext, "fetched")
            .unionByName(_seen(disallowed, "disallowed"))
            .unionByName(_seen(missing, "missing"))
        )
        if gave_up is not None:
            seen_rows = seen_rows.unionByName(_seen(gave_up, "gave_up"))

        records_out = details
        n_missing = n_scheduled - n_fetched

        metrics = {
            "epoch": epoch,
            "urls_pending": urls_pending,
            "scheduled": n_scheduled,
            "deferred": n_deferred,
            "disallowed": n_disallowed,
            "fetched": n_fetched,
            "missing": n_missing,
            "failed_flaky": n_failed,
            "breaker_deferred": n_breaker_deferred,
            "records_out": n_records,
        }
        checkpoint = self.spark.createDataFrame(
            [(epoch, urls_pending, n_scheduled, n_deferred, n_disallowed,
              n_fetched, n_failed, n_records, int((time.time() - t0) * 1000),
              f"epoch {epoch}: schedule->fetch->extract->commit")],
            "epoch int, urls_pending long, scheduled long, deferred long, "
            "disallowed long, fetched long, failed long, records_out long, "
            "wall_ms long, lineage string",
        )
        tables = {
            "records": records_out,
            "emails": emails,
            "seen": seen_rows,
            "frontier": new_frontier,
            "checkpoints": checkpoint,
        }
        if breaker_rows is not None:
            tables["breaker"] = breaker_rows
        self.catalog.write_epoch(epoch, tables, metadata=metrics)
        metrics["wall_ms"] = int((time.time() - t0) * 1000)
        decided.unpersist()
        ext.unpersist()
        return metrics

    # ---- full run / resume -------------------------------------------------

    def run(self, seeds: DataFrame | None = None) -> list[dict]:
        """Run to frontier exhaustion.  With an existing state_dir this
        RESUMES from the last committed epoch (killed runs lose at most the
        uncommitted epoch, which is recomputed)."""
        self.catalog.rollback_uncommitted()
        if self.catalog.last_committed_epoch() < 0:
            if seeds is None:
                raise ValueError("fresh run needs seeds")
            self.init_frontier(seeds)
        out = []
        while True:
            # recompute each turn: compaction commits consume epoch numbers,
            # so the epoch NUMBER advances past them — but the max_epochs
            # bound counts WORKED epochs only
            if len(self._worked_epochs()) >= self.cfg.max_epochs:
                break
            epoch = self.catalog.last_committed_epoch() + 1
            m = self.run_epoch(epoch)
            if m is None:
                break
            out.append(m)
            if self.cfg.compact_every and len(out) % self.cfg.compact_every == 0:
                self.catalog.compact(["seen", "frontier"])
        return out

    # ---- outputs -------------------------------------------------------------

    def records(self) -> DataFrame | None:
        return self.catalog.read("records")

    def emails(self) -> DataFrame | None:
        return self.catalog.read("emails")

    def seen(self) -> DataFrame | None:
        return self.catalog.read("seen")

    def checkpoints(self) -> DataFrame | None:
        return self.catalog.read("checkpoints")

    def metrics(self) -> DataFrame | None:
        """Per-epoch lineage + fetch/extract metrics (the snapshots-table
        view of the manifest metadata — catalog.metrics_df)."""
        return self.catalog.metrics_df()

    def export(self) -> DataFrame:
        """Phase-6 export join over the engine's own outputs."""
        records = self.records()
        emails = self.emails()
        company_details = records.select(
            "company_name", F.col("canon_url").alias("company_url"),
            "address", "phone", "website", "facebook", "linkedin", "tiktok",
            "youtube", "instagram", "industry", "created_year", "revenue", "scale",
        )
        detail_pages = records.select(
            F.col("canon_url").alias("url"),
            F.col("seed_industry").alias("industry"),
        )
        # the deep crawl yields one emails row per fetched contact page
        # (landing + keyword-scored subpages); union them per (company,
        # source) — the engine equivalent of the reference's in-task
        # ``list(set(crawling_emails + regex_emails))`` union
        # (email_extractor.py:155-161), under the sorted-array contract
        email_extraction = (
            emails.filter(F.col("company_name").isNotNull())
            .groupBy("company_name", "url_type")
            .agg(F.array_sort(F.array_distinct(F.flatten(F.collect_list("emails")))).alias("emails"))
            .select("company_name", "emails", F.col("url_type").alias("email_source"))
        )
        return export_contacts(company_details, detail_pages, email_extraction)

    def export_csv(self, path: str, max_na_ratio: float = 0.7) -> None:
        """Final CSV sink (reference tasks.py:773-786 fixed-column-order CSV)
        with the N/A-density row gate applied (merge_files.py:50-76)."""
        from ..operators.export import EXPORT_COLUMNS
        from ..operators.qualitygate import na_density_filter

        df = na_density_filter(self.export(), EXPORT_COLUMNS, max_na_ratio)
        df.write.mode("overwrite").option("header", True).csv(path)
