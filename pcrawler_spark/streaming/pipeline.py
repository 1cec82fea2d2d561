"""Structured Streaming front-end for the crawl pipeline.

The reference is batch-incremental (Celery polling loops, SURVEY.md §2.10);
its streaming-equivalent semantics map onto Structured Streaming directly:

* a ``pages`` directory is consumed as a file stream (new parquet drops =
  newly fetched captures — the WARC-ingest shape);
* extraction reuses the exact same fused kernel stage as the batch engine;
* ``foreachBatch`` commits each micro-batch through the same idempotent
  anti-join-then-append discipline the epoch engine uses (micro-batch id =
  epoch), so batch and streaming share one state layout;
* event-time windowed fetch metrics with a watermark handle late captures.

Run with ``trigger(availableNow=True)`` for catch-up batch semantics or a
processing-time trigger for continuous tailing.
"""

from __future__ import annotations

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F

from ..functions.udfs import with_url_hash
from ..plans.singlepass import classify_urls, fused_extract

PAGES_SCHEMA = "url string, warc_ts timestamp, html binary, text string, lang string"


def read_pages_stream(spark: SparkSession, input_dir: str,
                      max_files_per_trigger: int = 16) -> DataFrame:
    return (
        spark.readStream.schema(PAGES_SCHEMA)
        .option("maxFilesPerTrigger", max_files_per_trigger)
        .parquet(input_dir)
    )


def extract_stream(pages_stream: DataFrame,
                   directory_host: str = "1900.example.vn") -> DataFrame:
    """Streaming variant of the fused extract: same kernels, same schema."""
    return fused_extract(classify_urls(with_url_hash(pages_stream, "url"), directory_host))


def fetch_metrics_stream(pages_stream: DataFrame,
                         window: str = "1 hour",
                         watermark: str = "2 hours",
                         directory_host: str = "1900.example.vn") -> DataFrame:
    """Event-time windowed fetch counters with late-data watermark."""
    idx = classify_urls(with_url_hash(pages_stream, "url"), directory_host)
    return (
        idx.withWatermark("warc_ts", watermark)
        .groupBy(F.window("warc_ts", window), "kind")
        .agg(
            F.count("*").alias("n_pages"),
            # exact distinct is unsupported in streaming aggs; HLL sketch
            F.approx_count_distinct("host").alias("n_hosts"),
        )
        .select(
            F.col("window.start").alias("window_start"),
            F.col("window.end").alias("window_end"),
            "kind", "n_pages", "n_hosts",
        )
    )


def admit_with_host_quota(urls_stream: DataFrame, quota: int) -> DataFrame:
    """Custom STATEFUL streaming operator (``applyInPandasWithState``): a
    per-host admission quota that persists ACROSS micro-batches — the
    streaming analogue of the reference's per-host politeness budget
    (detail_crawler.py:28 sleeps → here: at most ``quota`` URLs ever
    admitted per host, no matter how many batches deliver candidates).

    State = one long per host (admitted-so-far).  Within a batch candidates
    are admitted in canonical URL order (deterministic under replay); output
    rows carry the 1-based admission sequence number.
    """
    import pandas as pd
    from pyspark.sql.streaming.state import GroupState, GroupStateTimeout

    def admit(key, pdfs, state: GroupState):
        (host,) = key
        n = state.get[0] if state.exists else 0
        out_urls, out_seq = [], []
        urls: list[str] = []
        for pdf in pdfs:
            urls.extend(pdf["canon_url"].tolist())
        for u in sorted(urls):
            if n >= quota:
                break
            n += 1
            out_urls.append(u)
            out_seq.append(n)
        state.update((n,))
        yield pd.DataFrame({
            "host": [host] * len(out_urls),
            "canon_url": out_urls,
            "admitted_seq": out_seq,
        })

    return urls_stream.groupBy("host").applyInPandasWithState(
        admit,
        outputStructType="host string, canon_url string, admitted_seq long",
        stateStructType="n_admitted long",
        outputMode="append",
        timeoutConf=GroupStateTimeout.NoTimeout,
    )


def run_extract_to_parquet(spark: SparkSession, input_dir: str, output_dir: str,
                           checkpoint_dir: str, available_now: bool = True):
    """Stream pages → fused extraction → parquet sink with EFFECTIVE
    exactly-once output on top of foreachBatch's at-least-once contract:

    * each micro-batch writes to its own ``batch_id=<k>`` partition dir with
      mode('overwrite') — a replayed batch (crash between sink write and
      checkpoint commit) overwrites its own output instead of appending
      duplicate rows;
    * a url_hash arriving again in a LATER batch is dropped by an anti-join
      against a compact ``_seen(url_hash)`` side table maintained per batch
      (same discipline as the epoch engine's frontier ∖ seen) — NOT by
      re-reading every committed wide output partition: at scale that scan
      grows with total output while the seen table is one slim column;
    * only the specific nothing-committed-yet condition (PATH_NOT_FOUND) is
      tolerated when reading the seen table — any other read failure
      (transient FS error, corrupt footer) fails the batch so the stream's
      checkpoint retries it instead of silently disabling dedup.

    The ``_seen`` dir's underscore prefix makes it invisible to parquet
    readers of ``output_dir`` (Hadoop hides ``_``-prefixed paths), so
    consumers see only the wide batch partitions.

    Upgrade path (ADVICE r3): an ``output_dir`` written before the
    ``_seen`` side table existed has committed ``batch_id=*`` partitions
    but no ``_seen`` dir — restarting dedup from empty would re-emit every
    pre-upgrade url_hash.  On the first PATH_NOT_FOUND the committed
    output is backfilled ONCE into ``_seen`` (url_hash projected per batch
    partition), then every later batch reads only the slim table.
    """
    from pyspark.errors import AnalysisException

    out = extract_stream(read_pages_stream(spark, input_dir))
    seen_root = f"{output_dir}/_seen"

    def backfill_seen(sp: SparkSession):
        try:
            committed = sp.read.option("basePath", output_dir).parquet(output_dir)
        except AnalysisException as e:
            if e.getCondition() != "PATH_NOT_FOUND":
                raise
            return None  # genuinely fresh stream — nothing committed yet
        (
            committed.select("url_hash", "batch_id")
            .write.partitionBy("batch_id").mode("overwrite").parquet(seen_root)
        )
        return sp.read.option("basePath", seen_root).parquet(seen_root)

    def commit(batch_df: DataFrame, batch_id: int) -> None:
        sp = batch_df.sparkSession
        batch_df = batch_df.dropDuplicates(["url_hash"])
        try:
            seen = sp.read.option("basePath", seen_root).parquet(seen_root)
        except AnalysisException as e:
            if e.getCondition() != "PATH_NOT_FOUND":
                raise  # genuine storage/schema error → let the batch retry
            seen = backfill_seen(sp)  # pre-upgrade output → one-time backfill
        prior = (
            # a replayed batch must not anti-join against its own rows
            seen.filter(F.col("batch_id") != batch_id).select("url_hash")
            if seen is not None else None
        )
        if prior is not None:
            batch_df = batch_df.join(prior, on="url_hash", how="left_anti")
        batch_df.persist()
        batch_df.write.mode("overwrite").parquet(f"{output_dir}/batch_id={batch_id}")
        (
            batch_df.select("url_hash")
            .write.mode("overwrite").parquet(f"{seen_root}/batch_id={batch_id}")
        )
        batch_df.unpersist()

    writer = out.writeStream.foreachBatch(commit).option("checkpointLocation", checkpoint_dir)
    if available_now:
        writer = writer.trigger(availableNow=True)
    return writer.start()


def run_neardup_stream(spark: SparkSession, input_dir: str, output_dir: str,
                       checkpoint_dir: str, n_hashes: int = 8,
                       band_rows: int = 2, available_now: bool = True):
    """Incremental near-duplicate detection over a document stream — the
    streaming face of the batch MinHash-LSH dedup (operators/simdedup.py):

    * each micro-batch's documents are MinHash-banded
      (``minhash_bands``) and probe the accumulated ``_bands`` store plus
      the batch's own bands; a doc that collides with a LOWER doc_id
      (earlier original or smaller in-batch id) is flagged
      ``is_dup=true, dup_of=<min colliding id>``;
    * only ORIGINALS' bands enter the store, so the store grows with the
      deduped corpus, not the raw stream, and a dup chain always points at
      its canonical root's cluster representative set;
    * exactly-once via the same discipline as :func:`run_extract_to_parquet`
      — per-batch ``batch_id=<k>`` overwrite partitions for both the
      flagged output and the band store, narrow PATH_NOT_FOUND tolerance.

    Input: a parquet dir of (doc_id long, text string) files streamed with
    ``maxFilesPerTrigger``-style batching.  Output rows:
    (doc_id, is_dup boolean, dup_of long — null for originals).
    """
    from pyspark.errors import AnalysisException

    from pcrawler_spark.operators.simdedup import minhash_bands

    docs = (
        spark.readStream.schema("doc_id long, text string")
        .option("maxFilesPerTrigger", 1)
        .parquet(input_dir)
    )
    bands_root = f"{output_dir}/_bands"
    keys = ["band"] + [f"mh_{r}" for r in range(band_rows)]

    def commit(batch_df: DataFrame, batch_id: int) -> None:
        sp = batch_df.sparkSession
        batch_df = batch_df.dropDuplicates(["doc_id"])
        bands = minhash_bands(batch_df, n_hashes, band_rows).persist()
        try:
            prior = (
                sp.read.option("basePath", bands_root).parquet(bands_root)
                .filter(F.col("batch_id") != batch_id)  # replay safety
                .select("doc", *keys)
            )
        except AnalysisException as e:
            if e.getCondition() != "PATH_NOT_FOUND":
                raise
            prior = None
        cand = bands.alias("a").join(bands.alias("b"), on=keys).filter(
            F.col("a.doc") > F.col("b.doc")
        ).select(F.col("a.doc").alias("doc"), F.col("b.doc").alias("hit"))
        if prior is not None:
            cand = cand.unionByName(
                bands.alias("a").join(prior.alias("p"), on=keys)
                .select(F.col("a.doc").alias("doc"), F.col("p.doc").alias("hit"))
            )
        dup_of = cand.groupBy("doc").agg(F.min("hit").alias("dup_of"))
        flagged = (
            batch_df.join(dup_of, batch_df["doc_id"] == dup_of["doc"], "left")
            .select(
                "doc_id",
                F.col("dup_of").isNotNull().alias("is_dup"),
                "dup_of",
            )
            .persist()
        )
        flagged.write.mode("overwrite").parquet(f"{output_dir}/batch_id={batch_id}")
        originals = flagged.filter(~F.col("is_dup")).select(F.col("doc_id").alias("doc"))
        (
            bands.join(originals, on="doc", how="left_semi")
            .write.mode("overwrite").parquet(f"{bands_root}/batch_id={batch_id}")
        )
        flagged.unpersist()
        bands.unpersist()

    writer = docs.writeStream.foreachBatch(commit).option(
        "checkpointLocation", checkpoint_dir)
    if available_now:
        writer = writer.trigger(availableNow=True)
    return writer.start()
