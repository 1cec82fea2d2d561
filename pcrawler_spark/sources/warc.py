"""WARC source/sink — the page store's interchange format with the wider
crawl ecosystem (Common Crawl, wget/wpull, Heritrix all speak WARC).

Unlike the Excel ops-tool sink (driver-side by documented design —
sources/excel.py), WARC is a WEB-SCALE format, so both directions stay
distributed:

* **sink**: one WARC file per partition (``part-<partition>.warc``),
  written executor-side inside ``mapInPandas`` — no collect, no shuffle;
  the returned (path, n_records) frame is the manifest.  At 100 TB this
  is exactly Common Crawl's own layout: many ~1 GB WARC shards, one
  writer task each.
* **source**: ``binaryFile`` scan (one file = one input row = one parse
  task) + the pure-Python Content-Length-framed kernel
  (``kernels/warc.py``) behind ``mapInPandas``.  WARC's sequential
  framing makes the FILE the parallelism unit — which is why crawl
  archives are sharded into many files to begin with; a million-shard
  archive fans out to a million tasks with no further splitting needed.

Python is unavoidable here (byte-level framing is not expressible in
Catalyst), but it crosses the Arrow boundary once per FILE, not per row.
"""

from __future__ import annotations

import os
from typing import Iterator

import pandas as pd
from pyspark import TaskContext
from pyspark.sql import DataFrame, SparkSession

from ..kernels.warc import build_warc, build_warc_gz, parse_warc, parse_warc_gz


def write_warc(df: DataFrame, out_dir: str, uri_col: str = "url",
               date_col: str = "warc_date", payload_col: str = "html",
               compress: bool = False) -> DataFrame:
    """Write (uri, date, payload-string) rows as WARC shards, one file per
    partition.  Returns the manifest (warc_path, n_records) — count it to
    materialize the write.  Payload strings are encoded UTF-8 (WARC
    Content-Length counts octets).  ``compress=True`` writes ``.warc.gz``
    in Common Crawl's member-wise-gzip layout (one gzip member per
    record)."""
    sel = df.select(uri_col, date_col, payload_col)

    def _write(batches: Iterator[pd.DataFrame]) -> Iterator[pd.DataFrame]:
        recs = []
        for pdf in batches:
            for uri, date, payload in pdf.itertuples(index=False):
                recs.append((uri, date, str(payload).encode("utf-8")))
        if not recs:
            return
        # commit protocol: the shard is named by partition, so a retried or
        # speculative attempt replaces it instead of adding a duplicate; each
        # attempt writes a "."-prefixed temp file (file listings skip it)
        # and renames it into place atomically
        ctx = TaskContext.get()
        name = f"part-{ctx.partitionId():05d}.{'warc.gz' if compress else 'warc'}"
        path = os.path.join(out_dir, name)
        tmp = os.path.join(out_dir, f".{name}.{ctx.taskAttemptId()}.tmp")
        with open(tmp, "wb") as f:
            f.write(build_warc_gz(recs) if compress else build_warc(recs))
        os.replace(tmp, path)
        yield pd.DataFrame({"warc_path": [path], "n_records": [len(recs)]})

    os.makedirs(out_dir, exist_ok=True)
    return sel.mapInPandas(_write, schema="warc_path string, n_records long")


def read_warc(spark: SparkSession, path: str) -> DataFrame:
    """WARC shards → (warc_path, url, warc_date, html).  One parse task
    per file via the binaryFile source; payloads decode as UTF-8."""
    files = spark.read.format("binaryFile").load(path)

    def _parse(batches: Iterator[pd.DataFrame]) -> Iterator[pd.DataFrame]:
        for pdf in batches:
            paths, urls, dates, htmls = [], [], [], []
            for p, content in zip(pdf["path"], pdf["content"]):
                blob = bytes(content)
                # gzip magic → member-wise .warc.gz (mixed dirs are fine:
                # detection is per file, not per extension)
                reader = parse_warc_gz if blob[:2] == b"\x1f\x8b" else parse_warc
                for uri, date, payload in reader(blob):
                    paths.append(p)
                    urls.append(uri)
                    dates.append(date)
                    htmls.append(payload.decode("utf-8"))
            yield pd.DataFrame(
                {"warc_path": paths, "url": urls,
                 "warc_date": dates, "html": htmls})

    return files.select("path", "content").mapInPandas(
        _parse, schema="warc_path string, url string, warc_date string, html string")
