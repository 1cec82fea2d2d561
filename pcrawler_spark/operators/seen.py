"""URL-seen set operators — the core frontier dedup (SURVEY.md J3/J4).

The reference batches ``SELECT url ... WHERE url IN (...)`` probes against
SQLite (db_manager.py:65-105) and relies on a UNIQUE constraint as the final
arbiter (db_manager.py:119-128).  Spark-first equivalent:

* exact dedup = LEFT ANTI join of candidates against the ``seen`` table on
  the 64-bit canonical url hash — one shuffle, no driver involvement;
* a *partitioned Bloom pre-filter* (the north_star's "partitioned
  bloom/cuckoo URL-seen filter"): the seen set is bucketed — by HOST hash
  when the engine recorded a ``host_bucket`` column, else by url-hash mod —
  and each bucket builds its own independently-sized bitmap DISTRIBUTED
  (``applyInPandas`` per bucket group; sizing uses the bucket's actual row
  count).  Only the buckets the epoch's candidates actually reference are
  collected and broadcast.  Candidates that miss their bucket's filter are
  DEFINITELY new and skip the anti-join shuffle entirely; hits go through
  the exact anti-join (a false positive costs a probe, never a lost URL).

Scale math at 10^10 seen URLs: one flat bitmap would be ~12 GB — never
driver-merge that.  With 4096 host buckets each bitmap is ~3 MB, and an
epoch whose politeness budget schedules a few hundred hosts touches a few
hundred buckets → the driver/broadcast payload is bounded by the epoch's
host fan-out, not by the total seen count.

PySpark 4 exposes neither ``df.stat.bloomFilter`` nor ``bloom_filter_agg``
SQL — this implementation is self-contained (numpy + double hashing).
"""

from __future__ import annotations

import math

import numpy as np
import pandas as pd
from pyspark.sql import DataFrame
from pyspark.sql import functions as F

_MASK64 = np.uint64(0xFFFFFFFFFFFFFFFF)

#: bucket count for the partitioned filter; at 10^10 scale raise via config
DEFAULT_N_BUCKETS = 64


def _mix(h: np.ndarray) -> np.ndarray:
    """splitmix64 finalizer — decorrelates the two double-hashing streams."""
    h = h.astype(np.uint64, copy=True)
    h = (h + np.uint64(0x9E3779B97F4A7C15)) & _MASK64
    h ^= h >> np.uint64(30)
    h = (h * np.uint64(0xBF58476D1CE4E5B9)) & _MASK64
    h ^= h >> np.uint64(27)
    h = (h * np.uint64(0x94D049BB133111EB)) & _MASK64
    h ^= h >> np.uint64(31)
    return h


def _bloom_positions(hashes: np.ndarray, m_bits: int, k: int):
    h1 = _mix(hashes)
    h2 = _mix(h1) | np.uint64(1)  # odd → full-period stride
    mod = np.uint64(m_bits)
    for i in range(k):
        yield ((h1 + np.uint64(i) * h2) % mod).astype(np.int64)


def _bitmap_for(hs: np.ndarray, fpp: float) -> tuple[bytes, int, int]:
    """One bucket's bitmap, sized from its ACTUAL row count."""
    n = max(len(hs), 1)
    m_bits = 1 << max(10, math.ceil(math.log2(n * abs(math.log(fpp)) / (math.log(2) ** 2))))
    k = max(1, round((m_bits / n) * math.log(2)))
    bitmap = np.zeros(m_bits // 8, dtype=np.uint8)
    if len(hs):
        for pos in _bloom_positions(hs.view(np.uint64), m_bits, k):
            np.bitwise_or.at(bitmap, pos >> 3, np.uint8(1) << (pos & 7).astype(np.uint8))
    return bitmap.tobytes(), m_bits, k


def seen_host_bucket_col(host_col: str = "host", n_buckets: int = DEFAULT_N_BUCKETS):
    """The column the ENGINE stamps on every seen row so the Bloom build can
    bucket by host without re-deriving it from the hash.  The stamp modulus
    MUST be ``DEFAULT_N_BUCKETS`` for the host-keyed Bloom mode to engage —
    :func:`build_partitioned_bloom` falls back to url-hash-mod bucketing on
    BOTH sides whenever the requested ``n_buckets`` differs, so the two
    sides can never probe misaligned buckets."""
    return F.pmod(F.xxhash64(host_col), F.lit(n_buckets)).cast("int")


def _host_mode(candidates_have_host: bool, seen: DataFrame, n_buckets: int) -> bool:
    """ONE source of truth for the bucketing key.  Host-keyed bucketing is
    only sound when (a) candidates can derive the host bucket, (b) seen rows
    carry the stamped ``host_bucket``, and (c) the requested bucket count
    matches the stamp modulus — otherwise both sides fall back to url-hash
    mod (a mixed-mode probe would treat Bloom misses as definitely-new and
    silently re-crawl seen URLs)."""
    return (
        candidates_have_host
        and "host_bucket" in seen.columns
        and n_buckets == DEFAULT_N_BUCKETS
    )


def build_bloom_buckets(seen: DataFrame, bucket_col, hash_col: str = "url_hash",
                        fpp: float = 0.01) -> DataFrame:
    """DISTRIBUTED per-bucket Bloom build: groupBy(bucket) → applyInPandas
    emits one (bucket, m_bits, k, bitmap) row per bucket.  No driver-side
    merge — each bucket's bitmap is built where its rows live and sized from
    the bucket's own count."""
    def build(pdf: pd.DataFrame) -> pd.DataFrame:
        hs = pdf[hash_col].to_numpy(dtype=np.int64)
        bitmap, m_bits, k = _bitmap_for(hs, fpp)
        return pd.DataFrame({
            "bucket": [int(pdf["_bucket"].iloc[0])],
            "m_bits": [m_bits], "k": [k], "bitmap": [bitmap],
        })

    return (
        seen.select(F.col(hash_col), bucket_col.alias("_bucket"))
        .groupBy("_bucket")
        .applyInPandas(build, "bucket int, m_bits long, k int, bitmap binary")
    )


class PartitionedBloom:
    """Broadcast per-bucket bitmaps plus the bucketing contract they were
    built under.  Reusable across epochs: the engine builds once (ONE driver
    action), then each epoch probes the broadcast and covers post-build seen
    rows with an exact anti-join against only the RECENT epochs (partition-
    pruned) — amortizing the build without ever trusting a stale bitmap."""

    def __init__(self, broadcast, n_buckets: int, host_mode: bool,
                 hash_col: str, built_upto_epoch: int | None = None):
        self.broadcast = broadcast
        self.n_buckets = n_buckets
        self.host_mode = host_mode
        self.hash_col = hash_col
        self.built_upto_epoch = built_upto_epoch

    def unpersist(self) -> None:
        self.broadcast.unpersist()


def build_partitioned_bloom(seen: DataFrame, candidates_have_host: bool = True,
                            hash_col: str = "url_hash",
                            n_buckets: int = DEFAULT_N_BUCKETS,
                            fpp: float = 0.01,
                            built_upto_epoch: int | None = None) -> PartitionedBloom:
    """Build + broadcast all per-bucket filters in ONE driver action.

    Bucket count is bounded (≤ n_buckets rows collected, each an
    independently-sized bitmap), so there is no per-epoch candidate scan to
    learn which buckets are 'needed' — deriving that subset cost a full
    extra pass over the candidate set every epoch."""
    spark = seen.sparkSession
    host_mode = _host_mode(candidates_have_host, seen, n_buckets)
    seen_bucket = (
        F.col("host_bucket").cast("int") if host_mode
        else F.pmod(F.col(hash_col), F.lit(n_buckets)).cast("int")
    )
    blooms = build_bloom_buckets(seen, seen_bucket, hash_col, fpp).collect()
    table = {r["bucket"]: (np.frombuffer(r["bitmap"], dtype=np.uint8), r["m_bits"], r["k"])
             for r in blooms}
    b = spark.sparkContext.broadcast(table)
    return PartitionedBloom(b, n_buckets, host_mode, hash_col, built_upto_epoch)


def apply_bloom(candidates: DataFrame, bloom: PartitionedBloom) -> DataFrame:
    """Adds ``_maybe_seen`` to candidates, probing each row's bucket bitmap.
    The candidate bucket key is derived from the SAME mode the build chose;
    host-mode with host-less candidates is a hard error, not a silent
    misaligned probe."""
    if bloom.host_mode:
        if "host" not in candidates.columns:
            raise ValueError("host-mode Bloom requires a 'host' column on candidates")
        bucket_col = F.pmod(F.xxhash64("host"), F.lit(bloom.n_buckets)).cast("int")
    else:
        bucket_col = F.pmod(F.col(bloom.hash_col), F.lit(bloom.n_buckets)).cast("int")
    cand = candidates.withColumn("_bucket", bucket_col)
    b = bloom.broadcast

    @F.pandas_udf("boolean")
    def might_contain(h: pd.Series, bucket: pd.Series) -> pd.Series:
        tbl = b.value
        hs = h.to_numpy(dtype=np.int64, na_value=0)
        out = np.zeros(len(hs), dtype=bool)
        for bk in pd.unique(bucket):
            ent = tbl.get(int(bk))
            if ent is None:
                continue  # no seen rows in this bucket → definitely new
            bm, m_bits, k = ent
            idx = (bucket == bk).to_numpy()
            sub = hs[idx].view(np.uint64)
            hit = np.ones(len(sub), dtype=bool)
            for pos in _bloom_positions(sub, m_bits, k):
                hit &= (bm[pos >> 3] & (np.uint8(1) << (pos & 7).astype(np.uint8))) != 0
            out[idx] = hit
        return pd.Series(out)

    return cand.withColumn(
        "_maybe_seen", might_contain(F.col(bloom.hash_col), F.col("_bucket"))
    ).drop("_bucket")


def anti_join_seen(candidates: DataFrame, seen: DataFrame,
                   hash_col: str = "url_hash",
                   use_bloom: bool = False, fpp: float = 0.01,
                   n_buckets: int = DEFAULT_N_BUCKETS,
                   bloom: PartitionedBloom | None = None,
                   recent_seen: DataFrame | None = None) -> DataFrame:
    """Exact new-URL filter: candidates ∖ seen on the url hash (left anti).

    With ``use_bloom`` (or a prebuilt ``bloom``) the definitely-new rows
    (Bloom miss) bypass the big anti-join shuffle entirely; only
    possible-hits are joined — a large win when the frontier epoch is small
    relative to the seen set.

    ``recent_seen``: seen rows committed AFTER the bloom was built (the
    engine's amortized-build path).  Definitely-new rows are still exactly
    anti-joined against this small, partition-pruned slice, so a reused
    bloom can never leak an already-seen URL."""
    if not use_bloom and bloom is None:
        return candidates.join(seen.select(hash_col), on=hash_col, how="left_anti")
    if bloom is None:
        bloom = build_partitioned_bloom(
            seen, "host" in candidates.columns, hash_col, n_buckets, fpp)
    flagged = apply_bloom(candidates, bloom)
    definitely_new = flagged.filter(~F.col("_maybe_seen")).drop("_maybe_seen")
    if recent_seen is not None:
        definitely_new = definitely_new.join(
            recent_seen.select(hash_col), on=hash_col, how="left_anti")
    maybe = flagged.filter(F.col("_maybe_seen")).drop("_maybe_seen")
    confirmed_new = maybe.join(seen.select(hash_col), on=hash_col, how="left_anti")
    return definitely_new.unionByName(confirmed_new)
