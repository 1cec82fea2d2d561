"""Deduplication operators (SURVEY.md §2.5).

The reference enforces URL uniqueness three ways (in-memory set, IN-list
probe, SQLite UNIQUE constraint — SURVEY.md D1-D4); at cluster scale these
collapse into two shapes:

* window dedup (keep-oldest / keep-latest per key) — the canonical
  ``row_number() over (partition by key order by ts)`` filter, replacing
  the reference's delete loops (dedup_cleanup.py:55-82,
  migrate_unique_constraints.py:47-57);
* keep-first as one aggregation (``min(struct)`` per key), which
  partial-aggregates before its shuffle.

At 10^10 rows the window shuffles once on the key — same cost as any
groupBy; skew on hot keys is handled upstream by salting (politeness.py).
"""

from __future__ import annotations

from typing import Sequence

from pyspark.sql import DataFrame, Window
from pyspark.sql import functions as F


def dedup_keep_first(df: DataFrame, keys: Sequence[str], order_col: str,
                     tiebreak: Sequence[str] = ()) -> DataFrame:
    """Keep the oldest row per key (reference keep-oldest,
    dedup_cleanup.py:55-82).  ``tiebreak`` makes the winner deterministic
    when order_col ties."""
    w = Window.partitionBy(*keys).orderBy(F.col(order_col).asc(), *[F.col(c).asc() for c in tiebreak])
    return (
        df.withColumn("_rn", F.row_number().over(w))
        .filter(F.col("_rn") == 1)
        .drop("_rn")
    )


def dedup_keep_last(df: DataFrame, keys: Sequence[str], order_col: str,
                    tiebreak: Sequence[str] = ()) -> DataFrame:
    """Keep the newest row per key (migrate_unique_constraints.py:47-57)."""
    w = Window.partitionBy(*keys).orderBy(F.col(order_col).desc(), *[F.col(c).desc() for c in tiebreak])
    return (
        df.withColumn("_rn", F.row_number().over(w))
        .filter(F.col("_rn") == 1)
        .drop("_rn")
    )


def dedup_keep_first_agg(df: DataFrame, key: str | Sequence[str],
                         order_cols: Sequence[str],
                         payload_cols: Sequence[str]) -> DataFrame:
    """Keep-first as an aggregation: ``min(struct(order..., payload...))``
    per key.  Same winner as the window form (struct ordering is
    lexicographic over the order columns) but partial-aggregatable:
    Spark plans it as partial+final SortAggregate around a single exchange
    (struct min is sort-based) — map-side combine shrinks the shuffle,
    unlike the window form which shuffles every row then sorts per key.
    A multi-column ``key`` lets the grouping ride an existing coarser
    partitioning (e.g. group on (host, url_hash) after a repartition on
    host — no second exchange)."""
    keys = [key] if isinstance(key, str) else list(key)
    w = F.min(F.struct(*[F.col(c) for c in order_cols],
                       *[F.col(c) for c in payload_cols])).alias("_w")
    out = df.groupBy(*keys).agg(w)
    cols = [F.col(k) for k in keys] + [
        F.col(f"_w.{c}").alias(c) for c in list(order_cols) + list(payload_cols)
    ]
    return out.select(*cols)
