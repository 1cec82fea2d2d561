"""URL-seen set operator — the core frontier dedup (SURVEY.md J3/J4).

The reference batches ``SELECT url ... WHERE url IN (...)`` probes against
SQLite (db_manager.py:65-105) and relies on a UNIQUE constraint as the final
arbiter (db_manager.py:119-128).  Spark-first equivalent: exact dedup is a
LEFT ANTI join of candidates against the ``seen`` table on the 64-bit
canonical url hash — one join, no driver involvement, no Python boundary.
"""

from __future__ import annotations

from pyspark.sql import DataFrame


def anti_join_seen(candidates: DataFrame, seen: DataFrame,
                   hash_col: str = "url_hash") -> DataFrame:
    """Exact new-URL filter: candidates ∖ seen on the url hash (left anti)."""
    return candidates.join(seen.select(hash_col), on=hash_col, how="left_anti")
