"""The composed LLM-training-data pipeline as one reusable plan — the
DuckDB-oracled q52, entry(), bench.py and scripts/run_training.py call this.

Stage order (each an already-oracled operator, all groupBy/band-join shapes
— no full-corpus windows, no cartesians):

1. annotate: fingerprint + quality floor-ppm score + lang ID + token count
   (operators/textstats.py — single projection pass, JVM-side);
2. quality gate: ``quality_ppm >= quality_min``;
3. exact dedup: keep the min-doc_id ROW per normalized-text fingerprint
   (ONE ``min_by``-struct aggregation — one shuffle of the gated corpus,
   where the groupBy + left-semi-join shape shuffles it twice);
4. near-dup canonical (optional): MinHash-LSH STAR edges over 8 hashes
   in 2-row bands (bucket-min → member: same transitive closure as the
   full per-bucket clique at O(members) instead of O(members²) edges —
   see simdedup.minhash_lsh_star_edges) → large-star/small-star
   connected components → keep component roots.

At 100 TB every stage partitions by its own key (fp, band key, component
id) and the only iteration is CC's O(log²)-round loop (2 star rounds per
driver action)."""

from __future__ import annotations

from pyspark.sql import DataFrame, functions as F

__all__ = ["training_pipeline"]


def training_pipeline(docs: DataFrame, quality_min: int = 450000,
                      near_dedup: bool = True,
                      id_col: str = "doc_id", text_col: str = "text") -> DataFrame:
    """documents(id, text, ...) → surviving annotated docs
    (id, lang_pred, quality_ppm, n_tokens + original columns).

    When ``near_dedup`` is on, the gated+deduped corpus is persisted
    (MEMORY_AND_DISK: two consumers).  The CALLER owns that cache's
    lifetime — the returned DataFrame carries the handle as
    ``.training_persist_handle``; call ``.unpersist()`` on it after the
    result is materialized, or repeated pipeline runs in one app pin a
    stale corpus copy each (bench.py and perfbench unpersist after each
    timed run)."""
    from pcrawler_spark.operators.concomp import connected_components
    from pcrawler_spark.operators.simdedup import minhash_lsh_star_edges
    from pcrawler_spark.operators.textstats import (
        fingerprint, lang_id, quality_score, token_count)

    ann = token_count(lang_id(quality_score(fingerprint(docs, text_col), text_col),
                              text_col), text_col)
    passed = ann.filter(F.col("quality_ppm") >= quality_min)
    # min_by keeps the whole min-id row in the SAME aggregation that finds
    # the min — one shuffle, map-side partial agg.  (The groupBy-min +
    # left-semi equivalent shuffles the gated corpus twice and was the
    # measured serial tail of the N-vs-4N scaling run.)  Ids are assumed
    # unique per row: on a duplicated id this keeps one row where the
    # semi-join shape kept every row tied at the min.
    others = [c for c in passed.columns if c != "fp"]
    kept = (
        passed.groupBy("fp")
        .agg(F.min_by(F.struct(*others), F.col(id_col)).alias("_r"))
        .select(*(F.col("fp") if c == "fp" else F.col(f"_r.{c}")
                  for c in passed.columns))
    )
    if not near_dedup:
        return kept
    # two consumers read the gated+deduped corpus (the LSH edge generator
    # and the final anti-join) — persist it so the gate/fingerprint subtree
    # runs once, spilling to disk rather than recomputing at scale
    from pyspark import StorageLevel

    kept = kept.persist(StorageLevel.MEMORY_AND_DISK)
    # pre_repartition=False: the input is the persisted gated corpus, whose
    # cache partitioning is already wide (~max(cores, size/advisory)); the
    # explode stage inherits it and the defensive text shuffle is pure cost
    # (r7: 5.6 -> 4.7 s on the 194k-doc corpus)
    pairs = minhash_lsh_star_edges(
        kept.select(F.col(id_col).alias("doc_id"), F.col(text_col).alias("text")),
        n_hashes=8, band_rows=2, pre_repartition=False,
    )
    comp = connected_components(pairs, src="doc_a", dst="doc_b")
    noncanon = comp.filter(F.col("id") != F.col("component")).select(
        F.col("id").alias(id_col)
    )
    out = kept.join(noncanon, id_col, "left_anti")
    out.training_persist_handle = kept
    return out
