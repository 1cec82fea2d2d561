"""Lexical relevance retrieval — BM25 top-k (Robertson & Spärck Jones;
the Okapi BM25 ranking function, public literature).

The lexical half of hybrid retrieval: `operators/knn.py` ranks by vector
similarity, this ranks by term statistics; production search fuses both.
For a data-curation engine the use case is query-driven corpus slicing
("pull the top-k docs about X") next to the embedding path.

Cross-engine determinism (the repo's floor-ppm discipline):

* constants ``k1=1.5, b=0.75`` are exactly representable doubles, so every
  ``+ * /`` in the saturation term is one correctly-rounded IEEE-754 op —
  bit-identical in Spark and DuckDB when written with the same
  associativity (the q44 oracle mirrors this module's parenthesization);
* ``idf_ppm = floor(1e6 · ln((N − df + 0.5)/(df + 0.5) + 1))`` — the
  Lucene-style non-negative IDF; ln is floored at ppm granularity (same
  precedent as q57's log10 scoring);
* per-(doc,term) contributions floor to integer ppm BEFORE the per-doc
  sum, so the aggregate is an order-free exact long sum;
* ``avgdl`` is ONE double division (Σdl / N), performed identically on
  both sides.

Plan shape at scale: the token explode filters to the query's terms
FIRST (a tiny fraction of the corpus), document length joins in on the
doc key, the |query|-row IDF table broadcasts, and the final top-k is
``orderBy(...).limit(k)`` — Spark's TakeOrderedAndProject, a per-partition
heap + driver merge of k rows, never a global sort.
"""

from __future__ import annotations

from typing import Sequence

from pyspark.sql import DataFrame
from pyspark.sql import functions as F

from .textstats import words


def bm25_topk(docs: DataFrame, terms: Sequence[str], k: int = 20,
              k1: float = 1.5, b: float = 0.75,
              id_col: str = "doc_id", text_col: str = "text") -> DataFrame:
    """Top-``k`` docs for a bag-of-terms query; returns
    (id, score_ppm, n_terms_matched), ties broken by ascending id.
    Two bounded driver actions (corpus N and Σ length — two scalars).
    An empty corpus gives an empty result with the same schema."""
    toks = docs.select(
        F.col(id_col).alias("_id"),
        F.explode(words(F.col(text_col))).alias("tok"),
    )
    dl = toks.groupBy("_id").agg(F.count(F.lit(1)).alias("dl"))
    stats = dl.agg(F.count(F.lit(1)).alias("n"), F.sum("dl").alias("tot")).collect()[0]
    n_docs = int(stats["n"])
    # an empty corpus has no tokens, so the plan below yields no rows and
    # avgdl is never applied
    avgdl = float(stats["tot"]) / float(n_docs) if n_docs else 1.0

    qt = toks.where(F.col("tok").isin(*[str(t) for t in terms]))
    idf = (
        qt.groupBy("tok").agg(F.countDistinct("_id").alias("df"))
        .select(
            "tok",
            F.floor(
                F.lit(1_000_000.0)
                * F.log((F.lit(float(n_docs)) - F.col("df") + 0.5)
                        / (F.col("df") + 0.5) + 1.0)
            ).cast("long").alias("idf_ppm"),
        )
    )
    tf = qt.groupBy("_id", "tok").agg(F.count(F.lit(1)).alias("tf"))
    # parenthesization is part of the contract — the oracle replays it
    contrib = (
        tf.join(F.broadcast(idf), "tok")
        .join(dl, "_id")
        .select(
            "_id",
            F.floor(
                F.col("idf_ppm") * (F.col("tf") * F.lit(k1 + 1.0))
                / (F.col("tf")
                   + F.lit(k1) * (F.lit(1.0 - b)
                                  + (F.lit(b) * F.col("dl")) / F.lit(avgdl)))
            ).cast("long").alias("c_ppm"),
        )
    )
    scored = contrib.groupBy("_id").agg(
        F.sum("c_ppm").alias("score_ppm"),
        F.count(F.lit(1)).cast("long").alias("n_terms_matched"),
    )
    return (
        scored.orderBy(F.desc("score_ppm"), F.asc("_id")).limit(k)
        .select(F.col("_id").alias(id_col), "score_ppm", "n_terms_matched")
    )


def rrf_fuse(ranked: Sequence[DataFrame], k_const: int = 60, topk: int = 20,
             id_col: str = "id", rank_col: str = "rank") -> DataFrame:
    """Reciprocal Rank Fusion (Cormack, Clarke & Büttcher, SIGIR'09 —
    public): ``fused_ppm(id) = Σ_lists floor(1e6 / (k_const + rank))``.
    The standard way to combine lexical (BM25) and vector (ANN) rankings
    without score calibration — ranks are comparable, raw scores are not.

    Inputs are ALREADY-RANKED top-k lists (id, 1-based rank) — bounded
    frames, so the fuse is a union + one groupBy however many retrievers
    feed it; per-element floor keeps the sum an order-free exact long.
    Returns (id, rrf_ppm, n_lists) — ``n_lists`` tells consensus hits
    (found by several retrievers) from single-retriever ones."""
    from functools import reduce

    u = reduce(
        lambda a, b: a.unionByName(b),
        [r.select(F.col(id_col).alias("_id"),
                  F.col(rank_col).cast("long").alias("_r")) for r in ranked],
    )
    fused = u.groupBy("_id").agg(
        F.sum(
            F.floor(F.lit(1_000_000.0) / (F.lit(float(k_const)) + F.col("_r")))
        ).cast("long").alias("rrf_ppm"),
        F.count(F.lit(1)).cast("long").alias("n_lists"),
    )
    return (
        fused.orderBy(F.desc("rrf_ppm"), F.asc("_id")).limit(topk)
        .select(F.col("_id").alias(id_col), "rrf_ppm", "n_lists")
    )
