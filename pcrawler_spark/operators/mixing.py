"""Deterministic token-budget corpus mixing (data-mixture sampling).

Large-scale LM training corpora are MIXED, not concatenated: each
source/stratum contributes a target share of the token budget (the
published mixture tables of The Pile, GPT-3 and LLaMA all work this
way — per-source weights over a total token count).  The sampler has
to be deterministic (reproducible shards across re-runs and engines)
and must NOT globally sort the corpus.

:func:`token_budget_mix` keeps, per stratum, the hash-ordered prefix of
documents whose cumulative token count fits the stratum's budget.  The
order is the portable 32-bit md5 of the doc id (identical in DuckDB),
so the selection is an engine-portable pure function of (ids, budgets)
— an unbiased fixed-budget sample, because the hash order is
independent of content.

Scale design — the distributed prefix scan.  The naive plan windows
``SUM(n_tokens) OVER (PARTITION BY stratum ORDER BY h)``: ONE reducer
sorts an entire stratum, dead at 10^10 docs (a web-scale mixture has
single strata holding >90 % of the corpus).  This operator computes the
same running sum in two passes, the classic scan decomposition:

1. bucket each doc by the HIGH bits of its hash — bucket order equals
   hash order, so buckets are contiguous ranges of the final order.
   ONE map-side-partial ``groupBy(stratum, bucket)`` gives per-bucket
   token sums (strata × n_buckets rows — bounded, collected);
2. the driver cumulates those into per-bucket starting OFFSETS and
   broadcasts them back; each (stratum, bucket) partition then windows
   only its own ~1/n_buckets slice: ``cum = offset + running sum``.

The only full-data movement is the (stratum, bucket) shuffle the
window needs, and no task ever sees more than a bucket.  pcrawler has
no mixture sampler; this is training-pipeline surface the 100 TB
target needs (SURVEY §2 LLM-data ops).
"""

from __future__ import annotations

from pyspark.sql import DataFrame, Window
from pyspark.sql import functions as F
from pyspark.sql.types import StringType

from .simdedup import _h32
from .textstats import words


def token_budget_mix(df: DataFrame, budgets: dict, id_col: str = "doc_id",
                     text_col: str = "text", stratum_col: str = "source",
                     n_buckets: int = 64) -> DataFrame:
    """Per-stratum deterministic prefix sample under token budgets.

    ``budgets`` maps stratum value → max cumulative tokens; strata
    absent from the dict are dropped entirely.  Returns
    (id_col, stratum_col, n_tokens, cum_tokens) for every kept doc,
    where cum_tokens is the running total in portable-hash order and
    every kept row satisfies ``cum_tokens <= budgets[stratum]`` (the
    first doc that would cross the budget — and everything after it —
    is cut).  Token count = whitespace tokens of the trimmed text.
    """
    if n_buckets & (n_buckets - 1) or n_buckets <= 0:
        raise ValueError(f"n_buckets must be a power of two, got {n_buckets}")
    shift = 32 - (n_buckets.bit_length() - 1)
    # the offsets table and the budget map are string-keyed: any other
    # stratum type would match no budget and silently keep no rows
    stype = df.schema[stratum_col].dataType
    if not isinstance(stype, StringType):
        raise ValueError(f"stratum column {stratum_col!r} must be a string, "
                         f"got {stype.simpleString()}")
    for key in budgets:
        if not isinstance(key, str):
            raise ValueError(f"budget key {key!r} ({type(key).__name__}) does not "
                             f"match string column {stratum_col!r}")

    rows = df.select(
        F.col(id_col).alias("id"),
        F.col(stratum_col).alias("stratum"),
        F.size(words(F.col(text_col))).cast("long").alias("n_tokens"),
        _h32(F.col(id_col).cast("string")).alias("h"),
    ).filter(F.col("stratum").isin(list(budgets))).withColumn(
        "bucket", F.shiftright(F.col("h"), shift))

    # pass 1: per-(stratum, bucket) token sums — map-side partial agg,
    # result bounded at |strata| × n_buckets rows (the one collect)
    sums = (rows.groupBy("stratum", "bucket")
                .agg(F.sum("n_tokens").alias("btok")).collect())
    acc: dict = {}
    offsets = []
    for r in sorted(sums, key=lambda r: (str(r["stratum"]), r["bucket"])):
        offsets.append((r["stratum"], r["bucket"], acc.get(r["stratum"], 0)))
        acc[r["stratum"]] = acc.get(r["stratum"], 0) + r["btok"]

    spark = df.sparkSession
    off = spark.createDataFrame(
        offsets, "stratum string, bucket long, offset long")
    budget = F.create_map(
        *[F.lit(x) for kv in budgets.items() for x in kv])[F.col("stratum")]

    # pass 2: window only within a bucket; offset carries the scan
    w = (Window.partitionBy("stratum", "bucket").orderBy("h", "id")
               .rowsBetween(Window.unboundedPreceding, Window.currentRow))
    cum = (F.col("offset") + F.sum("n_tokens").over(w)).alias("cum_tokens")
    # output order is UNSPECIFIED: a global orderBy here would re-introduce
    # the full-corpus sort the two-pass scan exists to avoid (the kept set
    # is itself web-scale when budgets are).  Callers needing an order sort
    # their (usually much smaller) downstream slice.
    return (
        rows.join(F.broadcast(off), ["stratum", "bucket"])
        .select("id", "stratum", "n_tokens", cum)
        .filter(F.col("cum_tokens") <= budget)
        .select(F.col("id").alias(id_col), F.col("stratum").alias(stratum_col),
                "n_tokens", "cum_tokens")
    )
