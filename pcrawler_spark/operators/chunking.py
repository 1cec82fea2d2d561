"""Document → training-sequence shaping: fixed-size token chunking and
deterministic sequence packing — the step between the dedup pipeline
(plans/training.py) and an LLM data loader.

Both operators are pure JVM expressions (regex/split/window — no UDFs) and
SQL-replayable, so they carry full DuckDB oracles (q55/q56)."""

from __future__ import annotations

from pyspark.sql import DataFrame, Window, functions as F

from .textstats import words

__all__ = ["token_chunks", "pack_sequences"]


def token_chunks(docs: DataFrame, chunk_size: int = 64,
                 id_col: str = "doc_id", text_col: str = "text") -> DataFrame:
    """Split each document's whitespace tokens into consecutive
    ``chunk_size``-token windows → (id, chunk_id, chunk_text,
    n_chunk_tokens).  The last chunk is short, never padded (padding policy
    belongs to the loader); empty text yields one chunk of its single empty
    token, mirroring SQL ``string_split`` semantics so the oracle agrees.

    Scale shape: one projection + posexplode — embarrassingly parallel, no
    shuffle at all.  Each chunk is one match of a compiled regex: a word
    start (text start or consumed space) and up to ``chunk_size - 1``
    space-led words after it."""
    chunks = F.regexp_extract_all(
        F.trim(F.col(text_col)),
        F.lit(r"(?:^| )([^ ]*(?: [^ ]*){0,%d})" % (chunk_size - 1)), 1)
    return docs.select(
        F.col(id_col).cast("long").alias(id_col),
        F.posexplode(chunks).alias("chunk_id", "chunk_text"),
    ).select(
        id_col,
        F.col("chunk_id").cast("long").alias("chunk_id"),
        "chunk_text",
        (F.regexp_count("chunk_text", F.lit(" ")) + 1).cast("long")
        .alias("n_chunk_tokens"),
    )


def pack_sequences(docs: DataFrame, budget: int = 512, n_shards: int = 8,
                   id_col: str = "doc_id", text_col: str = "text") -> DataFrame:
    """Assign each document to a training-sequence bin: documents are
    sharded (``id % n_shards`` — engine-portable), ordered by id inside the
    shard, and a running token total places each doc in
    ``bin = floor(preceding_tokens / budget)`` — the deterministic
    streaming analogue of greedy first-fit packing (docs never split; a doc
    longer than ``budget`` owns its bins).

    Scale shape: ONE window over (shard) — the sort is per-shard, so
    parallelism = n_shards and no global sort exists; pick n_shards ≈
    cluster cores.  Returns (id, shard, n_tokens, bin)."""
    n_tokens = F.size(words(F.col(text_col))).cast("long")
    d = docs.select(
        F.col(id_col).cast("long").alias(id_col),
        n_tokens.alias("n_tokens"),
        F.pmod(F.col(id_col).cast("long"), F.lit(n_shards)).alias("shard"),
    )
    w = (
        Window.partitionBy("shard").orderBy(id_col)
        .rowsBetween(Window.unboundedPreceding, Window.currentRow)
    )
    return d.select(
        id_col, "shard", "n_tokens",
        F.floor((F.sum("n_tokens").over(w) - F.col("n_tokens"))
                / F.lit(float(budget))).cast("long").alias("bin"),
    )
