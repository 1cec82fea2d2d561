"""Near-duplicate detection operators for web-text corpora.

Deduplication families a 100 TB training-data pipeline needs, each expressed
as shuffled-join DataFrame plans (no Python in the hot path):

* exact dedup — md5 fingerprint groupBy (portable across engines);
* n-gram Jaccard — shingle explode → inverted-index self-join → pair
  agreement counts → Jaccard ≥ τ.  The shingle join IS the candidate
  generator: only pairs sharing ≥1 shingle are ever materialized;
* MinHash + LSH — k portable hash functions (md5-derived, identical in
  Spark and DuckDB), banded; candidates = pairs agreeing on any band.
  Scales as O(docs × k) + a band-key equi-join instead of O(docs²);
* SimHash — 32-bit sign-aggregated token hashes; near-dups = pairs with
  small Hamming distance among prefix-bucket candidates.

All hashes derive from md5 so the DuckDB oracle can reproduce results
bit-for-bit:  H(s) = int(hex(md5(s))[:8], 16)  (fits in a long).
"""

from __future__ import annotations

from pyspark.sql import DataFrame
from pyspark.sql import functions as F

from .textstats import fingerprint, full_word_ngrams, word_ngrams, words


def _h32(col):
    """Portable 32-bit hash: first 8 hex chars of md5 as an integer.
    Spark: conv(substr(md5(x),1,8),16,10); DuckDB: ('0x'||substr)::BIGINT."""
    return F.conv(F.substring(F.md5(col), 1, 8), 16, 10).cast("long")


def exact_duplicates(df: DataFrame, id_col: str = "doc_id", text_col: str = "text") -> DataFrame:
    """Groups of byte-identical (normalized) docs: fp, count, min id kept."""
    return (
        fingerprint(df, text_col)
        .groupBy("fp")
        .agg(F.count("*").alias("n_dups"), F.min(id_col).alias("keep_id"))
        .filter(F.col("n_dups") > 1)
    )


def _shingles_of(text, n: int = 3):
    """Distinct word ``n``-gram shingles of a text column (``[]`` for null
    text)."""
    return F.array_distinct(word_ngrams(text, n))


def ngram_jaccard_pairs(df: DataFrame, threshold: float = 0.5,
                        id_col: str = "doc_id", text_col: str = "text",
                        n: int = 3, max_shingle_df: int | None = None) -> DataFrame:
    """All pairs with shingle-set Jaccard ≥ threshold.

    Plan: doc → distinct shingles (map-side) → explode → self equi-join on
    shingle (inverted index) → count common per pair → Jaccard against the
    per-doc shingle counts.  One wide shuffle on the shingle key.

    ``max_shingle_df`` is the hot-shingle document-frequency cap: a shingle
    appearing in more than that many docs (a stop-word trigram at corpus
    scale) is dropped from the inverted index BEFORE the self-join — without
    it one hot key makes the join quadratic at 100 TB.  The cap is computed
    with a window count over the same shingle partitioning the join needs,
    so it costs no extra shuffle (the exchange is reused).  Denominator
    sizes stay full-set, so capped pairs can only under-estimate Jaccard
    (standard recall/cost trade, never a false positive).
    """
    sh = df.select(F.col(id_col).alias("doc"),
                   _shingles_of(F.col(text_col), n).alias("sh"))
    sizes = sh.select("doc", F.size("sh").alias("n_sh"))
    inv = sh.select("doc", F.explode("sh").alias("shingle"))
    if max_shingle_df is not None:
        from pyspark.sql.window import Window

        w = Window.partitionBy("shingle")
        inv = (
            inv.withColumn("_df", F.count("*").over(w))
            .filter(F.col("_df") <= max_shingle_df)
            .drop("_df")
        )
    common = (
        inv.alias("a")
        .join(inv.alias("b"), on="shingle")
        .filter(F.col("a.doc") < F.col("b.doc"))
        .groupBy(F.col("a.doc").alias("doc_a"), F.col("b.doc").alias("doc_b"))
        .agg(F.count("*").alias("n_common"))
    )
    return (
        common.join(sizes.withColumnRenamed("doc", "doc_a").withColumnRenamed("n_sh", "sh_a"), "doc_a")
        .join(sizes.withColumnRenamed("doc", "doc_b").withColumnRenamed("n_sh", "sh_b"), "doc_b")
        .withColumn(
            "jaccard",
            F.round(F.col("n_common") / (F.col("sh_a") + F.col("sh_b") - F.col("n_common")), 6),
        )
        .filter(F.col("jaccard") >= threshold)
        .select("doc_a", "doc_b", "jaccard")
    )


# affine minhash family over the Mersenne prime 2^31−1: ONE portable md5
# per shingle (h0), then hash s = (A_s·h0 + B_s) mod P.  At corpus scale
# this is k× less hashing than md5(seed|shingle) per seed, the biggest CPU
# term of the whole dedup pipeline (measured: the per-seed-md5 variant was
# the non-scaling stage of the 240k-doc training run).  All operands stay
# < 2^62 so the arithmetic is exact BIGINT in Spark AND DuckDB — the q27
# oracle replays it verbatim.
_MH_P = 2147483647


def _mh_seed_consts(seed: int) -> tuple[int, int]:
    return ((seed + 1) * 2654435761) % _MH_P, (seed * 40503 + 7) % _MH_P


def _minhash_wide(df: DataFrame, n_hashes: int, id_col: str, text_col: str,
                  n: int, pre_repartition: bool = True) -> DataFrame:
    """doc → (_mh_0 .. _mh_{k-1}): all k minhashes in ONE groupBy — k
    conditional min-aggregations over the shingle relation instead of a
    k× seed explode (k× smaller pre-aggregation input, map-side combine
    still applies)."""
    spark = df.sparkSession
    try:
        n_part = int(spark.conf.get("spark.sql.shuffle.partitions"))
    except ValueError:
        # deployments may set the conf non-numeric (e.g. "auto" under
        # vendor AQE forks) — fall back to the cluster's parallelism
        n_part = spark.sparkContext.defaultParallelism
    sh = df.select(F.col(id_col).alias("doc"), F.col(text_col).alias("_t"))
    if pre_repartition:
        # explicit width: the explode below multiplies rows ~shingles-per-doc×,
        # so AQE's PRE-explode byte sizing must not coalesce this stage down
        # to a handful of tasks (repartition with an explicit count is exempt
        # from AQE coalescing; measured 16-core md5 stage otherwise ran ~6-wide).
        # Callers whose input is ALREADY wide enough (e.g. a persisted corpus:
        # cache partitioning ~ max(cores, size/advisory)) pass False — the
        # groupBy's map-side partial agg makes the one exchange tiny either
        # way, and skipping the text shuffle measured 5.6->4.7 s on the 194k-
        # doc training corpus (r7).
        sh = sh.repartition(n_part, "doc")
    sh = (
        sh.select("doc", F.explode(_shingles_of(F.col("_t"), n)).alias("shingle"))
        .withColumn("h0", _h32(F.col("shingle")) % _MH_P)
    )
    aggs = []
    for s in range(n_hashes):
        a, b = _mh_seed_consts(s)
        aggs.append(
            F.min((F.lit(a) * F.col("h0") + F.lit(b)) % _MH_P).alias(f"_mh_{s}")
        )
    return sh.groupBy("doc").agg(*aggs)


def minhash_bands(df: DataFrame, n_hashes: int = 8, band_rows: int = 2,
                  id_col: str = "doc_id", text_col: str = "text",
                  n: int = 3, pre_repartition: bool = True) -> DataFrame:
    """Per-doc LSH band rows (doc, band, mh_0..mh_{band_rows-1}) — the
    probe/store key set shared by the batch candidate join
    (:func:`minhash_lsh_candidates`) and the streaming incremental
    near-dup store (streaming/pipeline.py).  Built straight from the wide
    signature aggregation — one shuffle, no seed explode.  A trailing
    partial band (band_rows ∤ n_hashes) carries NULL in its missing slots,
    which never equi-join — identical to the per-seed formulation."""
    wide = _minhash_wide(df, n_hashes, id_col, text_col, n, pre_repartition)
    n_bands = (n_hashes + band_rows - 1) // band_rows
    structs = []
    for b in range(n_bands):
        fields = [F.lit(b).alias("band")]
        for r in range(band_rows):
            s = b * band_rows + r
            fields.append(
                (F.col(f"_mh_{s}") if s < n_hashes
                 else F.lit(None).cast("long")).alias(f"mh_{r}")
            )
        structs.append(F.struct(*fields))
    return (
        wide.select("doc", F.explode(F.array(*structs)).alias("_b"))
        .select("doc", "_b.*")
    )


def minhash_lsh_candidates(df: DataFrame, n_hashes: int = 8, band_rows: int = 2,
                           id_col: str = "doc_id", text_col: str = "text",
                           n: int = 3) -> DataFrame:
    """Candidate near-dup pairs: agree on all rows of ≥1 LSH band.

    The band key is NUMERIC: the band's ``band_rows`` minhashes are pivoted
    into per-slot long columns (mh_0..mh_{r-1}) and the band equi-join runs
    on (band, mh_0, ..) — collision-free and ~half the shuffle bytes of the
    earlier string-concatenated key."""
    bands = minhash_bands(df, n_hashes, band_rows, id_col, text_col, n)
    join_keys = ["band"] + [f"mh_{r}" for r in range(band_rows)]
    return (
        bands.alias("a")
        .join(bands.alias("b"), on=join_keys)
        .filter(F.col("a.doc") < F.col("b.doc"))
        .select(F.col("a.doc").alias("doc_a"), F.col("b.doc").alias("doc_b"))
        .distinct()
    )


def minhash_lsh_star_edges(df: DataFrame, n_hashes: int = 8, band_rows: int = 2,
                           id_col: str = "doc_id", text_col: str = "text",
                           n: int = 3, pre_repartition: bool = True) -> DataFrame:
    """Connectivity-preserving LSH edges for CLUSTERING: every band-bucket
    member is connected to the bucket's MIN doc — the transitive closure
    (and therefore the connected components / canonical docs downstream)
    is IDENTICAL to :func:`minhash_lsh_candidates`' full per-bucket clique,
    at O(members) edges per bucket instead of O(members²).

    This is the candidate generator a 100 TB dedup pipeline must use: a
    10^4-member bucket (a boilerplate family) is 10^4 star edges, not
    5·10^7 pair rows — and the quadratic clique materialization (plus its
    full-width distinct) was the measured wall-clock tail of the 240k-doc
    training run.  The per-bucket min is a WINDOW min over the band key:
    one exchange + one sorted pass emits every (bucket-min, member) edge —
    the groupBy-min + join-back equivalent pays a hash aggregation plus a
    sort-merge join on top of the same exchange (measured slower at both
    1×4 and 4×4 on the 240k-doc run).  A per-bucket window buffers only
    one bucket's rows at a time (bounded by the LSH band-bucket size, not
    the corpus).  No distinct is needed because connected_components
    deduplicates its input edge list.

    Use :func:`minhash_lsh_candidates` when the PAIRS themselves are the
    product (verification, scoring, reporting); use this when the pairs
    only feed a clustering."""
    from pyspark.sql.window import Window

    bands = minhash_bands(df, n_hashes, band_rows, id_col, text_col, n,
                          pre_repartition)
    keys = ["band"] + [f"mh_{r}" for r in range(band_rows)]
    if n_hashes % band_rows:
        # the trailing partial band carries NULL in its missing slots;
        # minhash_lsh_candidates' equi-join emits NOTHING for it (NULL
        # never equi-joins) but Window.partitionBy groups NULLs as EQUAL,
        # which would link docs agreeing on fewer than band_rows hashes —
        # drop the partial band so the transitive closure stays identical
        bands = bands.where(F.col(f"mh_{band_rows - 1}").isNotNull())
    w = Window.partitionBy(*keys)
    return (
        bands.withColumn("_root", F.min("doc").over(w))
        .where(F.col("doc") != F.col("_root"))
        .select(F.col("_root").alias("doc_a"), F.col("doc").alias("doc_b"))
    )


def simhash(df: DataFrame, id_col: str = "doc_id", text_col: str = "text",
            bits: int = 32) -> DataFrame:
    """32-bit SimHash: per token the portable hash votes ±1 on each bit."""
    toks = df.select(
        F.col(id_col).alias("doc"),
        F.explode(F.array_distinct(words(F.col(text_col)))).alias("tok"),
    ).withColumn("h", _h32(F.col("tok")))
    votes = [
        F.sum(
            F.when(F.shiftright(F.col("h"), k).bitwiseAND(F.lit(1)) == 1, 1).otherwise(-1)
        ).alias(f"v{k}")
        for k in range(bits)
    ]
    agg = toks.groupBy("doc").agg(*votes)
    sh = None
    for k in range(bits):
        term = F.when(F.col(f"v{k}") > 0, F.lit(2 ** k)).otherwise(F.lit(0))
        sh = term if sh is None else (sh + term)
    return agg.select("doc", sh.cast("long").alias("simhash"))


def simhash_blocks(bits: int, max_hamming: int) -> list[tuple[int, int]]:
    """Pigeonhole block layout: (offset, width) for ``max_hamming + 1``
    near-equal blocks covering ``bits`` bits.  Any pair with ≤ max_hamming
    differing bits must agree exactly on at least one block."""
    n_blocks = max_hamming + 1
    widths = [bits // n_blocks + (1 if i < bits % n_blocks else 0) for i in range(n_blocks)]
    out, off = [], 0
    for w in widths:
        out.append((off, w))
        off += w
    return out


def simhash_near_pairs(df: DataFrame, max_hamming: int = 6,
                       id_col: str = "doc_id", text_col: str = "text",
                       bits: int = 32) -> DataFrame:
    """ALL pairs with Hamming(simhash_a, simhash_b) ≤ max_hamming.

    Candidate generation is pigeonhole multi-block banding: the ``bits``-bit
    simhash is split into ``max_hamming + 1`` blocks; a pair within the
    Hamming budget has at most ``max_hamming`` differing bits, so some block
    carries zero of them and the pair collides on that block's equi-join key
    (exact recall, unlike a single prefix bucket which silently drops pairs
    whose differing bits land in the prefix).  One explode (×(h+1) rows) +
    one equi-join on (block_id, block_value), exact Hamming filter after,
    distinct to collapse multi-block agreements."""
    sh = simhash(df, id_col, text_col, bits)
    blocks = F.array(*[
        F.struct(
            F.lit(i).alias("blk"),
            F.shiftright(F.col("simhash"), off).bitwiseAND(F.lit((1 << w) - 1)).alias("val"),
        )
        for i, (off, w) in enumerate(simhash_blocks(bits, max_hamming))
    ])
    keyed = sh.select("doc", "simhash", F.explode(blocks).alias("b")).select(
        "doc", "simhash", F.col("b.blk").alias("blk"), F.col("b.val").alias("val")
    )
    return (
        keyed.alias("a")
        .join(keyed.alias("b"), on=["blk", "val"])
        .filter(F.col("a.doc") < F.col("b.doc"))
        .select(
            F.col("a.doc").alias("doc_a"),
            F.col("b.doc").alias("doc_b"),
            F.bit_count(F.col("a.simhash").bitwiseXOR(F.col("b.simhash"))).cast("long").alias("hamming"),
        )
        .filter(F.col("hamming") <= max_hamming)
        .distinct()
    )


def repeated_ngram_spans(df: DataFrame, k: int = 4, min_count: int = 2,
                         keep_first: bool = True, id_col: str = "doc_id",
                         text_col: str = "text") -> DataFrame:
    """Exact repeated-substring spans — the fixed-``k`` formulation of
    ExactSubstr dedup (Lee et al., "Deduplicating Training Data Makes
    Language Models Better", arXiv:2107.06499, §4.1): every k-token
    window whose token sequence occurs ``>= min_count`` times corpus-wide
    (within OR across docs) marks a duplicated span; per doc, overlapping
    and touching spans merge into maximal islands, the token ranges a
    cleaner would cut.  ``keep_first=True`` exempts the corpus-wide
    canonical occurrence of each duplicated gram (lexicographic min of
    (doc, pos) — the surviving copy), so a passage repeated m times yields
    m−1 cut spans, not m.

    Returns (doc_id, span_start, span_end, n_grams) — span_end is the
    exclusive token index; n_grams counts the duplicated k-gram hits the
    island absorbed.  pcrawler has no substring dedup; this is training-
    pipeline surface the 100 TB target needs (SURVEY §2 LLM-data ops).

    Plan / scale: tokenize + slide the k-windows JVM-side (one compiled
    regexp_extract_all + posexplode — no Python, no shuffle); count grams with ONE
    groupBy on the 64-bit gram hash — map-side partial agg means a
    boilerplate gram repeated 10^8 times ships one partial row per map
    task, never 10^8 rows to one reducer (the skew-safe shape a window
    count over the gram key would NOT have); the duplicated-gram table is
    tiny in real corpora, so the join back to the unshuffled hits is
    AQE-broadcastable; the island merge windows over doc_id alone
    (bounded per-doc rows).  Grouping by xxhash64 instead of the gram
    string keeps the shuffle rows fixed-width; a collision between two
    distinct corpus grams (≈ n²/2⁶⁵) would only over-mark one span.
    """
    hits = _gram_hits(df, k, id_col, text_col)

    dup = (
        hits.groupBy("gh")
        .agg(F.count("*").alias("cnt"),
             F.min(F.struct("doc", "pos")).alias("first_hit"))
        .filter(F.col("cnt") >= min_count)
        .select("gh", "first_hit")
    )
    marked = hits.join(dup, "gh")
    if keep_first:
        marked = marked.filter(
            ~((F.col("doc") == F.col("first_hit.doc"))
              & (F.col("pos") == F.col("first_hit.pos"))))
    return _merge_span_islands(marked, k, id_col)


def _gram_hits(df: DataFrame, k: int, id_col: str, text_col: str) -> DataFrame:
    """(doc, pos, gh) for every k-token window — tokenize + slide + explode
    entirely JVM-side (one regexp_extract_all + posexplode; no Python, no
    shuffle); ``gh`` is the 64-bit xxhash of the gram text so downstream
    shuffles/joins carry fixed-width keys, never the gram strings.  A doc
    of fewer than k tokens has no window."""
    return df.select(
        F.col(id_col).alias("doc"),
        F.posexplode(full_word_ngrams(F.col(text_col), k)).alias("pos", "gram"),
    ).select("doc", F.col("pos").cast("long").alias("pos"),
             F.xxhash64("gram").alias("gh"))


def _merge_span_islands(marked: DataFrame, k: int, id_col: str) -> DataFrame:
    """Gaps-and-islands merge of marked gram hits (doc, pos) into maximal
    per-doc spans: a hit whose running MAX(pos+k) over the preceding hits
    already covers it extends the current island, otherwise it breaks a
    new one.  Windows over doc alone (bounded per-doc rows)."""
    from pyspark.sql import Window
    w = Window.partitionBy("doc").orderBy("pos")
    prev_end = F.max(F.col("pos") + k).over(
        w.rowsBetween(Window.unboundedPreceding, -1))
    islands = (
        marked.select("doc", "pos")
        .withColumn("brk", F.when(prev_end >= F.col("pos"), F.lit(0))
                            .otherwise(F.lit(1)))
        .withColumn("island", F.sum("brk").over(w))
    )
    # output order is UNSPECIFIED (the q62 contract): a global orderBy here
    # would re-introduce a full-output sort — span output is proportional to
    # corpus size on a near-dup-heavy corpus.  Consumers that need an order
    # (oracles, tests, reports) sort their own bounded slices.
    return (
        islands.groupBy("doc", "island")
        .agg(F.min("pos").alias("span_start"),
             (F.max("pos") + k).alias("span_end"),
             F.count("*").alias("n_grams"))
        .select(F.col("doc").alias(id_col),
                F.col("span_start").cast("long"),
                F.col("span_end").cast("long"),
                F.col("n_grams").cast("long"))
    )


def contaminated_spans(df: DataFrame, bench_df: DataFrame, k: int = 13,
                       id_col: str = "doc_id", text_col: str = "text",
                       bench_text_col: str | None = None) -> DataFrame:
    """Benchmark decontamination spans — the n-gram test-set-overlap
    discipline of GPT-3 (Brown et al., arXiv:2005.14165, App. C) and PaLM:
    a training document is contaminated wherever one of its k-token
    windows also occurs anywhere in the benchmark/eval corpus
    ``bench_df``; per doc, overlapping and touching contaminated windows
    merge into maximal islands — the token ranges a decontaminator would
    cut (or whole-doc-drop on any hit).  GPT-3 used k=13 word-grams
    (hence the default); pass the k your eval contamination policy
    specifies.

    Returns (doc_id, span_start, span_end, n_grams), same contract as
    ``repeated_ngram_spans`` (span_end exclusive; n_grams = contaminated
    k-gram hits the island absorbed).  Docs with no overlap are absent.

    Plan / scale: both sides tokenize + slide JVM-side (``_gram_hits``).
    The benchmark side is distinct-ed on the 64-bit gram hash and
    EXPLICITLY broadcast — eval suites are ~10^5 docs against a 10^10-doc
    corpus, so the corpus-side hit stream must never shuffle; the
    left-semi probe keeps it narrow (doc, pos) and map-side only.  The
    island merge windows over doc alone.  pcrawler has no decontamination
    op; this is training-pipeline surface the 100 TB target needs
    (SURVEY §2 LLM-data ops)."""
    b = bench_df.select(F.lit(0).alias("__bid"),
                        F.col(bench_text_col or text_col).alias("__btxt"))
    bench_grams = _gram_hits(b, k, "__bid", "__btxt").select("gh").distinct()
    hits = _gram_hits(df, k, id_col, text_col)
    marked = hits.join(F.broadcast(bench_grams), "gh", "left_semi")
    return _merge_span_islands(marked, k, id_col)
