"""Text-analysis operators for training-data pipelines over ``documents``.

All are pure JVM-side column expressions (whole-stage codegen, no Python in
the hot path) with exact ANSI-SQL equivalents for the DuckDB oracle:

* token counting — whitespace tokenization;
* quality scoring — length/punctuation/stopword ratios (the reference's
  quality filters are N/A-density and junk-text checks, merge_files.py:50-76,
  list_crawler.py:222-224; this generalizes them to web-text quality);
* language ID — stopword-marker heuristic (deterministic, vocabulary-based);
* document fingerprinting — md5 of whitespace-normalized lowercased text
  (md5 is available and identical in Spark and DuckDB, making the
  fingerprint portable across engines).
"""

from __future__ import annotations

from pyspark.sql import Column, DataFrame
from pyspark.sql import functions as F

# tiny deterministic stopword marker sets (heuristic lang-id)
EN_MARKERS = ("the", "a", "of", "and", "is")
VI_MARKERS = ("và", "của", "là", "các", "cho")

# One tokenization for every text operator: the words of a text are the
# space-trimmed text split on single spaces (runs of spaces give empty
# words; tabs and newlines stay inside words).  The n-gram and marker
# regexes find the same words without building the array: a word starts
# at ``^`` or after a CONSUMED space (a lookbehind also fires between the
# halves of a surrogate pair) and ends at ``(?![^ ])`` (``$`` also matches
# before a trailing newline).  tests/test_text_parity.py is the reference.

def words(text: Column) -> Column:
    """The whitespace words of ``text``: ``split(trim(text), ' ')``."""
    return F.split(F.trim(text), " ")


def full_word_ngrams(text: Column, n: int) -> Column:
    """Every ``n``-word window of ``text`` joined by single spaces, in word
    order: one match per word start, whose lookahead captures that word and
    the ``n - 1`` after it.  ``[]`` for a text of fewer than ``n`` words,
    null for null text."""
    return F.regexp_extract_all(
        F.trim(text), F.lit(r"(?:^| )(?=([^ ]*(?: [^ ]*){%d}))" % (n - 1)), 1)


def word_ngrams(text: Column, n: int) -> Column:
    """:func:`full_word_ngrams`, except that a text of fewer than ``n``
    words gives its one truncated gram (the trimmed text) and a null text
    gives ``[]``.  The whole-text alternative can only match at the text
    start (``^``) and only where the ``n``-word one failed there."""
    grams = F.regexp_extract_all(
        F.trim(text),
        F.lit(r"(?:^| )(?=([^ ]*(?: [^ ]*){%d}|^(?s:.*)))" % (n - 1)), 1)
    return F.coalesce(grams, F.array().cast("array<string>"))


def _marker_pattern(markers) -> str:
    """Regex matching each whole word of a lowercased text that is one of
    ``markers``; group 1 is the marker."""
    return r"(?:^| )(%s)(?![^ ])" % "|".join(markers)


def marker_count(text: Column, markers) -> Column:
    """How many words of ``text``, lowercased, are one of ``markers``."""
    return F.regexp_count(F.lower(F.trim(text)), F.lit(_marker_pattern(markers)))


def token_count(df: DataFrame, text_col: str = "text") -> DataFrame:
    return df.withColumn("n_tokens", F.size(words(F.col(text_col))).cast("long"))


def quality_score(df: DataFrame, text_col: str = "text") -> DataFrame:
    """length + punctuation-ratio + stopword-ratio quality signals.

    Ratios are emitted as integer parts-per-million via ``floor`` rather
    than ``round``: IEEE-754 division is correctly rounded in every engine,
    so ``floor(1e6 * a / b)`` is bit-deterministic cross-engine, whereas
    ``round(x, 6)`` differs between half-up and half-even implementations
    exactly on representable ties (found via a real Spark/DuckDB mismatch).

    quality_ppm = 500000*stopword_ratio + 300000*(1-punct_ratio)
                + min(400*n_chars, 200000)   (all floored term-wise)
    """
    text = F.col(text_col)
    n_chars = F.length(text)
    n_punct = n_chars - F.length(F.regexp_replace(text, r"[.,!?;:]", ""))
    n_tokens = F.size(words(text))
    n_stop = marker_count(text, EN_MARKERS)
    c = F.greatest(n_chars, F.lit(1))
    t = F.greatest(n_tokens, F.lit(1))
    return (
        df.withColumn("n_chars", n_chars)
        .withColumn("punct_ppm", F.floor(F.lit(1_000_000.0) * n_punct / c).cast("long"))
        .withColumn("stopword_ppm", F.floor(F.lit(1_000_000.0) * n_stop / t).cast("long"))
        .withColumn(
            "quality_ppm",
            (
                F.floor(F.lit(500_000.0) * n_stop / t)
                + F.floor(F.lit(300_000.0) * (n_chars - n_punct) / c)
                + F.least(F.lit(400).cast("long") * n_chars, F.lit(200_000).cast("long"))
            ).cast("long"),
        )
    )


def lang_id(df: DataFrame, text_col: str = "text") -> DataFrame:
    """Marker-vocabulary language guess: en vs vi vs unknown."""
    en = marker_count(F.col(text_col), EN_MARKERS)
    vi = marker_count(F.col(text_col), VI_MARKERS)
    return df.withColumn(
        "lang_pred",
        F.when(en > vi, "en").when(vi > en, "vi").otherwise("unknown"),
    )


def fingerprint(df: DataFrame, text_col: str = "text") -> DataFrame:
    """Portable exact-dup fingerprint: md5 of lower(whitespace-normalized)."""
    norm = F.regexp_replace(F.lower(F.trim(F.col(text_col))), r"\s+", " ")
    return df.withColumn("fp", F.md5(norm))


# GPT-2-style pre-tokenizer shape, restricted to constructs RE2 (DuckDB) and
# Java regex agree on: contractions, letter runs, digit runs, punctuation
# runs, whitespace runs.  (The real GPT-2 pattern's possessive lookaheads
# aren't RE2-expressible; this keeps the counting semantics.)
BPE_TOKEN_PATTERN = r"'(?:s|d|m|t|ll|ve|re)| ?[\p{L}]+| ?[\p{N}]+| ?[^\s\p{L}\p{N}]+|\s+"


def bpe_token_count(df: DataFrame, text_col: str = "text") -> DataFrame:
    """Subword-ish token counting: occurrences of the BPE-style
    pre-tokenizer pattern — the standard cost estimate for LLM training
    data (whitespace counting under-counts punctuation-heavy web text).
    JVM-side ``regexp_count``; DuckDB mirrors with
    ``len(regexp_extract_all(...))``."""
    return df.withColumn(
        "n_bpe_tokens", F.regexp_count(F.col(text_col), F.lit(BPE_TOKEN_PATTERN)).cast("long")
    )


def winnowing_fingerprints(df: DataFrame, k: int = 8, w: int = 4,
                           id_col: str = "doc_id", text_col: str = "text") -> DataFrame:
    """Rolling-hash document fingerprints by winnowing (Schleimer et al.,
    SIGMOD'03 — the standard local fingerprinting for near-dup / plagiarism
    sweeps): hash every character k-gram, slide a window of ``w`` hashes,
    keep each window's minimum (rightmost on ties).  A document pair sharing
    any k-gram run longer than w+k-1 chars is guaranteed to share a selected
    fingerprint.

    Expressed as pure relational ops so the DuckDB oracle can reproduce it
    bit-for-bit: posexplode of k-gram positions → portable md5-derived hash
    → ``min over (partition by doc rows between current and w-1 following)``
    → distinct.  One shuffle on the doc id (the window), no Python.
    """
    from pyspark.sql.window import Window

    text = F.lower(F.col(text_col))
    # grams are assembled from exploded CHARS with a k-wide sliding window,
    # NOT per-position ``substring(text, i, k)``: substring seeks the char
    # position from the string start (UTF-8 variable width), making the
    # gram pass O(len²) — a >1 MB page never finished — and a char-array
    # slice inside a higher-order transform re-evaluates the captured
    # split() per element (Catalyst inlines single-use aliases into the
    # lambda).  The sliding collect_list is O(k) per row and its window
    # shares the (doc, pos) sort the winnowing min-window needs anyway.
    chars = df.select(
        F.col(id_col).alias("doc"),
        F.posexplode(F.split(text, "")).alias("pos0", "_ch"),
    )
    gram_w = (
        Window.partitionBy("doc").orderBy("pos0")
        .rowsBetween(Window.currentRow, k - 1)
    )
    count_w = Window.partitionBy("doc")
    grams = (
        chars.withColumn("gram", F.array_join(F.collect_list("_ch").over(gram_w), ""))
        .withColumn("_n_chars", F.count("*").over(count_w))
        .withColumn("pos", F.col("pos0") + 1)  # 1-based char positions (SQL parity)
        .filter(F.col("pos") <= F.col("_n_chars") - (k - 1))  # full grams only
        .select("doc", "pos", "gram")
    )
    # pack (hash, position) into ONE long so the window min is portable to
    # DuckDB (no struct-min in its window functions): hash in the high bits,
    # (2^30 - pos) in the low 30 — equal hashes prefer the LATER position
    # (the standard rightmost-min winnowing determinism rule).  Fits exactly:
    # 32-bit hash × 2^30 ≤ 2^62 < 2^63, and the 2^30 position space covers
    # ~1.07 GB documents (web pages routinely exceed the 2^20 ≈ 1 MB a
    # 20-bit field allowed; beyond it the low field went non-positive and
    # borrowed into the hash bits, corrupting the window min)
    _POS_BASE = 1 << 30
    hashed = grams.withColumn(
        "h", F.conv(F.substring(F.md5(F.col("gram")), 1, 8), 16, 10).cast("long")
    ).withColumn(
        "_packed", F.col("h") * F.lit(_POS_BASE) + (F.lit(_POS_BASE) - F.col("pos"))
    )
    win = (
        Window.partitionBy("doc").orderBy("pos")
        .rowsBetween(Window.currentRow, w - 1)
    )
    packed = hashed.withColumn("_pick", F.min("_packed").over(win)).withColumn(
        "_n", F.count("*").over(Window.partitionBy("doc"))
    )
    return (
        packed.filter(F.col("pos") <= F.col("_n") - w + 1)  # full windows only
        .select(
            "doc",
            F.shiftright(F.col("_pick"), 30).alias("fp_hash"),
            (F.lit(_POS_BASE) - F.col("_pick").bitwiseAND(F.lit(_POS_BASE - 1))).cast("int").alias("fp_pos"),
        )
        .distinct()
    )


def token_logfreq_score(df: DataFrame, id_col: str = "doc_id",
                        text_col: str = "text") -> DataFrame:
    """Corpus-frequency quality score — the public analogue of a KenLM
    perplexity filter (C4/Gopher-style): rare-token-heavy garbage scores
    low.  Two passes over the token explode: (1) corpus TERM frequency per
    token (total occurrences, not distinct documents — the q57 oracle
    counts the same way), (2) per-doc mean log10(tf/total_tokens).

    Portability: each token's log is floored to integer ppm FIRST, the
    per-doc aggregate is an exact integer SUM (order-free across any
    shuffle), and the mean divides integers with floor — bit-identical in
    any engine, unlike avg-of-doubles whose summation order varies.

    Returns (id, n_tokens, logfreq_ppm) — higher (closer to 0) = more
    common vocabulary."""
    toks = df.select(
        F.col(id_col).alias("_id"),
        F.explode(words(F.col(text_col))).alias("tok"),
    )
    tf = toks.groupBy("tok").agg(F.count(F.lit(1)).alias("tf"))
    total = toks.count()  # one bounded action: the corpus token count
    per_tok = toks.join(tf, "tok").select(
        "_id",
        F.floor(F.lit(1_000_000.0) * F.log10(F.col("tf") / F.lit(float(total))))
        .cast("long").alias("lp_ppm"),
    )
    return (
        per_tok.groupBy("_id")
        .agg(F.count(F.lit(1)).alias("n_tokens"), F.sum("lp_ppm").alias("_s"))
        .select(
            F.col("_id").alias(id_col),
            F.col("n_tokens").cast("long").alias("n_tokens"),
            F.floor(F.col("_s") / F.col("n_tokens")).cast("long").alias("logfreq_ppm"),
        )
    )


def repetition_ratio(df: DataFrame, n: int = 3, id_col: str = "doc_id",
                     text_col: str = "text") -> DataFrame:
    """Duplicate n-gram ratio — the Gopher repetition filter: machine-
    generated/boilerplate text repeats shingles.  ratio_ppm =
    floor(1e6 × (1 − distinct/total)) over word n-grams; pure integer
    counts, so it is exactly engine-portable.  Returns
    (id, n_shingles, dup_ratio_ppm)."""
    # NOT _shingles_of(): that one array_distincts for the dedup joins — the
    # repetition ratio needs RAW shingle counts
    raw = df.select(
        F.col(id_col).alias("_id"),
        F.explode(word_ngrams(F.col(text_col), n)).alias("s"),
    )
    agg = raw.groupBy("_id").agg(
        F.count(F.lit(1)).alias("n_shingles"),
        F.countDistinct("s").alias("n_distinct"),
    )
    return agg.select(
        F.col("_id").alias(id_col),
        F.col("n_shingles").cast("long").alias("n_shingles"),
        F.floor(
            F.lit(1_000_000.0)
            * (F.col("n_shingles") - F.col("n_distinct")) / F.col("n_shingles")
        ).cast("long").alias("dup_ratio_ppm"),
    )


def gopher_repetition_signals(df: DataFrame, top_n: int = 2, dup_n: int = 5,
                              id_col: str = "doc_id",
                              text_col: str = "text") -> DataFrame:
    """Character-coverage repetition signals from the Gopher quality-filter
    family (Rae et al. 2021, "Scaling Language Models" §A1.1 — public;
    also used by RefinedWeb/Dolma):

    * ``top{top_n}gram_char_ppm`` — characters covered by the single most
      frequent word ``top_n``-gram: floor(1e6 × count(top gram) ×
      len(top gram) / doc chars).  Boilerplate headers/footers repeated
      through a page dominate this even when the duplicate-RATIO stays low.
    * ``dup{dup_n}gram_char_ppm`` — characters covered by word
      ``dup_n``-grams occurring ≥ 2×: floor(1e6 × Σ count×len over
      duplicated grams / doc chars).  Catches long-span repetition the
      trigram ratio under-weights.

    Distinct from :func:`repetition_ratio`: that one counts duplicate
    SHINGLES; these weight by CHARACTERS, so one long repeated slogan
    scores high even in a long document.

    Determinism/portability: ties on the top gram break to the
    lexicographically smallest gram (``min(s)`` among max-count grams —
    a single-valued aggregate both engines order identically on the
    binary/UTF-8 collation used here: ASCII corpus); all ratios are
    floor-ppm over exact integer products.  Gram char length includes the
    joining spaces (len of the gram string itself).  Docs shorter than n
    words emit one truncated gram (same convention as repetition_ratio,
    so the SQL replay shares the explode shape).

    Plan shape at scale: one explode per n → groupBy (doc, gram) with
    map-side partial aggregation → groupBy doc.  Both shuffles key on the
    doc id (plus gram), so no global hotspot; no Python in the path.

    Returns (id, n_chars, top{n}gram_char_ppm, dup{n}gram_char_ppm).
    """
    base = df.select(
        F.col(id_col).alias("_id"),
        F.length(F.trim(F.col(text_col))).alias("n_chars"),
        F.col(text_col).alias("_t"),
    )

    def grams(n: int):
        return base.select(
            "_id", "n_chars", F.explode(word_ngrams(F.col("_t"), n)).alias("s"))

    # top gram: per-(doc, gram) counts → per-doc max count → min gram among
    # the maxima (deterministic tie-break) → char coverage
    tcnt = grams(top_n).groupBy("_id", "n_chars", "s").agg(
        F.count(F.lit(1)).alias("cnt")
    )
    tmax = tcnt.groupBy("_id").agg(F.max("cnt").alias("max_cnt"))
    top = (
        tcnt.join(tmax, "_id")
        .where(F.col("cnt") == F.col("max_cnt"))
        .groupBy("_id", "n_chars", "cnt")
        .agg(F.min("s").alias("top_s"))
        .select(
            "_id",
            F.floor(
                F.lit(1_000_000.0) * F.col("cnt") * F.length("top_s")
                / F.greatest(F.col("n_chars"), F.lit(1))
            ).cast("long").alias(f"top{top_n}gram_char_ppm"),
        )
    )

    # duplicated grams: Σ count×len over grams with count ≥ 2
    dcnt = grams(dup_n).groupBy("_id", "n_chars", "s").agg(
        F.count(F.lit(1)).alias("cnt")
    )
    dup = dcnt.groupBy("_id", "n_chars").agg(
        F.sum(
            F.when(F.col("cnt") >= 2, F.col("cnt") * F.length("s")).otherwise(0)
        ).alias("dup_chars")
    ).select(
        "_id",
        F.col("n_chars").cast("long").alias("n_chars"),
        F.floor(
            F.lit(1_000_000.0) * F.col("dup_chars")
            / F.greatest(F.col("n_chars"), F.lit(1))
        ).cast("long").alias(f"dup{dup_n}gram_char_ppm"),
    )

    return dup.join(top, "_id").select(
        F.col("_id").alias(id_col),
        "n_chars",
        f"top{top_n}gram_char_ppm",
        f"dup{dup_n}gram_char_ppm",
    )


def gopher_quality_gate(df: DataFrame, min_words: int = 50,
                        max_words: int = 100_000,
                        min_mean_word_len: int = 3, max_mean_word_len: int = 10,
                        min_alpha_word_ppm: int = 800_000,
                        max_symbol_ppm: int = 100_000,
                        min_stop_hits: int = 2,
                        id_col: str = "doc_id",
                        text_col: str = "text") -> DataFrame:
    """The Gopher composite document filter (Rae et al. 2021 §A1.1 —
    the rule set RefinedWeb/Dolma reimplement), over this module's
    signals, with the published defaults:

    * ``words``   — word count within [min_words, max_words];
    * ``wordlen`` — mean word length within [3, 10] chars;
    * ``alpha``   — ≥ 80 % of words contain an alphabetic character;
    * ``symbol``  — symbol('#', '…')-to-word ratio ≤ 0.1;
    * ``stops``   — at least ``min_stop_hits`` DISTINCT stopword markers
      present (EN ∪ VI marker sets above).

    Pure JVM column expressions; all ratios floor-ppm (exact cross-engine,
    replayed in q23's oracle).  Returns the signal columns plus
    ``fail_reasons`` (comma-joined rule names, '' = clean) and ``passed``.
    """
    text = F.trim(F.col(text_col))
    n_words = F.size(words(F.col(text_col)))
    # the words of the trimmed text are separated by n_words - 1 spaces
    sum_len = F.length(text) - (n_words - 1)
    mean_len_ppm = F.floor(
        F.lit(1_000_000.0) * sum_len / F.greatest(n_words, F.lit(1))
    ).cast("long")
    # one match per word holding an ASCII letter
    n_alpha = F.regexp_count(text, F.lit(r"(?:^| )[^ A-Za-z]*[A-Za-z]"))
    alpha_ppm = F.floor(
        F.lit(1_000_000.0) * n_alpha / F.greatest(n_words, F.lit(1))
    ).cast("long")
    n_symbols = (F.length(text)
                 - F.length(F.regexp_replace(text, r"[#…]", "")))
    symbol_ppm = F.floor(
        F.lit(1_000_000.0) * n_symbols / F.greatest(n_words, F.lit(1))
    ).cast("long")
    stop_hits = F.size(F.array_distinct(F.regexp_extract_all(
        F.lower(text), F.lit(_marker_pattern(EN_MARKERS + VI_MARKERS)), 1,
    ))).cast("long")

    out = (
        df.withColumn("n_words", n_words.cast("long"))
        .withColumn("mean_word_len_ppm", mean_len_ppm)
        .withColumn("alpha_word_ppm", alpha_ppm)
        .withColumn("symbol_ppm", symbol_ppm)
        .withColumn("stop_hits", stop_hits)
    )
    reasons = F.concat_ws(
        ",",
        F.when((F.col("n_words") < min_words)
               | (F.col("n_words") > max_words), F.lit("words")),
        F.when((F.col("mean_word_len_ppm") < min_mean_word_len * 1_000_000)
               | (F.col("mean_word_len_ppm") > max_mean_word_len * 1_000_000),
               F.lit("wordlen")),
        F.when(F.col("alpha_word_ppm") < min_alpha_word_ppm, F.lit("alpha")),
        F.when(F.col("symbol_ppm") > max_symbol_ppm, F.lit("symbol")),
        F.when(F.col("stop_hits") < min_stop_hits, F.lit("stops")),
    )
    return out.withColumn("fail_reasons", reasons).withColumn(
        "passed", F.col("fail_reasons") == ""
    )
