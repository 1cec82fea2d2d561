"""Differential test: the compiled text expressions of
``pcrawler_spark.operators.textstats`` (``word_ngrams``,
``full_word_ngrams``, ``marker_count``), ``gopher_quality_gate``'s word
signals and ``chunking.token_chunks`` against the word-array expressions
they replaced — ``split(trim(text), ' ')`` walked by the interpreted
``transform`` / ``filter`` / ``aggregate`` lambdas.

Both must give the same values on the sf0.01 documents, a sample of the
training-doc generator, hand-picked edge strings and generated strings:
runs of spaces, leading/trailing spaces, tabs and newlines, fewer than n
words, ``''``, null, supplementary-plane characters and ``lower()``
case-folding cases.  The one intended difference is null text: the old
n-gram form gave it the shingle ``''`` (so null docs were near-duplicates
of each other and of ``''``); the reference below gives it ``[]``.
"""

from __future__ import annotations

from functools import reduce

from hypothesis import HealthCheck, given, settings, strategies as st
from pyspark.sql import functions as F

from pcrawler_spark.operators.chunking import token_chunks
from pcrawler_spark.operators.textstats import (
    EN_MARKERS, VI_MARKERS, full_word_ngrams, gopher_quality_gate,
    marker_count, word_ngrams)
from pcrawler_spark.sources.trainingdocs import _doc_text

SF_DIR = "/root/testdata/sf0.01"
NS = (1, 2, 3, 4, 5, 13)
CHUNK_SIZES = (1, 2, 3, 64)


# ---- the reference: the word-array expressions the package used before ----

def _empty():
    return F.array().cast("array<string>")


def _old_words(text):
    return F.split(F.trim(text), " ")


def _old_grams(w, n):
    return F.transform(
        F.sequence(F.lit(1), F.greatest(F.size(w) - (n - 1), F.lit(1))),
        lambda i: F.concat_ws(" ", F.slice(w, i, n)),
    )


def old_ngrams(text, n):
    """``_shingles_of``'s gram array before array_distinct (repetition and
    Gopher signals too); null text gives [] instead of the old ['']."""
    return F.when(text.isNull(), _empty()).otherwise(_old_grams(_old_words(text), n))


def old_full_ngrams(text, n):
    """``_gram_hits``' windows: none under n words (null for null text;
    the old form's [] and the new null both posexplode to no rows)."""
    w = _old_words(text)
    return F.when(F.size(w) >= n, _old_grams(w, n)).when(text.isNotNull(), _empty())


def old_stop_count(text, markers):
    """``quality_score``'s stop-word count (lower per word)."""
    return F.size(F.filter(_old_words(text), lambda t: F.lower(t).isin(*markers)))


def old_lang_count(text, markers):
    """``lang_id``'s marker count (split of the lowered text)."""
    toks = F.split(F.lower(F.trim(text)), " ")
    return F.size(F.filter(toks, lambda t: t.isin(*markers)))


def old_gate_columns(text):
    """``gopher_quality_gate``'s mean word length, alpha-word share and
    distinct stop hits.  The ppm columns compare exactly only if
    ``sum_len`` and the alpha count do: under 10^6 words a count off by
    one moves the floor-ppm."""
    w = _old_words(text)
    n = F.greatest(F.size(w), F.lit(1))
    sum_len = F.aggregate(w, F.lit(0), lambda acc, x: acc + F.length(x))
    alpha = F.size(F.filter(w, lambda x: x.rlike("[A-Za-z]")))
    markers = EN_MARKERS + VI_MARKERS
    stops = F.size(F.array_distinct(
        F.filter(F.transform(w, F.lower), lambda x: x.isin(*markers))))
    return {
        "mean_word_len_ppm": F.floor(F.lit(1_000_000.0) * sum_len / n).cast("long"),
        "alpha_word_ppm": F.floor(F.lit(1_000_000.0) * alpha / n).cast("long"),
        "stop_hits": stops.cast("long"),
    }


def old_token_chunks(docs, c):
    toks = F.col("_w")
    n_chunks = F.ceil(F.size(toks) / F.lit(float(c))).cast("int")
    windows = F.transform(F.sequence(F.lit(0), n_chunks - 1),
                          lambda i: F.slice(toks, i * c + 1, c))
    return docs.select("id", _old_words(F.col("text")).alias("_w")).select(
        "id", F.posexplode(windows).alias("chunk_id", "_ctoks"),
    ).select(
        "id", F.col("chunk_id").cast("long").alias("chunk_id"),
        F.array_join("_ctoks", " ").alias("chunk_text"),
        F.size("_ctoks").cast("long").alias("n_chunk_tokens"),
    )


# ---- the comparison ----

def _pairs():
    t = F.col("text")
    pairs = {}
    for n in NS:
        pairs[f"word_ngrams({n})"] = (old_ngrams(t, n), word_ngrams(t, n))
        pairs[f"full_word_ngrams({n})"] = (old_full_ngrams(t, n), full_word_ngrams(t, n))
    for name, m in (("en", EN_MARKERS), ("vi", VI_MARKERS)):
        pairs[f"stop_count_{name}"] = (old_stop_count(t, m), marker_count(t, m))
        pairs[f"lang_count_{name}"] = (old_lang_count(t, m), marker_count(t, m))
    return pairs


def mismatches(docs):
    """[(check, text, old, new)] over docs(id, text); empty when the two
    forms agree everywhere."""
    pairs = _pairs()
    gate_ref = old_gate_columns(F.col("text"))
    cols = [F.col("id"), F.col("text")]
    for k, (old, new) in pairs.items():
        cols += [old.alias(f"old:{k}"), new.alias(f"new:{k}")]
    cols += [v.alias(f"old:{k}") for k, v in gate_ref.items()]
    rows = gopher_quality_gate(docs.select(*cols), id_col="id").collect()
    bad = []
    for r in rows:
        for k in list(pairs) + list(gate_ref):
            new = r[k] if k in gate_ref else r[f"new:{k}"]
            if r[f"old:{k}"] != new:
                bad.append((k, r["text"], r[f"old:{k}"], new))

    def chunk_rows(fn):
        parts = [fn(c).withColumn("c", F.lit(c)) for c in CHUNK_SIZES]
        return sorted(tuple(r) for r in reduce(lambda a, b: a.unionByName(b), parts).collect())

    old_c = chunk_rows(lambda c: old_token_chunks(docs, c))
    new_c = chunk_rows(lambda c: token_chunks(docs, c, id_col="id"))
    if old_c != new_c:
        only_old, only_new = set(old_c) - set(new_c), set(new_c) - set(old_c)
        bad.append(("token_chunks", None, sorted(only_old)[:5], sorted(only_new)[:5]))
    return bad


def _frame(spark, texts):
    return spark.createDataFrame(list(enumerate(texts)), "id long, text string")


EDGE = [
    None, "", " ", "   ", "a", " a ", "a  b", "  a   b  c ", "a\tb c", "\t",
    "\n", "the\n", "the\nthe", "a b\n", "\nthe the", "the\r\nis",
    "😀 emoji 😀 x y", "😀😀 😀", "x 😀", "𝔘𝔫𝔦 code 𝔘𝔫𝔦", "a 🇻🇳 b c",
    "İs THE İ i̇s", "ΣΑΣ Σ the ς", "ẞ STRASSE the ß", "The A OF aNd IS",
    "và của là các cho VÀ CỦA", "#… # the…", "xxx     y",
    " ".join(["w"] * 20), "a b c d e f g h i j k l m n",
    "\xa0the\xa0 \u3000the", "the\u2028a \u0085of", "a\x0bb \x1cthe",
    "and a theand athe of-is is. the,",
]


def test_edge_strings(spark):
    assert mismatches(_frame(spark, EDGE)) == []


def test_sf001_documents(spark):
    d = spark.read.parquet(f"{SF_DIR}/documents.parquet").select(
        F.col("doc_id").cast("long").alias("id"), "text")
    assert d.count() == 500
    assert mismatches(d) == []


def test_training_generator_sample(spark):
    """A spread of the 240k-doc bench generator: exact-dup, near-dup
    (1-word edit) and unique-suffix docs, ~240 of them."""
    ids = range(0, 240_000, 997)
    assert mismatches(_frame(spark, [_doc_text(i) for i in ids])) == []


_PIECES = st.sampled_from([
    " ", "  ", "\t", "\n", "\r", "\u2028", "\xa0", "the", "The", "THE",
    "a", "A", "of", "and", "is", "và", "của", "là", "các", "cho", "CỦA",
    "İ", "i̇", "Σ", "σ", "ς", "ẞ", "ß", "😀", "𝔘", "🇻🇳", "x", "Ab", "9",
    "#", "…", ".", "-",
])
_TEXTS = st.one_of(
    st.none(),
    st.lists(st.one_of(_PIECES, st.text(max_size=4)), max_size=24).map("".join),
)


@settings(max_examples=25, deadline=None,
          suppress_health_check=[HealthCheck.function_scoped_fixture])
@given(texts=st.lists(_TEXTS, min_size=1, max_size=40))
def test_generated_strings(spark, texts):
    assert mismatches(_frame(spark, texts)) == []

