"""PageRank (integer-ppm fixed-iteration) semantics."""


def _py_pagerank_ppm(edges, damping_ppm=850_000, iters=3):
    """Independent driver-side reimplementation of the exact contract
    (N-relative encoding: 1e6 = the uniform share; pure integer div)."""
    e = sorted({(u, v) for u, v in edges if u != v})
    nodes = sorted({u for u, _ in e} | {v for _, v in e})
    od = {}
    for u, _ in e:
        od[u] = od.get(u, 0) + 1
    base = 1_000_000 - damping_ppm
    rank = {v: 1_000_000 for v in nodes}
    for _ in range(iters):
        acc = {v: 0 for v in nodes}
        for u, v in e:
            acc[v] += (rank[u] * damping_ppm) // (1_000_000 * od[u])
        rank = {v: base + acc[v] for v in nodes}
    return rank


def test_pagerank_hand_graph(spark):
    from pcrawler_spark.operators.linkrank import pagerank_ppm

    # star: everyone links to 0; 0 links to 1.  Node 0 must dominate.
    edges = [(1, 0), (2, 0), (3, 0), (4, 0), (0, 1), (1, 1), (2, 0)]
    df = spark.createDataFrame(edges, "src long, dst long")
    got = {r["node"]: r["rank_ppm"] for r in pagerank_ppm(df).collect()}
    want = _py_pagerank_ppm(edges)
    assert got == want
    assert got[0] == max(got.values())
    # nodes 2..4 are dangling-in only (no in-links) → exactly the teleport
    # base, N-independent in the relative encoding
    assert got[2] == got[3] == got[4] == 1_000_000 - 850_000


def test_pagerank_chain_and_dangling_mass(spark):
    from pcrawler_spark.operators.linkrank import pagerank_ppm

    # chain 0→1→2; 2 dangles (its mass leaks by design — ranking unaffected)
    df = spark.createDataFrame([(0, 1), (1, 2)], "src long, dst long")
    got = {r["node"]: r["rank_ppm"] for r in pagerank_ppm(df, iters=2).collect()}
    want = _py_pagerank_ppm([(0, 1), (1, 2)], iters=2)
    assert got == want
    assert got[2] > got[1] > got[0]  # downstream accumulates authority


def test_pagerank_empty_graph(spark):
    from pcrawler_spark.operators.linkrank import pagerank_ppm

    df = spark.createDataFrame([], "src long, dst long")
    assert pagerank_ppm(df).count() == 0


def test_bm25_hand_model(spark):
    """bm25_topk vs an independent Python model on a tiny corpus, plus the
    ranking sanity every BM25 must satisfy: a term-dense short doc outranks
    a term-sparse long one; docs without query terms never appear."""
    import math

    from pcrawler_spark.operators.retrieval import bm25_topk

    corpus = [
        (1, "spark join spark join spark"),            # dense, short
        (2, "spark alpha beta gamma delta eps zeta eta theta iota"),
        (3, "alpha beta gamma delta"),                 # no query terms
        (4, "join vector window spark join"),          # all four terms
        (5, "window window window window window window window window"),
    ]
    df = spark.createDataFrame(corpus, "doc_id long, text string")
    got = {r["doc_id"]: (r["score_ppm"], r["n_terms_matched"])
           for r in bm25_topk(df, ("spark", "vector", "window", "join"), k=10).collect()}

    # independent model (k1=1.5, b=0.75, Lucene-style idf, floor-ppm)
    toks = {d: t.split(" ") for d, t in corpus}
    N = len(toks)
    avgdl = float(sum(len(v) for v in toks.values())) / float(N)
    terms = ("spark", "vector", "window", "join")
    df_t = {t: sum(1 for v in toks.values() if t in v) for t in terms}
    want = {}
    for d, v in toks.items():
        s, m = 0, 0
        for t in terms:
            tf = v.count(t)
            if not tf:
                continue
            idf = math.floor(1e6 * math.log((N - df_t[t] + 0.5) / (df_t[t] + 0.5) + 1.0))
            s += math.floor(idf * (tf * 2.5) / (tf + 1.5 * (0.25 + (0.75 * len(v)) / avgdl)))
            m += 1
        if m:
            want[d] = (s, m)
    assert got == want
    assert 3 not in got
    assert got[4][1] == 4                       # matched all four terms
    assert got[1][0] > got[2][0]                # dense short beats sparse long


def test_bm25_empty_corpus(spark):
    """An empty corpus returns an empty top-k with the documented schema
    instead of raising on its null length total."""
    from pcrawler_spark.operators.retrieval import bm25_topk

    out = bm25_topk(spark.createDataFrame([], "doc_id long, text string"), ("spark",))
    assert out.collect() == []
    assert [(f.name, f.dataType.simpleString()) for f in out.schema.fields] == [
        ("doc_id", "bigint"), ("score_ppm", "bigint"), ("n_terms_matched", "bigint")]


def test_rrf_fuse_consensus_and_exactness(spark):
    """RRF: a doc ranked by BOTH lists outranks single-list docs that beat
    it in one list; values match the independent formula exactly."""
    import math

    from pcrawler_spark.operators.retrieval import rrf_fuse

    lex = spark.createDataFrame([(1, 1), (2, 2), (3, 3)], "id long, rank long")
    vec = spark.createDataFrame([(3, 1), (4, 2), (5, 3)], "id long, rank long")
    got = {r["id"]: (r["rrf_ppm"], r["n_lists"])
           for r in rrf_fuse([lex, vec], k_const=60, topk=10).collect()}

    def c(rank):
        return math.floor(1_000_000.0 / (60.0 + rank))

    assert got == {
        1: (c(1), 1), 2: (c(2), 1), 4: (c(2), 1), 5: (c(3), 1),
        3: (c(3) + c(1), 2),            # consensus: rank-3 + rank-1
    }
    assert got[3][0] == max(v for v, _ in got.values())  # consensus wins
