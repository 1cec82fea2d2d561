"""entry() smoke + ANN quality checks the SQL oracle can't express."""

import pytest
from pyspark.sql import functions as F

import __spark_entry__ as entry_mod

SF_DIR = "/root/testdata/sf0.01"


def test_entry_smoke(spark):
    df = entry_mod.entry(spark)
    rows = df.collect()
    assert len(rows) > 0
    assert "email" in df.columns and "name" in df.columns


def test_ivf_recall_vs_bruteforce(spark):
    """IVF with n_probe=2 over 20 label cells must reach decent recall@5
    against the exact brute-force ranking (the ANN quality contract)."""
    bf = entry_mod.q29_knn_bruteforce(spark, SF_DIR).collect()
    # r5: q30 carries both index variants — this test pins the label path
    ivf = (entry_mod.q30_knn_ivf(spark, SF_DIR)
           .filter(F.col("variant") == "label").collect())
    bf_sets = {}
    for r in bf:
        bf_sets.setdefault(r.query_id, set()).add(r.neighbor_id)
    hits = total = 0
    for r in ivf:
        total += 1
        hits += r.neighbor_id in bf_sets[r.query_id]
    recall = hits / max(total, 1)
    assert recall >= 0.3, f"IVF recall@5 too low: {recall}"
    # every IVF hit must carry the same cosine the brute-force assigns
    bf_cos = {(r.query_id, r.neighbor_id): r.cos for r in bf}
    for r in ivf:
        if (r.query_id, r.neighbor_id) in bf_cos:
            assert abs(bf_cos[(r.query_id, r.neighbor_id)] - r.cos) < 1e-9


def test_hyperplane_lsh_recall_on_near_dups(spark):
    """Random-hyperplane LSH must recover (nearly) all true near-duplicate
    pairs on a clustered corpus: vectors that are small perturbations of a
    base direction have tiny angles, so their sign signatures agree within
    the Hamming budget."""
    import math

    from pcrawler_spark.operators.knn import cosine_near_pairs, hyperplane_lsh_pairs

    def vec(base_seed, jitter_seed, eps):
        # deterministic pseudo-random unit-ish vectors
        base = [math.sin(0.7 * base_seed * (i + 1)) for i in range(16)]
        return [b + eps * math.sin(2.3 * jitter_seed * (i + 3)) for i, b in enumerate(base)]

    rows = []
    vid = 0
    for cluster in range(5):
        for member in range(4):  # 4 near-identical vectors per cluster
            rows.append((vid, vec(cluster + 1, member + 1, 0.02)))
            vid += 1
    for k in range(20):  # unrelated noise vectors
        rows.append((vid, vec(100 + 7 * k, k + 1, 0.8)))
        vid += 1
    df = spark.createDataFrame(rows, "vec_id long, embedding array<double>")
    exact = {(r.id_a, r.id_b) for r in cosine_near_pairs(df, threshold=0.98).collect()}
    lsh = {(r.id_a, r.id_b) for r in hyperplane_lsh_pairs(df, threshold=0.98, n_bits=16,
                                                          max_hamming=4, dim=16).collect()}
    assert len(exact) >= 20, "clusters must produce true near-dup pairs"
    assert lsh <= exact  # the exact-cosine filter admits no false positives
    recall = len(lsh) / len(exact)
    assert recall >= 0.9, f"recall {recall}: {len(lsh)}/{len(exact)}"


def _md5_hyperplane_sign(vec, seed: int):
    """Reference derivation of one signature bit, evaluated per element in
    Spark SQL: sign of <v, w_seed> with w_seed[i] = +1 when the first 8 hex
    digits of md5("seed:i") are odd, else -1 — the portable rule the q43
    oracle replays."""
    prods = F.transform(
        vec,
        lambda x, i: x * F.when(
            F.conv(
                F.substring(F.md5(F.concat(F.lit(f"{seed}:"), i.cast("string"))), 1, 8),
                16, 10,
            ).cast("long").bitwiseAND(F.lit(1)) == 1,
            F.lit(1.0),
        ).otherwise(F.lit(-1.0)),
    )
    dot = F.aggregate(prods, F.lit(0.0), lambda a, x: a + x)
    return F.when(dot > 0, 1).otherwise(0)


def test_hyperplane_precomputed_matrix_matches_md5_path(spark):
    """The driver-precomputed ±1 matrix must hold EXACTLY the weights of
    the per-element Spark md5 derivation (so every signature bit agrees
    with it), and hyperplane_lsh_pairs must reject wrong-dimension
    vectors."""
    import math

    import pytest
    from pcrawler_spark.operators.knn import _hyperplane_matrix, hyperplane_lsh_pairs

    rows = [
        (i, [math.sin(0.7 * (i % 6 + 1) * (j + 1)) + 0.02 * math.sin(2.3 * i * (j + 3))
             for j in range(12)])
        for i in range(40)
    ]
    df = spark.createDataFrame(rows, "vec_id long, embedding array<double>")
    n_bits, dim = 16, 12
    mat = _hyperplane_matrix(n_bits, dim)
    # one-hot rows read the reference weight w_seed[i] back out exactly
    unit = spark.createDataFrame(
        [(i, [1.0 if j == i else 0.0 for j in range(dim)]) for i in range(dim)],
        "i int, v array<double>")
    ref = unit.select("i", *[_md5_hyperplane_sign(F.col("v"), s).alias(f"b{s}")
                             for s in range(n_bits)]).collect()
    assert {(r.i, s): r[f"b{s}"] for r in ref for s in range(n_bits)} == \
        {(i, s): int(mat[s][i] > 0) for i in range(dim) for s in range(n_bits)}

    kw = dict(threshold=0.9, n_bits=n_bits, max_hamming=4)
    assert hyperplane_lsh_pairs(df, dim=dim, **kw).count() > 0

    with pytest.raises(Exception, match="expected dim"):
        hyperplane_lsh_pairs(df, dim=10, **kw).collect()


def test_learned_ivf_recall_and_kmeans_properties(spark):
    """Learned-cell IVF (k-means fit) must hold the same recall@5 bar as the
    label-cell path against exact brute force, and the fit itself must be
    deterministic (fixed init, no RNG) with non-degenerate cells."""
    from pcrawler_spark.operators.knn import assign_cells, ivf_topk_learned, kmeans_fit
    from pyspark.sql import functions as F

    e = spark.read.parquet(f"{SF_DIR}/embeddings.parquet")
    q = e.filter(F.col("vec_id") < 10)
    bf = entry_mod.q29_knn_bruteforce(spark, SF_DIR).collect()
    ivf = ivf_topk_learned(e, q, k=5, n_probe=2, n_cells=8, n_iter=3).collect()
    bf_sets = {}
    for r in bf:
        bf_sets.setdefault(r.query_id, set()).add(r.neighbor_id)
    hits = total = 0
    for r in ivf:
        total += 1
        hits += r.neighbor_id in bf_sets[r.query_id]
    recall = hits / max(total, 1)
    assert recall >= 0.3, f"learned-IVF recall@5 too low: {recall}"
    bf_cos = {(r.query_id, r.neighbor_id): r.cos for r in bf}
    for r in ivf:
        if (r.query_id, r.neighbor_id) in bf_cos:
            assert abs(bf_cos[(r.query_id, r.neighbor_id)] - r.cos) < 1e-9

    cents = kmeans_fit(e, n_cells=8, n_iter=3)
    again = kmeans_fit(e, n_cells=8, n_iter=3)
    c1 = sorted((r.cell, tuple(r.centroid)) for r in cents.collect())
    c2 = sorted((r.cell, tuple(r.centroid)) for r in again.collect())
    assert c1 == c2, "k-means fit must be deterministic"
    assigned = assign_cells(
        e.select(F.col("vec_id").alias("id"),
                 F.col("embedding").cast("array<double>").alias("v")), cents)
    sizes = {r.cell: r.n for r in assigned.groupBy("cell").agg(F.count("*").alias("n")).collect()}
    assert len(sizes) >= 6, f"cells collapsed: {sizes}"


def test_pq_adc_quality_and_compression(spark):
    """PQ/ADC (q53): the approximate ranking must overlap the exact L2
    ranking (recall@5 over the same corpus), the encoding must compress to
    exactly m_sub codes per vector with codes < n_codes, and the fit must
    be deterministic (re-run → identical codebook)."""
    from pcrawler_spark.operators.knn import pq_encode, pq_fit, pq_topk

    e = spark.read.parquet(SF_DIR + "/embeddings.parquet")
    q = e.filter(F.col("vec_id") < 10)

    pq = pq_topk(e, q, dim=64, k=5, m_sub=16, n_codes=32, n_iter=2).collect()
    assert len(pq) == 10 * 5

    # exact L2 ranking for recall (squared L2, same tiebreak)
    ev = {r.vec_id: r.embedding for r in e.collect()}
    import math
    exact = {}
    for qi in range(10):
        qv = ev[qi]
        d = sorted(
            (sum((a - b) ** 2 for a, b in zip(qv, v)), i)
            for i, v in ev.items() if i != qi
        )
        exact[qi] = {i for _, i in d[:5]}
    hits = sum(r.neighbor_id in exact[r.query_id] for r in pq)
    recall = hits / len(pq)
    assert recall >= 0.3, f"PQ recall@5 too low: {recall}"

    cb = pq_fit(e, dim=64, m_sub=16, n_codes=32, n_iter=2)
    enc = pq_encode(e, cb, dim=64, m_sub=16)
    per_vec = enc.groupBy("id").count().collect()
    assert all(r["count"] == 16 for r in per_vec)
    assert enc.filter((F.col("code") < 0) | (F.col("code") >= 32)).count() == 0
    # deterministic fit
    cb2 = pq_fit(e, dim=64, m_sub=16, n_codes=32, n_iter=2)
    assert sorted(map(tuple, cb.collect())) == sorted(map(tuple, cb2.collect()))

    # subspace slicing is exact: codebook vectors are sub_dim wide
    assert all(len(r["cvec"]) == 4 for r in cb.collect())


def test_kmeans_maxmin_bounded_actions(spark, count_actions):
    """init='maxmin' must stay inside the bounded-driver-action discipline:
    1 first-seed pick + (n_cells-1) single-pass struct-min aggs +
    n_iter centroid updates — no per-seed sort-scan, no count/toPandas.
    (The r3 version ran a full orderBy().limit(1) scan per seed.)"""
    from pcrawler_spark.operators.knn import kmeans_fit

    rows = [(i, [float((i * 7 + d) % 13) for d in range(8)]) for i in range(200)]
    df = spark.createDataFrame(rows, "vec_id long, embedding array<double>")

    n_cells, n_iter = 6, 2
    calls = count_actions()
    cents = kmeans_fit(df, n_cells=n_cells, n_iter=n_iter, init="maxmin")
    assert dict(calls) == {"collect": 1 + (n_cells - 1) + n_iter,
                           "count": 0, "toPandas": 0}
    assert cents.count() == n_cells


def test_pq_rerank_recall_vs_bruteforce(spark):
    """PQ + exact re-rank (q53): ADC top-R candidates re-ranked by exact
    cosine on full vectors must reach recall@5 ≥ 0.9 against brute force —
    the production-grade bar ADC alone (~0.42 on these near-random
    synthetic embeddings) cannot hit.  R=100 (the q53 setting) is 20% of
    this 500-vector corpus — R=50 measured 0.88 here, so the candidate
    pool, not the re-rank, is the recall knob, exactly as in the paper."""
    from pcrawler_spark.operators.knn import brute_force_topk, pq_topk

    e = spark.read.parquet(SF_DIR + "/embeddings.parquet")
    q = e.filter(F.col("vec_id") < 10)
    truth = brute_force_topk(e, q, k=5).collect()
    got = pq_topk(e, q, dim=64, k=5, rerank=100,
                  m_sub=16, n_codes=32, n_iter=2).collect()
    tset = {(r.query_id, r.neighbor_id) for r in truth}
    gset = {(r.query_id, r.neighbor_id) for r in got}
    recall = len(gset & tset) / len(tset)
    assert recall >= 0.9, f"PQ+rerank recall@5 too low: {recall}"
    # the q53 driver config fits on a 1-in-4 hash sample (train-on-sample):
    # recall must hold there too (measured 0.98 on this corpus)
    got_s = pq_topk(e, q, dim=64, k=5, rerank=100,
                    m_sub=16, n_codes=32, n_iter=2,
                    fit_sample_mod=4).collect()
    gset_s = {(r.query_id, r.neighbor_id) for r in got_s}
    recall_s = len(gset_s & tset) / len(tset)
    assert recall_s >= 0.9, f"sampled-fit recall@5 too low: {recall_s}"
    # a re-ranked hit carries the same exact cosine brute force assigns
    t_cos = {(r.query_id, r.neighbor_id): r.cos for r in truth}
    for r in got:
        if (r.query_id, r.neighbor_id) in t_cos:
            assert abs(t_cos[(r.query_id, r.neighbor_id)] - r.cos) < 1e-9


def test_pq_dim_validation(spark):
    from pcrawler_spark.operators.knn import pq_fit

    e = spark.read.parquet(SF_DIR + "/embeddings.parquet")
    with pytest.raises(ValueError):
        pq_fit(e, dim=64, m_sub=5)


def test_ivf_pq_prunes_to_probed_cells(spark):
    """q54's neighbors must all come from each query's 2 probed cells —
    the candidate-set pruning is real, not decorative.  (r5: q54 runs on
    the planted-cluster table, so cells are real clusters.)"""
    from pcrawler_spark.operators.knn import ivf_build, cosine_similarity_col
    from pcrawler_spark.sources.synthetic import planted_cluster_embeddings

    e = planted_cluster_embeddings(
        spark.read.parquet(SF_DIR + "/embeddings.parquet"))
    res = entry_mod.q54_ivf_pq_topk(spark, SF_DIR).collect()
    labels = {r.vec_id: r.label for r in e.select("vec_id", "label").collect()}

    cents = {r.cell: r.centroid for r in ivf_build(e).collect()}
    qv = {r.vec_id: r.embedding for r in e.filter(F.col("vec_id") < 10).collect()}

    import math
    def cos(a, b):
        d = sum(x * y for x, y in zip(a, b))
        return round(d / (math.sqrt(sum(x * x for x in a)) * math.sqrt(sum(y * y for y in b))), 6)

    for q in qv:
        probed = sorted(cents, key=lambda c: (-cos(qv[q], cents[c]), c))[:2]
        for r in res:
            if r.query_id == q:
                assert labels[r.neighbor_id] in probed, (q, r.neighbor_id)


def test_kmeans_maxmin_init_on_clustered_data(spark):
    """Deterministic farthest-point init: on data whose smallest ids all sit
    in ONE cluster (the minid-init worst case), maxmin seeding must find
    the other clusters and beat minid's within-cluster cosine objective."""
    from pcrawler_spark.operators.knn import assign_cells, cosine_similarity_col, kmeans_fit

    import math
    # 4 well-separated direction clusters in 8-dim; ids 0..24 ALL in cluster 0
    rows = []
    vid = 0
    for c, base in enumerate([0, 2, 4, 6]):
        for j in range(25):
            v = [0.0] * 8
            v[base] = 1.0
            v[(base + 1) % 8] = 0.05 * ((j % 5) - 2)  # slight spread
            rows.append((vid, v))
            vid += 1
    df = spark.createDataFrame(rows, "vec_id long, embedding array<double>")

    def objective(init):
        cents = kmeans_fit(df, n_cells=4, n_iter=2, init=init)
        e = df.select(F.col("vec_id").alias("id"), F.col("embedding").alias("v"))
        a = assign_cells(e, cents)
        j = a.join(cents, "cell").withColumn("cos", cosine_similarity_col("v", "centroid"))
        return j.agg(F.avg("cos")).collect()[0][0]

    o_minid = objective("minid")
    o_maxmin = objective("maxmin")
    assert o_maxmin > o_minid + 0.05, (o_minid, o_maxmin)
    # and it is deterministic
    assert objective("maxmin") == o_maxmin


def _clustered_embeddings(spark, n_clusters=4, per=25, dim=8):
    """Deterministic direction clusters with small spread — the data shape
    where IVF cells are REAL and residual quantization should shine."""
    rows = []
    vid = 0
    for c in range(n_clusters):
        for j in range(per):
            v = [0.0] * dim
            v[2 * c] = 1.0
            v[(2 * c + 1) % dim] = 0.08 * ((j % 7) - 3)
            v[(2 * c + 2) % dim] = 0.05 * ((j % 5) - 2)
            rows.append((vid, v, c))
            vid += 1
    return spark.createDataFrame(
        rows, "vec_id long, embedding array<double>, label int")


_PQ = dict(dim=8, m_sub=4, n_codes=8, n_iter=2)


@pytest.mark.parametrize("search, kw", [
    ("pq_topk", _PQ),
    ("ivf_pq_topk", dict(_PQ, n_probe=4)),
    ("ivf_pq_residual_topk", dict(_PQ, n_probe=4)),
    ("sq8_topk", {}),
    ("ivf_sq8_topk", dict(n_probe=4)),
], ids=["pq", "ivf_pq", "ivf_pq_residual", "sq8", "ivf_sq8"])
def test_rerank_exactness_invariant(spark, search, kw):
    """Every re-rank path: with ``rerank`` ≥ |corpus| and (IVF) every cell
    probed, the candidate set is the whole corpus, so the exact re-rank
    must EQUAL brute force row for row — the end-to-end correctness
    invariant that needs no oracle slot."""
    from pcrawler_spark.operators import knn

    df = _clustered_embeddings(spark)
    q = df.filter(F.col("vec_id") % 25 == 0)
    truth = sorted(map(tuple, knn.brute_force_topk(df, q, k=5).collect()))
    got = sorted(map(tuple, getattr(knn, search)(df, q, k=5, rerank=100, **kw).collect()))
    assert len(truth) == 4 * 5
    assert got == truth


def test_ivf_pq_residual_beats_raw_encoding_on_clusters(spark):
    """On clustered data the residual codebooks quantize the small
    within-cell spread instead of the large between-cell offsets, so the
    ADC-only ranking (no re-rank) must recover the exact within-probed
    top-k at least as well as raw-vector IVF+PQ — the reason production
    IVFADC encodes residuals."""
    from pcrawler_spark.operators.knn import (
        brute_force_topk, ivf_pq_residual_topk, ivf_pq_topk)

    df = _clustered_embeddings(spark)
    q = df.filter(F.col("vec_id") % 25 == 0)
    # exact SQUARED-L2 top-5 (ADC's own metric) restricted to each query's
    # own cluster (= its probed cell under n_probe=1: every query is the
    # cluster's first vector)
    vecs = {r.vec_id: r.embedding for r in df.collect()}
    tpairs = set()
    for qq in (0, 25, 50, 75):
        members = [i for i in vecs if i // 25 == qq // 25 and i != qq]
        d = sorted(
            (sum((a - b) ** 2 for a, b in zip(vecs[qq], vecs[i])), i)
            for i in members
        )
        tpairs |= {(qq, i) for _, i in d[:5]}

    def recall(res):
        got = {(r.query_id, r.neighbor_id) for r in res.collect()}
        return len(got & tpairs) / len(tpairs)

    kw = dict(dim=8, k=5, n_probe=1, m_sub=4, n_codes=8, n_iter=2)
    r_res = recall(ivf_pq_residual_topk(df, q, **kw))
    r_raw = recall(ivf_pq_topk(df, q, **kw))
    assert r_res >= r_raw, (r_res, r_raw)
    assert r_res >= 0.6, r_res


def test_sq8_quality_compression_determinism(spark):
    """8-bit scalar quantization (FAISS SQ8 shape): the asymmetric scan over
    codes alone must nearly reproduce exact L2 ranking (per-dim resolution
    range/255 ≫ PQ's subspace granularity), codes must be true bytes
    (dim per vector, 0..255), the fit deterministic, and the exact re-rank
    must recover brute force fully."""
    from pcrawler_spark.operators.knn import (
        brute_force_topk, sq8_encode, sq8_fit, sq8_topk)

    e = spark.read.parquet(SF_DIR + "/embeddings.parquet")
    q = e.filter(F.col("vec_id") < 10)

    # exact squared-L2 truth (the scan's own metric)
    ev = {r.vec_id: r.embedding for r in e.collect()}
    tpairs = set()
    for qi in range(10):
        d = sorted(
            (sum((a - b) ** 2 for a, b in zip(ev[qi], v)), i)
            for i, v in ev.items() if i != qi
        )
        tpairs |= {(qi, i) for _, i in d[:5]}

    got = {(r.query_id, r.neighbor_id)
           for r in sq8_topk(e, q, k=5).collect()}
    recall = len(got & tpairs) / len(tpairs)
    assert recall >= 0.9, f"SQ8 codes-only recall too low: {recall}"

    # with the exact re-rank: equals brute force (cosine metric) row for row
    truth = sorted((r.query_id, r.neighbor_id, r.rank)
                   for r in brute_force_topk(e, q, k=5).collect())
    rr = sorted((r.query_id, r.neighbor_id, r.rank)
                for r in sq8_topk(e, q, k=5, rerank=50).collect())
    assert rr == truth

    bounds = sq8_fit(e)
    enc = sq8_encode(e, bounds).collect()
    assert all(len(r.codes) == 64 for r in enc)
    assert all(0 <= c <= 255 for r in enc for c in r.codes)
    enc2 = sq8_encode(e, sq8_fit(e)).collect()
    assert sorted((r.id, tuple(r.codes)) for r in enc) == \
           sorted((r.id, tuple(r.codes)) for r in enc2)


def test_ivf_sq8_prunes_to_probed_cell(spark):
    """ivf_sq8_topk (IVF cells + SQ8 codes — the composition sq8_topk's
    docstring promises): under probe-1 every neighbor must come from the
    query's single probed cell — pruning is real, not decorative.  (Its
    exactness with every cell probed is in test_rerank_exactness_invariant.)"""
    import math
    from pcrawler_spark.operators.knn import ivf_build, ivf_sq8_topk

    df = _clustered_embeddings(spark)
    q = df.filter(F.col("vec_id") % 25 == 0)
    res = ivf_sq8_topk(df, q, k=5, n_probe=1).collect()
    assert len(res) > 0
    labels = {r.vec_id: r.label for r in df.collect()}
    cents = {r.cell: r.centroid for r in ivf_build(df).collect()}
    qvecs = {r.vec_id: r.embedding for r in q.collect()}

    def cos(a, b):
        d = sum(x * y for x, y in zip(a, b))
        return round(d / (math.sqrt(sum(x * x for x in a))
                          * math.sqrt(sum(y * y for y in b))), 6)

    for qq, v in qvecs.items():
        probed = min(cents, key=lambda c: (-cos(v, cents[c]), c))
        for r in res:
            if r.query_id == qq:
                assert labels[r.neighbor_id] == probed, (qq, r.neighbor_id)


def test_q54_clustered_recall_at_probe_budget(spark):
    """The driver-checked q54 config (probe-2/16 = 12.5% corpus coverage,
    ADC m=16×32, re-rank 50) must demonstrate RETRIEVAL on the
    planted-cluster table: recall@5 ≥ 0.9 vs brute force at the same
    budget (r4's clusterless config capped at probe coverage ≈ 0.32)."""
    from pcrawler_spark.operators.knn import brute_force_topk
    from pcrawler_spark.sources.synthetic import planted_cluster_embeddings

    e = planted_cluster_embeddings(
        spark.read.parquet(SF_DIR + "/embeddings.parquet"))
    q = e.filter(F.col("vec_id") < 10)
    tset = {(r.query_id, r.neighbor_id)
            for r in brute_force_topk(e, q, k=5).collect()}
    gset = {(r.query_id, r.neighbor_id)
            for r in entry_mod.q54_ivf_pq_topk(spark, SF_DIR).collect()}
    recall = len(gset & tset) / len(tset)
    assert recall >= 0.9, f"clustered IVF+PQ recall@5 too low: {recall}"
