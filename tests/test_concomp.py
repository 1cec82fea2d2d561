"""Large-star/small-star connected components (operators/concomp.py) vs a
pure-Python BFS oracle, plus the canonical-doc selection."""

import random

from pyspark.sql import functions as F

from pcrawler_spark.operators.concomp import canonical_docs, connected_components


def _bfs_components(n_nodes, edges):
    """Python oracle: min-id component labels by BFS."""
    adj = {}
    for u, v in edges:
        adj.setdefault(u, set()).add(v)
        adj.setdefault(v, set()).add(u)
    label = {}
    for start in sorted(adj):
        if start in label:
            continue
        seen, queue = {start}, [start]
        while queue:
            x = queue.pop()
            for y in adj[x]:
                if y not in seen:
                    seen.add(y)
                    queue.append(y)
        root = min(seen)
        for x in seen:
            label[x] = root
    return label


def _run(spark, edges, **kw):
    df = spark.createDataFrame(edges, "src long, dst long")
    out = connected_components(df, **kw)
    return {r["id"]: r["component"] for r in out.collect()}


def test_random_graphs_match_bfs(spark):
    """Both execution paths — the one-task vectorized finish (default:
    these graphs are far under the local budget) and the pure distributed
    star loop (local_finish_edges=0) — must match the BFS oracle."""
    rng = random.Random(7)
    for trial in range(4):
        n = 60 + 40 * trial
        edges = [
            (rng.randrange(n), rng.randrange(n))
            for _ in range(int(n * (0.4 + 0.3 * trial)))
        ]
        edges = [(u, v) for u, v in edges if u != v]
        want = _bfs_components(n, edges)
        assert _run(spark, edges) == want, f"trial {trial} (local finish)"
        assert _run(spark, edges, local_finish_edges=0) == want, \
            f"trial {trial} (distributed loop)"


def test_long_chain_converges_fast(spark):
    """A 400-node path graph has diameter 399 — naive label propagation
    needs ~400 rounds; the star algorithm must finish inside the O(log^2)
    backstop (this is WHY it's the 100 TB choice).  local_finish_edges=0
    forces the distributed loop to run to its fixpoint."""
    edges = [(i, i + 1) for i in range(399)]
    df = spark.createDataFrame(edges, "src long, dst long")
    out = connected_components(df, max_iter=12, local_finish_edges=0)
    rows = out.collect()
    assert len(rows) == 400
    assert {r["component"] for r in rows} == {0}


def test_hybrid_handoff_mid_contraction(spark):
    """local_finish_edges BETWEEN the initial and fixpoint edge counts:
    some star rounds run, then the one-task finish takes over a partially
    contracted graph — the labels must still be the original components'
    min ids (the node-set-preservation invariant the hand-off relies on)."""
    rng = random.Random(11)
    n = 300
    edges = [(rng.randrange(n), rng.randrange(n)) for _ in range(260)]
    edges = [(u, v) for u, v in edges if u != v]
    want = _bfs_components(n, edges)
    # thresholds sweeping the contraction: hand-off after 0, 2, 4... rounds
    for thresh in (200, 120, 60, 10):
        assert _run(spark, edges, local_finish_edges=thresh) == want, thresh


def test_long_chain_local_finish(spark):
    """The numpy finish's pointer jumping must handle a high-diameter
    graph in O(log) passes (no Spark rounds at all at this size)."""
    edges = [(i, i + 1) for i in range(2999)]
    df = spark.createDataFrame(edges, "src long, dst long")
    out = connected_components(df)
    rows = out.collect()
    assert len(rows) == 3000
    assert {r["component"] for r in rows} == {0}


def test_multi_partition_edges_match_bfs(spark):
    """Components spanning many edge partitions must stitch correctly on
    both execution paths (the finish task gathers all partitions)."""
    rng = random.Random(23)
    n = 500
    edges = [(rng.randrange(n), rng.randrange(n)) for _ in range(700)]
    edges = [(u, v) for u, v in edges if u != v]
    want = _bfs_components(n, edges)
    df = spark.createDataFrame(edges, "src long, dst long").repartition(8)
    out = connected_components(df, local_finish_edges=len(edges) + 1)
    assert {r["id"]: r["component"] for r in out.collect()} == want
    out2 = connected_components(df, local_finish_edges=max(1, len(edges) // 4))
    assert {r["id"]: r["component"] for r in out2.collect()} == want


def test_self_loops_dups_and_reversed_edges(spark):
    edges = [(3, 3), (1, 2), (2, 1), (1, 2), (5, 4)]
    got = _run(spark, edges)
    # the (3,3) self-loop contributes no node — 3 never appears in a pair
    assert got == {1: 1, 2: 1, 4: 4, 5: 4}


def test_canonical_docs_keeps_one_per_cluster(spark):
    docs = spark.createDataFrame(
        [(i, f"text{i}") for i in range(10)], "doc_id long, text string"
    )
    # clusters: {0,1,2}, {5,6}; 3,4,7,8,9 untouched
    pairs = spark.createDataFrame(
        [(0, 1), (1, 2), (5, 6)], "src long, dst long"
    )
    comp = connected_components(pairs)
    kept = canonical_docs(docs, comp)
    assert sorted(r["doc_id"] for r in kept.collect()) == [0, 3, 4, 5, 7, 8, 9]


def test_minhash_pairs_compose(spark):
    """End-to-end: MinHash-LSH pairs → components — the real dedup-group
    pipeline over the documents table."""
    import os

    from pcrawler_spark.operators.simdedup import minhash_lsh_candidates

    sf = os.environ.get("SPARK_GRAFT_TEST_SF", "/root/testdata/sf0.001")
    docs = spark.read.parquet(os.path.join(sf, "documents.parquet"))
    pairs = minhash_lsh_candidates(docs.select("doc_id", "text"))
    comp = connected_components(pairs, src="doc_a", dst="doc_b")
    rows = comp.collect()
    assert len(rows) > 0
    by_id = {r["id"]: r["component"] for r in rows}
    # every component label is the minimum id inside that component
    for comp_id in set(by_id.values()):
        members = [i for i, c in by_id.items() if c == comp_id]
        assert min(members) == comp_id


def test_star_edges_same_components_as_clique_pairs(spark):
    """minhash_lsh_star_edges (bucket-min → member) must yield the SAME
    connected components — and therefore the same canonical docs — as the
    full per-bucket clique of minhash_lsh_candidates, at O(members)
    instead of O(members²) edges.  This is the contract that lets the
    training pipeline swap the quadratic candidate join for star edges."""
    import os

    from pcrawler_spark.operators.simdedup import (
        minhash_lsh_candidates, minhash_lsh_star_edges)

    sf = os.environ.get("SPARK_GRAFT_TEST_SF", "/root/testdata/sf0.001")
    docs = spark.read.parquet(os.path.join(sf, "documents.parquet"))

    clique = minhash_lsh_candidates(docs.select("doc_id", "text"))
    star = minhash_lsh_star_edges(docs.select("doc_id", "text"))
    # star edges skip the distinct (CC dedups its input); the DISTINCT
    # edge set is what's linear in bucket size
    assert star.distinct().count() <= clique.count()

    def comp_map(pairs):
        comp = connected_components(pairs, src="doc_a", dst="doc_b")
        return {r["id"]: r["component"] for r in comp.collect()}

    assert comp_map(clique) == comp_map(star)


def test_star_edges_non_divisible_band_config(spark):
    """band_rows ∤ n_hashes: the trailing partial band carries NULL slots.
    The candidates equi-join emits NOTHING for that band (NULL never
    equi-joins); Window.partitionBy would group those NULLs as EQUAL and
    link docs that agree on fewer than band_rows hashes — the star-edge
    generator must drop the partial band so both paths still produce the
    identical transitive closure (round-5 ADVICE, simdedup.py)."""
    import os

    from pcrawler_spark.operators.concomp import connected_components
    from pcrawler_spark.operators.simdedup import (
        minhash_bands, minhash_lsh_candidates, minhash_lsh_star_edges)

    sf = os.environ.get("SPARK_GRAFT_TEST_SF", "/root/testdata/sf0.001")
    docs = (
        spark.read.parquet(os.path.join(sf, "documents.parquet"))
        .filter("doc_id % 3 = 0")
        .select("doc_id", "text")
    )
    kw = dict(n_hashes=5, band_rows=2)  # 2 full bands + 1 partial

    # the partial band really exists and really carries NULL slots —
    # otherwise this test exercises nothing
    bands = minhash_bands(docs, **kw)
    assert bands.filter("band = 2 AND mh_1 IS NULL").count() > 0

    clique = minhash_lsh_candidates(docs, **kw)
    star = minhash_lsh_star_edges(docs, **kw)

    def comp_map(pairs):
        comp = connected_components(pairs, src="doc_a", dst="doc_b")
        return {r["id"]: r["component"] for r in comp.collect()}

    assert comp_map(clique) == comp_map(star)


def test_local_finish_unpacked_dedup_matches_packed(monkeypatch):
    """Past the node count whose packed pair key would overflow int64 the
    local finish dedups the pairs row-wise, with the same labels."""
    import numpy as np

    from pcrawler_spark.operators import concomp

    rng = np.random.default_rng(5)
    u = rng.integers(0, 300, 2_000).astype(np.int64) * 7919
    v = rng.integers(0, 300, 2_000).astype(np.int64) * 7919
    packed = concomp._np_min_labels(u, v)
    monkeypatch.setattr(concomp, "_PACKED_KEY_MAX_IDS", 0)
    unpacked = concomp._np_min_labels(u, v)
    for want, got in zip(packed, unpacked):
        np.testing.assert_array_equal(want, got)
