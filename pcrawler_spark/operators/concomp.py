"""Connected components over near-duplicate pair graphs — the clustering
step that turns dedup PAIRS (MinHash/SimHash/Jaccard/embedding output) into
dedup GROUPS, so a pipeline can keep one canonical document per group.

The reference has no graph step at all (its dedup is per-key SQL DELETE,
pcrawler's `crawler/db.py` unique constraints); at 100 TB the near-dup graph
itself is billions of edges, so this uses the alternating large-star /
small-star algorithm (Kiveris et al., "Connected Components in MapReduce and
Beyond", SoCC'14 — public): each round is two groupBy/join passes over the
edge list, and the edge diameter collapses in O(log^2 n) rounds — NOT the
O(diameter) of naive label propagation, which livelocks on long chains
(exactly what page-near-dup graphs produce across mirror farms).

Scale shape per round: symmetrize → groupBy(min) → same-key join (the
aggregation's exchange is reused by the join), then distinct.  Lineage is
truncated with localCheckpoint (iterative joins otherwise stack plans
until the driver OOMs planning, long before data is the problem).

Driver-pacing discipline (the measured round-4 bottleneck): TWO
large/small-star rounds run per convergence check, the checkpoints are
LAZY (``eager=False`` — the signature collect that follows is the action
that materializes them), so the whole loop costs ONE driver job per two
star rounds instead of round 4's two jobs per one round — a 4× cut in the
fixed scheduling + barrier tax that capped the composed training
pipeline's N→4N efficiency at 0.65.  Convergence is still detected with
one bounded agg action (count + order-free hash-sum signature): star
steps are monotone in the potential of Kiveris et al. §4, so an unchanged
signature across a 2-round batch can only occur at the fixpoint (a
period-2 cycle would need the potential to increase).

TWO-PHASE finish (the round-5 fix for the remaining 0.205-efficiency CC
tail): star rounds run only WHILE the edge set exceeds a one-task budget
(``local_finish_edges``, default 4M edges ≈ 64 MB of longs); once it fits,
ONE task finishes the contraction with vectorized numpy min-label
propagation + pointer jumping instead of more driver-paced rounds.  This
is the standard "local finishing" phase of MapReduce CC (Kiveris et al.
§6.3 run their final contraction on a single machine once the graph
fits): the tail rounds touch ever-smaller data but pay the FULL fixed
scheduling + shuffle + checkpoint cost per round — exactly the part of
the job that cannot speed up with more executors (measured: the
star-loop-to-fixpoint plan was *slower* at 4× workers, 28→35 s on a
1.4M-edge graph, because per-round overhead grows with task count).  At
the 10^10-doc design point the loop still runs O(log²) distributed rounds
while edges are in the billions, and the finish replaces only the last
~log rounds where the contracted graph is tiny.

Safety of the early hand-off: both star steps PRESERVE THE NODE SET —
every node incident to an edge before a step is incident to an edge
after it (large-star: a node with a smaller neighbor w survives as the
src of (x, min(N(w)∪{w})); a node smaller than all neighbors survives as
the dst every larger neighbor emits; small-star: the (u, m(u)) /
(v, m(u)) pair covers both endpoints, and a node whose own edge would
self-loop is re-emitted as the dst of its larger neighbor's edge) — and
they preserve the component partition (Kiveris et al. §4), so min-label
propagation over ANY intermediate edge set yields the original
components' min-id labels for every non-isolated node.
"""

from __future__ import annotations

from typing import Optional

from pyspark.sql import DataFrame, functions as F

__all__ = ["connected_components", "canonical_docs"]


def _sym(e: DataFrame) -> DataFrame:
    # explode(array(fwd, rev)) rather than a self-union: one scan instead of
    # two, and it sidesteps a Catalyst Union constraint-rewrite crash
    # (NoSuchElementException in UnionBase.rewriteConstraints) that
    # self-unions of derived plans can trigger on Spark 4.1
    return e.select(
        F.explode(
            F.array(
                F.struct(F.col("u").alias("u"), F.col("v").alias("v")),
                F.struct(F.col("v").alias("u"), F.col("u").alias("v")),
            )
        ).alias("_e")
    ).select("_e.u", "_e.v")


def _large_star(e: DataFrame) -> DataFrame:
    """Connect every strictly-larger neighbor of u to min(N(u) ∪ {u})."""
    b = _sym(e)
    m = (
        b.groupBy("u").agg(F.min("v").alias("mv"))
        .select("u", F.least("u", "mv").alias("m"))
    )
    return (
        b.join(m, "u")
        .where(F.col("v") > F.col("u"))
        .select(F.col("v").alias("u"), F.col("m").alias("v"))
        .where(F.col("u") != F.col("v"))
        .distinct()
    )


def _small_star(e: DataFrame) -> DataFrame:
    """Orient edges large→small, then connect every neighbor (and u itself)
    to the minimum of the oriented neighborhood."""
    d = e.select(
        F.greatest("u", "v").alias("u"), F.least("u", "v").alias("v")
    ).distinct()
    m = d.groupBy("u").agg(F.min("v").alias("m"))
    j = d.join(m, "u")
    # emit (v, m) per neighbor and (u, m) — via explode, not a self-union
    # (see _sym); the duplicate (u, m) rows collapse in the distinct
    out = j.select(
        F.explode(
            F.array(
                F.struct(F.col("v").alias("u"), F.col("m").alias("v")),
                F.struct(F.col("u").alias("u"), F.col("m").alias("v")),
            )
        ).alias("_e")
    ).select("_e.u", "_e.v")
    return out.where(F.col("u") != F.col("v")).distinct()


def _signature(e: DataFrame):
    """Order-free convergence signature in ONE action: (edge count,
    sum of per-edge hashes).  Equal signatures on a distinct edge set mean
    an unchanged set (hash-sum collision would need an exact multiset
    cancellation over xxhash64 — not a correctness risk worth a 2nd scan,
    and a false 'converged' is impossible anyway: star steps are monotone,
    an unchanged count+sum only occurs at the fixpoint)."""
    row = e.agg(
        F.count(F.lit(1)).alias("n"),
        # decimal sum: xxhash64 values sum past the long range under ANSI
        F.sum(F.xxhash64("u", "v").cast("decimal(28,0)")).alias("h"),
    ).collect()[0]
    return row["n"], row["h"]


#: largest node count whose packed pair key ``a * n + b`` (a, b < n) fits
#: int64: floor(sqrt(2**63 - 1))
_PACKED_KEY_MAX_IDS = 3_037_000_499


def _np_min_labels(u, v):
    """Vectorized min-label propagation with pointer jumping over an edge
    list (int64 numpy arrays): returns (ids, lab) where ``ids`` is the
    sorted unique node array and ``ids[lab]`` each node's component min id.
    Sorted-once adjacency + buffered ``np.minimum.reduceat`` segment mins
    (module docstring of :func:`_local_cc_labels`)."""
    import numpy as np

    ids, inv = np.unique(np.concatenate((u, v)), return_inverse=True)
    a = inv[: u.size]
    b_ = inv[u.size:]
    # drop duplicate (a, b) pairs in index space before building the
    # adjacency: the LSH star-edge stream repeats the same (root, member)
    # pair once per agreeing band (~4x on the training corpus — 3.1M raw
    # vs ~0.9M unique at 1.2M docs), and every duplicate pays full freight
    # through the argsort + per-pass reduceat below.  ids.size is bounded
    # by 2x the task budget (~8M), so the packed key fits int64 unless the
    # budget is raised past ~1.5e9 nodes (then the row-wise unique below
    # takes over); duplicates never change the components (r7 — the 4x4
    # weak-mode CC finish was the one non-flat stage of the pipeline
    # decomposition).
    if ids.size <= _PACKED_KEY_MAX_IDS:
        key = np.unique(a * np.int64(ids.size) + b_)
        a = key // ids.size
        b_ = key % ids.size
    else:  # the packed key would overflow int64: dedup the pairs as rows
        pairs = np.unique(np.stack((a, b_), axis=1), axis=0)
        a, b_ = pairs[:, 0], pairs[:, 1]
    keys = np.concatenate((a, b_))
    others = np.concatenate((b_, a))
    order = np.argsort(keys, kind="stable")
    adj = others[order]
    ks = keys[order]
    starts = np.flatnonzero(np.r_[True, ks[1:] != ks[:-1]])
    lab = np.arange(ids.size, dtype=np.int64)
    while True:
        prev = lab
        lab = np.minimum(lab, np.minimum.reduceat(lab[adj], starts))
        lab = lab[lab]
        if np.array_equal(lab, prev):
            break
    return ids, lab


def _local_cc_labels(e: DataFrame) -> DataFrame:
    """ONE-task finish for a contracted graph that fits a task budget:
    vectorized min-label propagation with pointer jumping (Shiloach/
    Vishkin-style, all numpy — no per-row Python).  Converges in O(log n)
    passes.  The adjacency is SORTED ONCE up front (edge endpoints never
    change across passes) so each pass is one gather + one buffered
    ``np.minimum.reduceat`` segment-min — ~1.7× faster end-to-end than the
    unbuffered ``np.minimum.at`` scatter formulation it replaces (measured
    1.0 s vs 1.7 s on a 1.2M-edge chain+random worst case).

    Star steps preserve the node set (module docstring), so the labels
    this emits cover EVERY non-isolated node of the original graph —
    no nodes-side join needed.
    """

    def finish(batches):
        import numpy as np
        import pandas as pd

        us, vs = [], []
        for b in batches:
            us.append(b["u"].to_numpy(dtype=np.int64))
            vs.append(b["v"].to_numpy(dtype=np.int64))
        if not us:
            return
        u = np.concatenate(us)
        v = np.concatenate(vs)
        # ids sorted ascending => min index <=> min id, so index-space
        # labels translate back to min-id-per-component via ids[lab]
        ids, lab = _np_min_labels(u, v)
        yield pd.DataFrame({"u": ids, "component": ids[lab]})

    # coalesce, not repartition: one task reads the (already small)
    # shuffle/checkpoint blocks directly — no extra exchange
    return e.coalesce(1).mapInPandas(finish, "u long, component long")


def connected_components(edges: DataFrame, src: str = "src", dst: str = "dst",
                         max_iter: int = 25,
                         num_partitions: Optional[int] = None,
                         local_finish_edges: int = 4_000_000) -> DataFrame:
    """→ DataFrame(id long, component long): every node of the (undirected)
    edge list labeled with the MINIMUM node id of its component.

    ``max_iter`` is a backstop on STAR ROUNDS (two run per convergence
    check): large/small-star converges in O(log^2 n) rounds (~10 for 10^10
    nodes); hitting the cap raises rather than silently returning partial
    clusters.

    ``local_finish_edges``: once the edge set is at or below this size,
    the remaining contraction runs as ONE vectorized task instead of more
    driver-paced star rounds (module docstring: the two-phase finish).
    The FIRST budget check counts the raw (pre-distinct) edge list —
    raw ≥ distinct, so a raw count under budget is a conservative, always-
    correct hand-off decision that skips the distinct's full shuffle AND
    the star loop's separate signature job (the numpy finish is invariant
    to duplicate/self-loop edges); only a graph too big for one task pays
    for distinct + per-round signatures.  Pass 0 to force the pure
    distributed loop (tests exercising star-round convergence do this).
    """
    e_raw = (
        edges.select(
            F.col(src).cast("long").alias("u"), F.col(dst).cast("long").alias("v")
        )
        .where(F.col("u") != F.col("v"))
        .where(F.col("u").isNotNull() & F.col("v").isNotNull())
    )
    # lazy checkpoints: the counting action materializes them — no
    # dedicated materialization job.  (A parallel per-partition numpy
    # contraction pass was measured here and REJECTED: on 1.2M-6M-edge
    # banded graphs at 4×4 local-cluster the Arrow round-trip costs 2-3×
    # more than the JVM-side distinct + one-task fetch it would save —
    # BENCH_NOTES.md "negative results".)
    e_raw = e_raw.localCheckpoint(eager=False)
    if e_raw.count() <= local_finish_edges:
        return _local_cc_labels(e_raw).select(F.col("u").alias("id"), "component")

    e = e_raw.distinct()
    if num_partitions:
        e = e.repartition(num_partitions, "u")
    e = e.localCheckpoint(eager=False)
    sig = _signature(e)
    at_fixpoint = False
    rounds = 0
    while sig[0] > local_finish_edges:
        if rounds >= max_iter:
            raise RuntimeError(
                f"connected_components did not converge in {max_iter} rounds"
            )
        # two star rounds per driver action; only e2 is checkpoint-marked.
        # (Do NOT mark `mid` too: with the default
        # spark.checkpoint.checkpointAllMarkedAncestors=false the signature
        # action completes only e2's checkpoint, so a mark on `mid` never
        # truncates lineage — it would just persist one MEMORY_AND_DISK
        # copy of the intermediate edge set per batch, a pure leak.)
        mid = _small_star(_large_star(e))
        e2 = _small_star(_large_star(mid)).localCheckpoint(eager=False)
        sig2 = _signature(e2)
        rounds += 2
        e = e2
        if sig2 == sig:
            at_fixpoint = True
            break
        sig = sig2

    if not at_fixpoint:
        # phase 2: the graph fits one task — finish locally, labels cover
        # every node (star steps preserve the node set)
        return _local_cc_labels(e).select(
            F.col("u").alias("id"), "component"
        )

    # converged distributed: the edge set is a union of stars
    # (child → root); a node with no surviving edge is its own root
    nodes = _sym(e).select("u").distinct()
    labels = e.groupBy("u").agg(F.min("v").alias("component"))
    return (
        nodes.join(labels, "u", "left")
        .select(
            F.col("u").alias("id"),
            F.coalesce("component", F.col("u")).alias("component"),
        )
    )


def canonical_docs(docs: DataFrame, components: DataFrame,
                   id_col: str = "doc_id") -> DataFrame:
    """Keep ONE document per near-dup cluster: the component root (minimum
    id — deterministic, no tie-break shuffle).  Documents that appear in no
    pair are their own cluster and always survive."""
    roots = components.where(F.col("id") == F.col("component")).select(
        F.col("id").alias(id_col)
    )
    in_graph = components.select(F.col("id").alias(id_col))
    keep_missing = docs.join(in_graph, id_col, "left_anti")
    return docs.join(roots, id_col, "left_semi").unionByName(keep_missing)
