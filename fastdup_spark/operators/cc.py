"""Connected components via alternating large-star / small-star.

The reference computes components in one opaque C++ call whose output contract
is `connected_components.csv` (__id, component_id, ... — /root/reference/
RUN.md:95-115, definitions.py:15) with singleton filtering downstream
(/root/reference/fastdup/fastdup_controller.py:440). Here it is the iterative
DataFrame algorithm of Kiveris et al., "Connected Components in MapReduce and
Beyond" (SOCC'14) — the standard O(log n)-round formulation that scales to
trillion-edge graphs:

  large-star(u): connect every strictly-larger neighbor of u to
                 m = min(Γ(u) ∪ {u})
  small-star(u): connect every neighbor ≤ u (and u itself) to
                 m = min(Γ≤(u) ∪ {u})

Each round is two shuffles (groupBy min + join); iteration stops when the
edge multiset is stable (checked with a cheap count+hash aggregate). Every
round is eagerly localCheckpointed, which cuts lineage (SURVEY §7 hard
part 3) and lets the digest read cached blocks.

Edge sets up to ``_CC_DRIVER_EDGES_MAX`` with integral ids skip the rounds:
they are collected and resolved by ``_union_find_edges``, the one
vectorized union-find in the package (semdedup's per-cluster kernel
calls it too).

Determinism: component id == min doc_id of the component (stable across
partitionings and cluster sizes).
"""

from __future__ import annotations

import numpy as np
from pyspark.sql import DataFrame
from pyspark.sql import functions as F
from pyspark.sql.types import IntegralType

# Edge sets at or below this size resolve on the driver (arrow collect +
# vectorized union-find) instead of the iterative star rounds: each star
# round is ~5 shuffles + an eager checkpoint + a digest job, which is pure
# job-spine overhead when the edge set is thousands-to-millions of rows
# (measured r07: 3.4s of the 4.2s minhash_lsh_dedup query at sf0.1 was CC
# rounds over 236 edges). 2M edges is ~32 MB on the driver — the same
# driver-bounded budget class as the kmeans centroid collect and the
# incremental _DRIVER_IDS_MAX paths. The distributed algorithm is
# unchanged above the gate (the 100-TB path; a graph with more edges than
# the gate never touches the driver).
_CC_DRIVER_EDGES_MAX = 2_000_000


def _bidir(edges: DataFrame) -> DataFrame:
    """(src,dst) undirected edge list -> both directions (u,v), self-loops dropped."""
    e = edges.select(F.col("src").alias("u"), F.col("dst").alias("v"))
    return e.union(e.select(F.col("v").alias("u"), F.col("u").alias("v"))).filter("u != v")


def _large_star(edges: DataFrame) -> DataFrame:
    """Emit (v, m_u) for every neighbor v > u, where m_u = min(Γ(u) ∪ {u})."""
    eb = _bidir(edges)
    m = eb.groupBy("u").agg(F.min("v").alias("mn"))
    m = m.select("u", F.least("mn", "u").alias("m"))
    return (
        eb.join(m, "u")
        .filter(F.col("v") > F.col("u"))
        .select(F.col("v").alias("src"), F.col("m").alias("dst"))
        .filter("src != dst")
    )


def _small_star(edges: DataFrame) -> DataFrame:
    """For each u over its ≤-neighbors N = {v ∈ Γ(u): v < u}: m = min(N ∪ {u});
    emit (v, m) for v ∈ N ∪ {u}, v ≠ m."""
    lower = _bidir(edges).filter(F.col("v") < F.col("u"))
    m = lower.groupBy("u").agg(F.min("v").alias("m"))  # v<u ⇒ min(N∪{u}) = min(N)
    nbr_edges = (
        lower.join(m, "u")
        .select(F.col("v").alias("src"), F.col("m").alias("dst"))
        .filter("src != dst")
    )
    self_edges = m.select(F.col("u").alias("src"), F.col("m").alias("dst"))
    return nbr_edges.union(self_edges)


def _edge_digest(edges: DataFrame) -> tuple[int, int]:
    """Cheap stability check: (count, xor-ish hash) of the directed edge
    set. The input is already distinct (the loop and the entry both
    dedupe), so no canonicalize+distinct exchange: both sides of the
    convergence comparison use the same digest, equality at the star-set
    fixpoint still holds, and a spurious inequality merely runs one extra
    (cheap, already-converged) round."""
    row = (
        edges.agg(F.count("*").alias("n"),
                  F.coalesce(F.bit_xor(F.xxhash64("src", "dst")),
                             F.lit(0)).alias("h"))
        .collect()[0]
    )
    return int(row["n"]), int(row["h"])


def _union_find_edges(parent: np.ndarray, u: np.ndarray,
                      v: np.ndarray) -> np.ndarray:
    """Vectorized union over index edge arrays (Shiloach-Vishkin hook +
    full pointer-jumping). np.minimum.at resolves conflicting hooks
    monotonically, so the fixpoint — min index per component — does not
    depend on edge order. O(log n) passes over the arrays. The returned
    parents are fully pointer-jumped: parent[i] is i's root."""
    while True:
        while True:
            p2 = parent[parent]
            if np.array_equal(p2, parent):
                break
            parent = p2
        ru, rv = parent[u], parent[v]
        hi = np.maximum(ru, rv)
        lo = np.minimum(ru, rv)
        diff = hi != lo
        if not diff.any():
            return parent
        np.minimum.at(parent, hi[diff], lo[diff])


def _min_roots(src: np.ndarray, dst: np.ndarray
               ) -> tuple[np.ndarray, np.ndarray]:
    """Every vertex of an int64 edge list (sorted) and the min vertex of
    its component."""
    uids, inv = np.unique(np.concatenate([src, dst]), return_inverse=True)
    parent = _union_find_edges(
        np.arange(uids.size, dtype=np.int64),
        inv[:src.size], inv[src.size:])
    # uids is sorted, so the min component INDEX is the min member ID
    return uids, uids[parent]


def _driver_components(edges: DataFrame) -> DataFrame:
    """Small-graph fast path: collect the (already distinct,
    checkpointed, integer-id) edge set via Arrow, union-find in numpy,
    return the same (doc_id, component_id = min member id) table the
    star rounds converge to."""
    pdf = edges.toPandas()
    uids, roots = _min_roots(pdf["src"].to_numpy(dtype=np.int64),
                             pdf["dst"].to_numpy(dtype=np.int64))
    import pandas as pd
    out = pd.DataFrame({"doc_id": uids, "component_id": roots})
    return edges.sparkSession.createDataFrame(out)


def connected_components(edges: DataFrame, vertices: DataFrame | None = None,
                         max_iter: int = 50,
                         driver_edges_max: int | None = None) -> DataFrame:
    """edges(src,dst) -> assignments(doc_id, component_id).

    ``vertices`` (one ``doc_id`` column) adds isolated docs as singleton
    components (component_id = own id) — matching the reference where every
    item gets a component row and singletons are filtered later
    (fastdup_controller.py:440).

    ``driver_edges_max`` gates the small-graph driver fast path (default
    ``_CC_DRIVER_EDGES_MAX``; 0 forces the distributed star rounds). Ids
    that are not integers always take the star rounds.
    """
    spark = edges.sparkSession
    # Eagerly checkpoint every round: truncates lineage AND materializes the
    # edge set once, so the digest (and the next round) read cached blocks
    # instead of recomputing the whole iterative plan. The entry digest's
    # count over those blocks decides emptiness and the driver gate, so the
    # input plan runs exactly once.
    e = edges.select("src", "dst").filter("src != dst").distinct() \
        .localCheckpoint(eager=True)
    prev = _edge_digest(e)
    if prev[0] == 0:
        if vertices is None:
            schema = "doc_id bigint, component_id bigint"
            return spark.createDataFrame([], schema)
        return vertices.select(
            F.col("doc_id"), F.col("doc_id").alias("component_id"))

    gate = _CC_DRIVER_EDGES_MAX if driver_edges_max is None \
        else driver_edges_max
    # the driver path's contract: integer ids (np.int64 arrays)
    integral = all(isinstance(e.schema[c].dataType, IntegralType)
                   for c in ("src", "dst"))
    if gate and integral and prev[0] <= gate:
        # a small graph skips the whole round loop (each round: ~5
        # shuffles + checkpoint + digest job)
        comp = _driver_components(e)
    else:
        for _ in range(max_iter):
            e = _small_star(_large_star(e)).distinct() \
                .localCheckpoint(eager=True)
            cur = _edge_digest(e)
            if cur == prev:
                break
            prev = cur

        # converged: star graphs — every node points at its min
        eb = _bidir(e)
        comp = (
            eb.groupBy("u").agg(F.min("v").alias("mn"))
            .select(F.col("u").alias("doc_id"),
                    F.least("mn", "u").alias("component_id"))
        )
    if vertices is not None:
        singles = vertices.select("doc_id").join(comp.select("doc_id"), "doc_id", "left_anti")
        comp = comp.unionByName(
            singles.select("doc_id", F.col("doc_id").alias("component_id")))
    return comp
