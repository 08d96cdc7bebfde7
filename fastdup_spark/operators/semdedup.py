"""SemDeDup-style semantic deduplication over embedding vectors.

Public-knowledge method (Abbas et al. 2023, "SemDeDup: Data-efficient
learning at web-scale through semantic deduplication"): k-means cluster the
embedding space, compare pairs ONLY within a cluster (the cluster bounds
the quadratic), connect pairs whose cosine similarity clears a threshold,
and keep ONE representative per duplicate group — the paper keeps the
example with the LOWEST cosine similarity to its cluster centroid (the
most peripheral point of the group carries the most information).

Reference parity: the reference resolves duplicate groups over visual
embeddings with connected components and keeps one representative
(/root/reference/fastdup/fastdup_controller.py:440 component resolution);
this is the LLM-corpus/semantic form of that operator, complementing the
exact (content-hash), MinHash/LSH and SimHash tiers.

Spark shape (the 100-TB view):

* `kmeans_fit` (operators/kmeans.py): broadcast-centroid argmin — one scan
  per round, no shuffle in the assignment step;
* within-cluster pair generation: ONE shuffle keyed on ``cluster``; the
  per-cluster nested loop is bounded by cluster size, which is SemDeDup's
  design point — k scales with the corpus so clusters stay roughly
  constant-sized. A pathologically skewed cluster is the same hazard as an
  LSH mega-bucket: raise ``k`` (or pre-split the cluster key with a salt);
  this operator does not silently sample;
* duplicate groups: connected components per cluster in one Arrow pass
  (blocked cosine matmul + operators/cc.py's vectorized union-find);
* keep-one: a single window over ``component_id`` — rank by distance to
  the cluster centroid DESC (rounded to 4dp), ties to the smallest id.

Determinism (what makes the DuckDB oracle possible): kmeans_fit's
deterministic init/tie/empty-cluster rules, cosine rounded to 3dp BEFORE
the threshold in both engines, centroid distance rounded to 4dp before the
keep-one ordering, and min-id component labels. The driver query
``semdedup`` is fully oracle-checked end to end (unrolled Lloyd's +
brute-force within-cluster cosine edges + recursive label-flood CC + the
same keep-one window).
"""

from __future__ import annotations

import math

import numpy as np
import pandas as pd
from pyspark.sql import DataFrame, Window
from pyspark.sql import functions as F

from fastdup_spark.functions.similarity import cosine_expr
from fastdup_spark.operators.cc import _union_find_edges
from fastdup_spark.operators.kmeans import kmeans_fit

# composite pair-join key for split clusters: cluster * _SUB_BASE + sub.
# sub < _SUB_BASE always (sub-k is capped below it), so the key is unique.
_SUB_BASE = 65536

# |S - boundary| below this routes a pair through the exact sequential-fold
# + Spark-round replay (_seq_round3): the blocked float64 matmul differs
# from the JVM's left-fold by <~1e-13 relative, so only pairs this close
# to the decision boundary can disagree after rounding to 3dp.
_COS_MARGIN = 1e-9

# row-block height for the within-cluster cosine matmul: bounds the
# (block x n) score matrix so one giant cluster can't allocate an n^2
# float64 buffer (4096 rows x 1e6 cols would still be 32 GB — the
# max_cluster_size guard is the real bound; this caps the constant)
_COS_BLOCK = 2048


def _seq_round3(a: np.ndarray, b: np.ndarray) -> float:
    """Bit-exact replay of round(cosine_expr(a, b), 3) for ONE pair: the
    JVM evaluates each aggregate() as a sequential left fold in doubles,
    and round() on a double applies HALF_UP to its SHORTEST decimal
    representation (scala BigDecimal(double) goes through
    Double.toString) — Decimal(repr(x)) is the exact Python twin."""
    from decimal import ROUND_HALF_UP, Decimal

    dot = 0.0
    na = 0.0
    nb = 0.0
    for x in (a * b).tolist():
        dot += x
    for x in (a * a).tolist():
        na += x
    for x in (b * b).tolist():
        nb += x
    na = math.sqrt(na)
    nb = math.sqrt(nb)
    if na == 0.0 or nb == 0.0:
        c = 0.0
    else:
        c = dot / (na * nb)
    return float(Decimal(repr(c)).quantize(Decimal("0.001"),
                                           rounding=ROUND_HALF_UP))


def semdedup_edges(assigned: DataFrame, threshold: float,
                   id_col: str = "vec_id", vec_col: str = "embedding",
                   ) -> DataFrame:
    """Within-cluster near-duplicate edges over an assigned embedding table.

    ``assigned``: (id_col, cluster, vec_col) — e.g. kmeans assignments
    joined back to the vectors. Returns (cluster, src, dst, cosine) with
    src < dst and cosine rounded to 3dp (the cross-engine contract; +0.0
    normalizes IEEE -0.0 so the rounded value hashes identically).

    The join is an equi-join on ``cluster`` (one shuffle); Spark evaluates
    the src<dst and threshold predicates inside the per-cluster match loop,
    so cost is sum(cluster_size^2), never corpus^2.
    """
    av = assigned.select(
        F.col(id_col), F.col("cluster"),
        F.col(vec_col).cast("array<double>").alias("_v"))
    a = av.select(F.col(id_col).alias("src"), "cluster",
                  F.col("_v").alias("_va"))
    b = av.select(F.col(id_col).alias("dst"), "cluster",
                  F.col("_v").alias("_vb"))
    return (
        a.join(b, "cluster")
        .filter(F.col("src") < F.col("dst"))
        .withColumn("cosine",
                    F.round(cosine_expr(F.col("_va"), F.col("_vb")), 3)
                    + F.lit(0.0))
        .filter(F.col("cosine") >= float(threshold))
        .select("cluster", "src", "dst", "cosine")
    )


def _ceil_3dp(t: float) -> float:
    """``t`` rounded up to the 0.001 grid (0.8725 -> 0.873, 0.95 -> 0.95)."""
    from decimal import ROUND_CEILING, Decimal
    return float(Decimal(repr(t)).quantize(Decimal("0.001"),
                                           rounding=ROUND_CEILING))


def _cluster_components_udf(id_col: str, vec_col: str, threshold: float):
    """applyInPandas kernel: ONE cluster's members in, (id, component_id)
    out — the connected components of the round(cosine,3) >= threshold
    graph, label = min member id. Replaces materializing sum(c_i^2)
    edge rows + the iterative global CC with one blocked numpy matmul
    per cluster (edges never cross clusters, so global CC == per-cluster
    CC). Decision parity with the JVM expression path: the bulk matmul
    decides pairs farther than _COS_MARGIN from the threshold boundary;
    anything closer replays the exact sequential fold + Spark round
    (_seq_round3)."""
    t = float(threshold)
    # round3(c) lies on the 0.001 grid, so round3(c) >= t <=> round3(c) >=
    # t rounded UP to that grid <=> c >= ceil3(t) - 5e-4 (up to
    # rounding-tie hair; the margin band around the boundary goes through
    # the exact replay). Off-grid thresholds (0.8725) need the ceiling.
    boundary = _ceil_3dp(t) - 5e-4

    def _fn(pdf: pd.DataFrame) -> pd.DataFrame:
        ids = pdf[id_col].to_numpy()
        order = np.argsort(ids)
        ids = ids[order]
        n = ids.size
        if n == 1:
            return pd.DataFrame({id_col: ids, "component_id": ids})
        vecs = pdf[vec_col].to_numpy()[order]
        # JVM semantics replayed exactly: a NULL vector has NULL norms ->
        # NULL cosine -> never an edge (unless the OTHER side is
        # zero-norm, which short-circuits to 0.0); different-length
        # vectors zip to a NULL dot -> no edge; a zero-norm vector's
        # cosine is 0.0 with EVERYTHING.
        lens = np.fromiter(((-1 if x is None else len(x)) for x in vecs),
                           dtype=np.int64, count=n)
        parent = np.arange(n, dtype=np.int64)
        zero_norm = lens == 0  # empty array folds to norm 0.0
        for L in np.unique(lens[lens > 0]).tolist():
            idx = np.nonzero(lens == L)[0]
            X = np.empty((idx.size, L), dtype=np.float64)
            for r, gi in enumerate(idx.tolist()):
                X[r] = np.asarray(vecs[gi], dtype=np.float64)
            norms = np.sqrt(np.einsum("ij,ij->i", X, X))
            zv = norms == 0.0
            zero_norm[idx[zv]] = True
            act = idx[~zv]                      # nonzero-norm members
            if act.size < 2:
                continue
            Xa = X[~zv]
            Xn = Xa / norms[~zv][:, None]
            for s in range(0, act.size, _COS_BLOCK):
                e = min(s + _COS_BLOCK, act.size)
                S = Xn[s:e] @ Xn.T                           # (b, m)
                ii, jj = np.indices(S.shape, sparse=True)
                tri = (ii + s) < jj         # act asc => global i < j
                sure = tri & (S > boundary + _COS_MARGIN)
                u, v = np.nonzero(sure)
                if u.size:
                    parent = _union_find_edges(parent, act[u + s], act[v])
                maybe = tri & (np.abs(S - boundary) <= _COS_MARGIN)
                mu, mv = np.nonzero(maybe)
                if mu.size:
                    eu, ev = [], []
                    for i, j in zip(act[mu + s].tolist(),
                                    act[mv].tolist()):
                        a = np.asarray(vecs[i], dtype=np.float64)
                        b = np.asarray(vecs[j], dtype=np.float64)
                        if _seq_round3(a, b) >= t:
                            eu.append(i)
                            ev.append(j)
                    if eu:
                        parent = _union_find_edges(
                            parent, np.asarray(eu, dtype=np.int64),
                            np.asarray(ev, dtype=np.int64))
        # zero-norm members: cosine 0.0 with every other row (any length,
        # even NULL vectors) -> hub edges to everything iff 0.0 >= t
        if zero_norm.any() and 0.0 >= t:
            anchor = np.full(n, int(np.nonzero(zero_norm)[0][0]),
                             dtype=np.int64)
            parent = _union_find_edges(parent, anchor,
                                       np.arange(n, dtype=np.int64))
        # _union_find_edges returns fully pointer-jumped parents
        return pd.DataFrame({id_col: ids, "component_id": ids[parent]})

    return _fn


def cluster_components(assigned: DataFrame, threshold: float,
                       id_col: str = "vec_id",
                       vec_col: str = "embedding") -> DataFrame:
    """(id, component_id) for every member of ``assigned`` (id, cluster,
    vec) — the same components semdedup_edges + CC would produce, but
    computed per cluster in one Arrow pass (blocked matmul + vectorized
    union-find) with zero edge materialization. Singletons label
    themselves. One shuffle, keyed on ``cluster``."""
    av = assigned.select(
        F.col(id_col), F.col("cluster"),
        F.col(vec_col).cast("array<double>").alias("_v"))
    return av.groupBy("cluster").applyInPandas(
        _cluster_components_udf(id_col, "_v", threshold),
        schema=f"{id_col} long, component_id long")


def split_oversized_clusters(assignments: DataFrame, embeddings: DataFrame,
                             max_cluster_size: int,
                             id_col: str = "vec_id",
                             vec_col: str = "embedding") -> DataFrame:
    """Skew guard: re-cluster clusters above ``max_cluster_size`` with a
    one-level sub-kmeans so no pair-join partition exceeds the bound.

    Returns assignments with the SAME columns but a composite ``cluster``
    key (orig * 65536 + sub) for split clusters; ``distance`` stays the
    distance to the TOP-LEVEL centroid (the keep-one rule's reference
    point is unchanged by the split).

    Why kmeans and not a salt: a salt scatters near-identical vectors
    across sub-cells (killing recall inside the split cluster); kmeans
    assigns by distance, so tight duplicate groups co-locate and the only
    pairs lost are the same boundary-straddling trade the TOP-LEVEL
    clustering already makes. The one split kmeans can't perform: a
    megagroup of IDENTICAL vectors (every copy equidistant from every
    sub-centroid, argmin ties to one label) — that is the exact-dedup
    tier's job and should run first (operators/cascade.py ordering).

    Driver cost: one kmeans_fit per oversized cluster — bounded by the
    number of skew pathologies, not by k (at a well-chosen k there are
    few or none)."""
    big = {r["cluster"]: r["count"]
           for r in assignments.groupBy("cluster").count()
           .filter(F.col("count") > max_cluster_size).collect()}
    if not big:
        return assignments
    vecs = embeddings.select(F.col(id_col), F.col(vec_col))
    out = (assignments.filter(~F.col("cluster").isin(list(big)))
           .select(id_col, "cluster", "distance"))
    for cid in sorted(big):
        kk = min(int(math.ceil(big[cid] / max_cluster_size)), _SUB_BASE - 1)
        members = assignments.filter(F.col("cluster") == cid) \
            .select(id_col, "distance")
        sub = kmeans_fit(vecs.join(members.select(id_col), id_col),
                         k=kk, n_iter=1, id_col=id_col, vec_col=vec_col)
        subbed = (members
                  .join(sub["assignments"]
                        .select(id_col, F.col("cluster").alias("_sub")),
                        id_col)
                  .select(id_col,
                          (F.lit(int(cid) * _SUB_BASE) + F.col("_sub"))
                          .alias("cluster"),
                          "distance"))
        out = out.unionByName(subbed)
    return out


def semdedup_decisions(assignments: DataFrame, embeddings: DataFrame,
                       threshold: float,
                       id_col: str = "vec_id", vec_col: str = "embedding",
                       max_cluster_size: int | None = None,
                       ) -> dict[str, DataFrame]:
    """Edges + keep-one decisions from an existing kmeans fit.

    ``assignments``: kmeans_fit output (id, cluster, distance — squared
    euclidean to the final centroid, rounded 4dp). Returns

    * ``edges`` — (cluster, src, dst, cosine): within-cluster pairs at or
      above ``threshold`` (cosine rounded 3dp; when ``max_cluster_size``
      splits a cluster, ``cluster`` here is the composite sub-key);
    * ``decisions`` — (id, cluster, component_id, distance, is_survivor):
      one row per input vector with the ORIGINAL cluster label;
      ``component_id`` = min id of the duplicate group (own id for
      singletons); ``is_survivor`` = True for exactly one row per
      component — the member FARTHEST from its cluster centroid
      (SemDeDup's keep-lowest-centroid-similarity rule), ties to the
      smallest id. Singletons always survive.

    ``max_cluster_size``: skew guard — clusters above this bound are
    sub-split with :func:`split_oversized_clusters` before the pair join.
    """
    key_asg = assignments
    if max_cluster_size is not None:
        key_asg = split_oversized_clusters(
            assignments, embeddings, max_cluster_size,
            id_col=id_col, vec_col=vec_col)
    assigned = key_asg.join(
        embeddings.select(F.col(id_col), F.col(vec_col)), id_col)
    edges = semdedup_edges(assigned, threshold,
                           id_col=id_col, vec_col=vec_col)
    # components per cluster (edges never cross clusters, so global CC
    # == per-cluster CC): one Arrow pass instead of materializing the
    # sum(cluster^2) edge rows through a join + iterative CC rounds —
    # the r06 bench showed that form superlinear (754s at 20k vectors,
    # k=8: ~25M JVM cosine pairs + CC over a multi-million-edge set).
    # Assignment ids with no embedding row label themselves (the old
    # vertices= singleton rule).
    comp = _components_with_singletons(assigned, assignments, threshold,
                                       id_col, vec_col)
    # component_id is never NULL (every vertex gets its own id as a
    # singleton label), so the keep-one window needs no NULL-key guard.
    w = Window.partitionBy("component_id") \
        .orderBy(F.desc("distance"), F.col(id_col))
    decisions = (
        assignments.join(comp, id_col)
        .withColumn("_rk", F.row_number().over(w))
        .select(id_col, "cluster", "component_id", "distance",
                (F.col("_rk") == 1).alias("is_survivor"))
    )
    return {"edges": edges, "decisions": decisions}


def _components_with_singletons(assigned: DataFrame, assignments: DataFrame,
                                threshold: float, id_col: str,
                                vec_col: str) -> DataFrame:
    comp = cluster_components(assigned, threshold,
                              id_col=id_col, vec_col=vec_col)
    return (
        assignments.select(F.col(id_col))
        .join(comp, id_col, "left")
        .select(F.col(id_col),
                F.coalesce("component_id", F.col(id_col))
                .alias("component_id"))
    )


def semdedup(embeddings: DataFrame, k: int = 8, n_iter: int = 2,
             threshold: float = 0.95,
             id_col: str = "vec_id", vec_col: str = "embedding",
             max_cluster_size: int | None = None,
             ) -> dict[str, DataFrame]:
    """Cluster -> within-cluster cosine edges -> CC -> keep-one.

    Returns {"assignments", "edges", "decisions"} — see
    :func:`semdedup_decisions` for the edge/decision contracts;
    ``assignments`` is the kmeans_fit output the decisions derive from.
    ``max_cluster_size`` bounds the per-cluster pair join under skew
    (see :func:`split_oversized_clusters`).
    """
    fit = kmeans_fit(embeddings, k=k, n_iter=n_iter,
                     id_col=id_col, vec_col=vec_col)
    out = semdedup_decisions(fit["assignments"], embeddings, threshold,
                             id_col=id_col, vec_col=vec_col,
                             max_cluster_size=max_cluster_size)
    return {"assignments": fit["assignments"], **out}
