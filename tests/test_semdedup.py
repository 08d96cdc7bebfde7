"""SemDeDup semantic dedup (operators/semdedup.py — Abbas et al. 2023):
planted-duplicate semantics, the keep-farthest-from-centroid rule, and the
scale shape (within-cluster equi-join, never a corpus-wide nested loop).
The cross-engine contract is pinned by the fully-oracle-checked driver
query `semdedup` (test_queries_oracle.py)."""

import pytest
from pyspark.sql import functions as F

from fastdup_spark.operators.semdedup import semdedup, semdedup_edges

SF = "/root/testdata/sf0.01"


@pytest.fixture(scope="module")
def planted(spark):
    """Two well-separated direction clusters; ids 0/1 are the deterministic
    kmeans seeds. Cluster A: v0 (distinct direction), v2~v3 near-identical
    (the dup group). Cluster B: v1 == v4 exactly (a tied dup group)."""
    rows = [
        (0, [10.0, 0.0, 1.0]),
        (1, [0.0, 10.0, 0.0]),
        (2, [10.0, 0.0, 0.0]),
        (3, [10.5, 0.0, 0.0]),
        (4, [0.0, 10.0, 0.0]),
    ]
    e = spark.createDataFrame(rows, "vec_id long, embedding array<double>")
    return semdedup(e, k=2, n_iter=2, threshold=0.999)


def test_planted_groups(planted):
    dec = {r["vec_id"]: r for r in planted["decisions"].collect()}
    assert len(dec) == 5
    # dup groups: {2,3} (cosine 1.0, same cluster) and {1,4} (identical)
    assert dec[2]["component_id"] == 2 and dec[3]["component_id"] == 2
    assert dec[1]["component_id"] == 1 and dec[4]["component_id"] == 1
    # v0's cosine to v2/v3 is ~0.995 < 0.999: stays a singleton
    assert dec[0]["component_id"] == 0 and dec[0]["is_survivor"]


def test_keep_rule_farthest_then_min_id(planted):
    dec = {r["vec_id"]: r for r in planted["decisions"].collect()}
    # {2,3}: v3 is farther from the cluster-A centroid -> v3 survives
    assert dec[3]["distance"] > dec[2]["distance"]
    assert dec[3]["is_survivor"] and not dec[2]["is_survivor"]
    # {1,4}: identical vectors -> equal distance -> min id survives
    assert dec[1]["distance"] == dec[4]["distance"]
    assert dec[1]["is_survivor"] and not dec[4]["is_survivor"]


def test_edges_are_within_cluster_only(planted):
    asg = {r["vec_id"]: r["cluster"]
           for r in planted["assignments"].collect()}
    edges = planted["edges"].collect()
    assert {(r["src"], r["dst"]) for r in edges} == {(2, 3), (1, 4)}
    for r in edges:
        assert asg[r["src"]] == asg[r["dst"]] == r["cluster"]
        assert r["src"] < r["dst"]


def test_one_survivor_per_component(spark):
    res = semdedup(spark.read.parquet(f"{SF}/embeddings.parquet"),
                   k=8, n_iter=2, threshold=0.35)
    dec = res["decisions"]
    assert dec.count() == 500
    per_comp = dec.groupBy("component_id").agg(
        F.sum(F.col("is_survivor").cast("int")).alias("n_surv"))
    assert per_comp.filter(F.col("n_surv") != 1).count() == 0
    # survivors of multi-member groups really are the farthest members
    multi = dec.groupBy("component_id").count().filter("count >= 2")
    assert multi.count() > 0, "threshold too high: no dup groups to test"
    mx = dec.join(multi.select("component_id"), "component_id") \
        .groupBy("component_id").agg(F.max("distance").alias("dmax"))
    surv = dec.filter("is_survivor").join(mx, "component_id")
    assert surv.filter(F.col("distance") != F.col("dmax")).count() == 0


def test_plan_is_cluster_equijoin(spark):
    """The pair join must shuffle/hash on the cluster key — a corpus-wide
    nested loop (BroadcastNestedLoopJoin / CartesianProduct) would be the
    100-TB trap SemDeDup's clustering exists to avoid."""
    e = spark.read.parquet(f"{SF}/embeddings.parquet")
    asg = spark.createDataFrame(
        [(i, i % 4, 0.0) for i in range(100)],
        "vec_id long, cluster long, distance double")
    assigned = asg.join(e.select("vec_id", "embedding"), "vec_id")
    plan = semdedup_edges(assigned, 0.9)._jdf.queryExecution() \
        .executedPlan().toString()
    assert "BroadcastNestedLoopJoin" not in plan
    assert "CartesianProduct" not in plan


@pytest.fixture(scope="module")
def two_blobs(spark):
    """Two well-separated direction blobs forced into ONE top-level cluster
    (k=1): the skew-guard's worst case. ids 0/1 are the sub-kmeans seeds
    (one per blob); (2,3) and (21,22) are planted identical pairs; all
    other within-blob cosines are ~0.995 (below the 0.999 threshold)."""
    import math as m
    rows = []
    for i in range(40):
        if i == 0:
            ang = 0.0
        elif i == 1:
            ang = m.pi / 2
        elif i in (2, 3):
            ang = 0.25
        elif i in (21, 22):
            ang = m.pi / 2 + 0.25
        elif i < 21:
            ang = 0.1 * (i % 8)
        else:
            ang = m.pi / 2 + 0.1 * (i % 8)
        rows.append((i, [10.0 * m.cos(ang), 10.0 * m.sin(ang)]))
    return spark.createDataFrame(rows, "vec_id long, embedding array<double>")


def test_skew_guard_preserves_recall(two_blobs):
    """Splitting the oversized cluster must not lose the planted dup pairs:
    kmeans sub-cells respect geometry (unlike a salt), so tight groups
    co-locate and the edge set matches the unsplit run exactly here."""
    plain = semdedup(two_blobs, k=1, n_iter=1, threshold=0.999)
    split = semdedup(two_blobs, k=1, n_iter=1, threshold=0.999,
                     max_cluster_size=25)
    e_plain = {(r["src"], r["dst"]) for r in plain["edges"].collect()}
    e_split = {(r["src"], r["dst"]) for r in split["edges"].collect()}
    assert {(2, 3), (21, 22)} <= e_plain
    assert e_plain == e_split
    # decisions still report the ORIGINAL cluster label
    assert {r["cluster"] for r in split["decisions"].collect()} == {0}
    surv = split["decisions"].filter("is_survivor").count()
    comps = split["decisions"].select("component_id").distinct().count()
    assert surv == comps


def test_split_oversized_clusters_separates_blobs(two_blobs):
    from fastdup_spark.operators.kmeans import kmeans_fit
    from fastdup_spark.operators.semdedup import split_oversized_clusters

    asg = kmeans_fit(two_blobs, k=1, n_iter=1)["assignments"]
    out = split_oversized_clusters(asg, two_blobs, max_cluster_size=25)
    rows = out.collect()
    keys = {r["cluster"] for r in rows}
    assert len(keys) == 2  # one composite key per blob
    by_key = {}
    for r in rows:
        by_key.setdefault(r["cluster"], set()).add(r["vec_id"])
    blob_a = {i for i in range(40) if i < 21 and i != 1}
    blob_b = set(range(40)) - blob_a
    assert {frozenset(v) for v in by_key.values()} == \
        {frozenset(blob_a), frozenset(blob_b)}
    # distances are unchanged (still to the TOP-LEVEL centroid)
    orig = {r["vec_id"]: r["distance"] for r in asg.collect()}
    assert all(orig[r["vec_id"]] == r["distance"] for r in rows)


def test_split_noop_below_bound(two_blobs):
    from fastdup_spark.operators.kmeans import kmeans_fit
    from fastdup_spark.operators.semdedup import split_oversized_clusters

    asg = kmeans_fit(two_blobs, k=1, n_iter=1)["assignments"]
    out = split_oversized_clusters(asg, two_blobs, max_cluster_size=100)
    a = sorted(map(tuple, asg.collect()))
    b = sorted(map(tuple, out.collect()))
    assert a == b


def test_cluster_components_match_edge_cc(spark):
    # r07 optimization: decisions components now come from the per-cluster
    # Arrow kernel (blocked matmul + union-find) instead of materialized
    # edges + iterative CC. Parity pinned here against the old form,
    # including zero vectors, a NULL vector and a mismatched-length one.
    import random

    from fastdup_spark.operators.cc import connected_components
    from fastdup_spark.operators.semdedup import cluster_components

    rng = random.Random(7)
    rows = []
    for i in range(120):
        base = [1.0, 0.2, 0.1] if i % 3 == 0 else [0.1, 1.0, 0.4]
        vec = [x + rng.uniform(-0.2, 0.2) for x in base]
        rows.append((i, i % 4, vec))
    rows += [(200, 1, [0.0, 0.0, 0.0]),       # zero-norm
             (201, 1, None),                   # NULL vector
             (202, 1, [1.0, 0.2])]             # mismatched length
    df = spark.createDataFrame(
        rows, "vec_id long, cluster long, embedding array<double>")
    for thr in (0.95, 0.5, 0.0):
        new = {r["vec_id"]: r["component_id"]
               for r in cluster_components(df, thr).collect()}
        edges = semdedup_edges(df, thr)
        old = {r["doc_id"]: r["component_id"]
               for r in connected_components(
                   edges.select("src", "dst"),
                   vertices=df.select(F.col("vec_id").alias("doc_id"))
               ).collect()}
        assert new == old, f"threshold {thr}"


def test_off_grid_threshold_decisions_match_edges(spark):
    """A threshold off the 0.001 grid: the edges table keeps
    round(cosine, 3) >= 0.8725, i.e. >= 0.873, and the decision kernel
    must draw the same line. cos(0, 1) = 0.8723 rounds to 0.872 (no
    edge); cos(2, 3) = 0.8734 rounds to 0.873 (edge)."""
    import math

    ab, cd = 0.8723, 0.8734
    rows = [(0, [1.0, 0.0, 0.0]), (1, [ab, math.sqrt(1 - ab * ab), 0.0]),
            (2, [0.0, 0.0, 1.0]), (3, [0.0, math.sqrt(1 - cd * cd), cd])]
    e = spark.createDataFrame(rows, "vec_id long, embedding array<double>")
    out = semdedup(e, k=1, n_iter=1, threshold=0.8725)
    assert {(r["src"], r["dst"]) for r in out["edges"].collect()} == {(2, 3)}
    comp = {r["vec_id"]: r["component_id"]
            for r in out["decisions"].collect()}
    assert comp == {0: 0, 1: 1, 2: 2, 3: 2}
