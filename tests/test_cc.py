"""Connected components == union-find oracle; singleton handling;
deterministic min-doc_id component ids (FIXTURES.md §C)."""

import numpy as np

from fastdup_spark.operators.cc import connected_components


class UnionFind:
    def __init__(self):
        self.p = {}

    def find(self, x):
        self.p.setdefault(x, x)
        while self.p[x] != x:
            self.p[x] = self.p[self.p[x]]
            x = self.p[x]
        return x

    def union(self, a, b):
        ra, rb = self.find(a), self.find(b)
        if ra != rb:
            self.p[max(ra, rb)] = min(ra, rb)


def _oracle(edges, vertices=None):
    uf = UnionFind()
    for a, b in edges:
        uf.union(a, b)
    nodes = set(uf.p) | set(vertices or [])
    comp = {}
    for n in nodes:
        comp[n] = uf.find(n)
    # normalize: component id = min member
    groups = {}
    for n, r in comp.items():
        groups.setdefault(r, []).append(n)
    out = {}
    for members in groups.values():
        m = min(members)
        for n in members:
            out[n] = m
    return out


def _run_cc(spark, edges, vertices=None):
    e = spark.createDataFrame(edges or [(0, 0)], "src long, dst long")
    if not edges:
        e = e.limit(0)
    v = None
    if vertices is not None:
        v = spark.createDataFrame([(x,) for x in vertices], "doc_id long")
    got = connected_components(e, v)
    return {r["doc_id"]: r["component_id"] for r in got.collect()}


def test_simple_chain(spark):
    edges = [(1, 2), (2, 3), (3, 4), (10, 11)]
    assert _run_cc(spark, edges) == _oracle(edges)


def test_long_path_graph(spark):
    """Path graphs are the worst case for naive propagation — large-star/
    small-star must converge in O(log n) rounds."""
    edges = [(i, i + 1) for i in range(60)]
    assert _run_cc(spark, edges) == _oracle(edges)


def test_random_graph_matches_oracle(spark):
    rng = np.random.Generator(np.random.PCG64(7))
    nodes = rng.choice(10_000, size=400, replace=False)
    edges = [(int(nodes[i]), int(nodes[(i * 7 + 3) % 400])) for i in range(300)]
    edges = [(a, b) for a, b in edges if a != b]
    assert _run_cc(spark, edges) == _oracle(edges)


def test_singletons_from_vertices(spark):
    edges = [(1, 2)]
    verts = [1, 2, 3, 4]
    got = _run_cc(spark, edges, verts)
    assert got == {1: 1, 2: 1, 3: 3, 4: 4}


def test_empty_edges(spark):
    got = _run_cc(spark, [], vertices=[5, 6])
    assert got == {5: 5, 6: 6}


def test_component_ids_are_min_member(fd):
    asg = fd.store.read(fd.spark, "assignments")
    bad = asg.filter("component_id > doc_id").count()
    assert bad == 0
    rows = asg.groupBy("component_id").count().collect()
    assert all(r["count"] >= 1 for r in rows)


def test_pipeline_cc_matches_oracle(fd):
    edges = [(r["src"], r["dst"]) for r in
             fd.store.read(fd.spark, "pairs_scored")
             .filter(f"jaccard >= {fd.config.cc_threshold}").collect()]
    verts = [r["doc_id"] for r in fd.docs().select("doc_id").collect()]
    got = {r["doc_id"]: r["component_id"] for r in
           fd.store.read(fd.spark, "assignments").collect()}
    assert got == _oracle(edges, verts)


def test_driver_fast_path_matches_distributed(spark):
    # r07: edge sets at or below the driver gate resolve with arrow
    # collect + vectorized union-find; parity with the star rounds and
    # the oracle is pinned here (both paths forced explicitly).
    rng = np.random.default_rng(11)
    edges = [(int(a), int(b)) for a, b in
             rng.integers(0, 400, size=(800, 2)) if a != b]
    e = spark.createDataFrame(edges, "src long, dst long")
    v = spark.createDataFrame([(x,) for x in range(450)], "doc_id long")
    fast = {r["doc_id"]: r["component_id"]
            for r in connected_components(e, v).collect()}
    dist = {r["doc_id"]: r["component_id"]
            for r in connected_components(
                e, v, driver_edges_max=0).collect()}
    assert fast == dist == _oracle(edges, vertices=range(450))


def test_string_ids_take_star_rounds(spark):
    # the driver fast path needs integer ids; other id types fall through
    # to the star rounds even below the driver-edge gate
    edges = [("b", "a"), ("c", "b"), ("x", "y"), ("m", "z"), ("z", "c")]
    e = spark.createDataFrame(edges, "src string, dst string")
    got = {r["doc_id"]: r["component_id"]
           for r in connected_components(e).collect()}
    assert got == _oracle(edges)


def test_min_roots():
    """The driver union-find every CC run resolves small graphs with: every
    vertex, sorted, with the min vertex of its component as root — chains
    collapsed, self-loops merging nothing, signed 64-bit (xxhash64-style)
    ids."""
    from fastdup_spark.operators.cc import _min_roots

    def roots(src, dst):
        labels, r = _min_roots(src, dst)
        assert labels.tolist() == sorted(labels.tolist())
        return dict(zip(labels.tolist(), r.tolist()))

    neg = -6_917_529_027_641_081_856
    # chain 12-7-9-5 joined to a negative id; a separate pair; a self-loop
    src = np.array([12, 7, 9, 5, 4, 100], dtype=np.int64)
    dst = np.array([7, 9, 5, neg, 3, 100], dtype=np.int64)
    assert roots(src, dst) == {12: neg, 9: neg, 7: neg, 5: neg, neg: neg,
                               4: 3, 3: 3, 100: 100}
    assert roots(np.array([], dtype=np.int64),
                 np.array([], dtype=np.int64)) == {}

    rng = np.random.default_rng(5)
    for _ in range(50):
        ids = rng.integers(-2**63, 2**63 - 1, size=40, dtype=np.int64)
        e = rng.choice(ids, size=(30, 2))
        edges = [(int(a), int(b)) for a, b in e]
        assert roots(e[:, 0].copy(), e[:, 1].copy()) == _oracle(edges)
