"""Connected-components (large-star/small-star) property tests."""

from __future__ import annotations

from nilinker_spark.operators import clustering as CL
from nilinker_spark.operators.clustering import assign_clusters, connected_components


def _cc(monkeypatch, df, driver_max_edges):
    """connected_components with the driver-path threshold set (0 forces
    the distributed star loop)."""
    monkeypatch.setattr(CL, "CC_DRIVER_MAX_EDGES", driver_max_edges)
    return connected_components(df)


def _labels(spark, edges):
    df = spark.createDataFrame(edges, "src string, dst string")
    return {r["node"]: r["label"] for r in connected_components(df).collect()}


def test_cc_chain(spark):
    # a-b-c-d chain -> one component labeled by the min
    lab = _labels(spark, [("b", "a"), ("c", "b"), ("d", "c")])
    assert lab == {"a": "a", "b": "a", "c": "a", "d": "a"}


def test_cc_two_components(spark):
    lab = _labels(spark, [("a", "b"), ("x", "y"), ("y", "z")])
    assert lab["a"] == lab["b"] == "a"
    assert lab["x"] == lab["y"] == lab["z"] == "x"


def test_cc_star_and_cycle(spark):
    lab = _labels(spark, [("hub", "s1"), ("hub", "s2"), ("hub", "s3"), ("s1", "s3")])
    assert set(lab.values()) == {"hub"}


def test_cc_duplicate_and_reversed_edges(spark):
    lab = _labels(spark, [("a", "b"), ("b", "a"), ("a", "b")])
    assert lab == {"a": "a", "b": "a"}


def test_cc_empty(spark):
    df = spark.createDataFrame([], "src string, dst string")
    assert connected_components(df).count() == 0


def test_assign_clusters_singletons(spark):
    forms = spark.createDataFrame([("a",), ("b",), ("zz",)], "norm string")
    labels = spark.createDataFrame([("b", "a"), ("a", "a")], "node string, label string")
    out = {r["norm"]: r["cluster_id"] for r in assign_clusters(forms, labels).collect()}
    # zz has no edges -> labels itself
    assert out == {"a": "a", "b": "a", "zz": "zz"}


def test_cc_matches_union_find_random(spark):
    """Random graph vs the oracle's union-find (same representative rule)."""
    import numpy as np

    from nilinker_spark.oracle import UnionFind

    rng = np.random.default_rng(7)
    nodes = [f"n{i:03d}" for i in range(60)]
    edges = []
    for _ in range(50):
        a, b = rng.choice(60, size=2, replace=False)
        edges.append((nodes[a], nodes[b]))
    lab = _labels(spark, edges)
    uf = UnionFind()
    for a, b in edges:
        uf.union(a, b)
    want = {n: uf.find(n) for n in {x for e in edges for x in e}}
    assert lab == want


def test_cc_driver_vs_distributed_paths(spark, monkeypatch):
    """Forced-path parity: the driver-side union-find fast path and the
    distributed alternating-star loop must label random graphs identically."""
    import numpy as np

    rng = np.random.default_rng(11)
    nodes = [f"n{i:03d}" for i in range(80)]
    for trial in range(4):
        edges = []
        for _ in range(int(rng.integers(5, 90))):
            a, b = rng.integers(0, 80, size=2)
            edges.append((nodes[a], nodes[b]))  # self-loops allowed
        df = spark.createDataFrame(edges, "src string, dst string")
        fast = {
            (r["node"], r["label"])
            for r in _cc(monkeypatch, df, 10**6).collect()
        }
        dist = {
            (r["node"], r["label"])
            for r in _cc(monkeypatch, df, 0).collect()
        }
        assert fast == dist, f"trial {trial}: paths disagree"


def test_cc_self_loops_only(spark, monkeypatch):
    """Self-loop-only nodes get NO label on either path (the caller's
    coalesce makes them singletons)."""
    df = spark.createDataFrame([("a", "a"), ("b", "b")], "src string, dst string")
    assert _cc(monkeypatch, df, 10**6).count() == 0
    assert _cc(monkeypatch, df, 0).count() == 0


def test_cc_probe_overflow_falls_through(spark, monkeypatch):
    """More edges than the driver threshold -> distributed path, same labels."""
    edges = [(f"n{i:02d}", f"n{i + 1:02d}") for i in range(30)]
    df = spark.createDataFrame(edges, "src string, dst string")
    lab = {r["node"]: r["label"] for r in _cc(monkeypatch, df, 5).collect()}
    assert set(lab.values()) == {"n00"} and len(lab) == 31


def _chain(n):
    """n zero-padded nodes (string order == numeric order) and the n-1
    edges of their path, ascending."""
    nodes = [f"n{i:06d}" for i in range(n)]
    return nodes, [(nodes[i], nodes[i + 1]) for i in range(n - 1)]


def test_union_find_deep_chains_no_recursion():
    """A chain component deeper than the Python stack resolves in every
    edge order, with the min-form representative: ascending, descending
    (each union hangs the old root under the new min, so the tree is one
    long path), and descending plus one edge at the deep end (the first
    find from the far leaf walks the whole path)."""
    from nilinker_spark.oracle import UnionFind, components

    n = 100_000
    nodes, asc = _chain(n)
    desc = asc[::-1]
    want = dict.fromkeys(nodes, nodes[0])
    for edges in (asc, desc, desc + [(nodes[-1], nodes[-2])]):
        assert components(nodes, edges) == want
        assert components((), edges) == want

    # the driver CC order: unions first, then find in insertion order
    uf = UnionFind()
    for a, b in desc:
        uf.union(a, b)
    assert {x: uf.find(x) for x in list(uf.parent)} == want


def test_cc_driver_path_deep_chain(spark, monkeypatch):
    """The driver fast path labels a 5,000-node chain collected in
    descending edge order as one component, min node as the label.  One
    input partition, one shuffle partition and the single-level
    aggregation hash map (whose iteration is insertion order) carry the
    descending order through the probe's distinct() to the driver."""
    from pyspark.sql import functions as F

    n = 5_000
    nodes, _ = _chain(n)
    node = lambda c: F.format_string("n%06d", c)  # noqa: E731
    df = spark.range(n - 2, -1, -1, numPartitions=1).select(
        node(F.col("id")).alias("src"), node(F.col("id") + 1).alias("dst")
    )
    confs = {
        "spark.sql.shuffle.partitions": "1",
        "spark.sql.codegen.aggregate.map.twolevel.enabled": "false",
    }
    saved = {k: spark.conf.get(k) for k in confs}
    for k, v in confs.items():
        spark.conf.set(k, v)
    try:
        out = _cc(monkeypatch, df, 10**6).collect()
    finally:
        for k, v in saved.items():
            spark.conf.set(k, v)
    assert {r["node"]: r["label"] for r in out} == dict.fromkeys(nodes, nodes[0])
