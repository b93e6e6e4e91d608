"""Skew hardening: hot blocking keys are salted into bounded sub-blocks
with replicated anchors (no silent truncation, transitive connectivity
preserved), and output is invariant to input partitioning."""

from __future__ import annotations

from nilinker_spark.operators.blocking import block_keys_df
from nilinker_spark.operators.pairs import candidate_pairs
from nilinker_spark.oracle import UnionFind
from nilinker_spark.pipeline import resolve


def _hot_forms(spark, n=100):
    rows = [(f"form{i:03d} hotword",) for i in range(n)] + [("solo other",)]
    return spark.createDataFrame(rows, "norm string")


def test_salted_pairs_bounded_and_reported(spark):
    blocked = block_keys_df(_hot_forms(spark, 100))
    pairs, metrics = candidate_pairs(blocked, max_block=10, n_anchors=4)
    n_pairs = pairs.count()
    # quadratic would be C(100,2) = 4950 within the hot block; salted is
    # sub-block pairs + anchor replication — far below
    assert n_pairs < 1500, n_pairs
    m = {r["block_key"]: (r["members"], r["n_salts"]) for r in metrics.collect()}
    assert m["hotword"][0] == 100 and m["hotword"][1] == 10
    # the 'form###' tokens are distinct per form -> not hot
    assert all(k in ("hotword", "hotwords") or False for k in m), m


def test_salted_block_stays_connected(spark):
    """Anchor replication must keep every hot-block member transitively
    reachable — a hot surface form resolves to ONE cluster, not one per
    salt group."""
    blocked = block_keys_df(_hot_forms(spark, 80))
    pairs, _ = candidate_pairs(blocked, max_block=8, n_anchors=4)
    uf = UnionFind()
    for r in pairs.collect():
        uf.union(r["norm_a"], r["norm_b"])
    roots = {uf.find(f"form{i:03d} hotword") for i in range(80)}
    assert len(roots) == 1, f"hot block fragmented into {len(roots)} components"


def test_salting_deterministic_across_partitionings(spark):
    blocked1 = block_keys_df(_hot_forms(spark, 60).repartition(1))
    blocked2 = block_keys_df(_hot_forms(spark, 60).repartition(13))
    p1, _ = candidate_pairs(blocked1, max_block=8, n_anchors=4)
    p2, _ = candidate_pairs(blocked2, max_block=8, n_anchors=4)
    assert p1.exceptAll(p2).isEmpty() and p2.exceptAll(p1).isEmpty()


def test_resolve_invariant_to_partitioning(spark, kb, webtext_df):
    """Same clusters whether the input arrives in 1 partition or 16 —
    the determinism requirement that makes resume + F1 parity possible."""
    one = resolve(spark, webtext_df.repartition(1), kb).toPandas()
    many = resolve(spark, webtext_df.repartition(16), kb).toPandas()
    key = ["url", "mention_id"]
    a = one.sort_values(key).reset_index(drop=True)
    b = many.sort_values(key).reset_index(drop=True)
    assert a.equals(b)
