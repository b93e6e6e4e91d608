"""Graph ops and evaluation metrics."""

from __future__ import annotations

import pytest
from pyspark.sql import functions as F

from nilinker_spark.operators.evaluate import micro_prf, pairwise_f1, per_class_prf
from nilinker_spark.operators.graph import bfs_depths, degrees, single_parent


@pytest.fixture(scope="module")
def kb_edges(spark):
    #       root
    #      /    \
    #     a      b
    #    / \    /
    #   c   d  e     (+ d has a second parent b)
    rows = [("a", "root"), ("b", "root"), ("c", "a"), ("d", "a"), ("d", "b"), ("e", "b")]
    return spark.createDataFrame(rows, "src string, dst string")


def test_degrees(spark, kb_edges):
    d = {r["node"]: (r["out_degree"], r["in_degree"]) for r in degrees(kb_edges).collect()}
    assert d["root"] == (0, 2)
    assert d["a"] == (1, 2)
    assert d["d"] == (2, 0)


def test_single_parent(spark, kb_edges):
    sp = {r["src"]: r["dst"] for r in single_parent(kb_edges).collect()}
    # d has two parents -> excluded (≙ kbs.py:84-90)
    assert sp == {"a": "root", "b": "root", "c": "a", "e": "b"}


def test_bfs_depths(spark, kb_edges):
    depths = {r["node"]: r["depth"] for r in bfs_depths(kb_edges, "root").collect()}
    assert depths == {"root": 0, "a": 1, "b": 1, "c": 2, "d": 2, "e": 2}


def test_micro_and_per_class_prf(spark):
    rows = [("en", "en"), ("en", "en"), ("en", "de"), ("de", "de"), ("de", "en")]
    j = spark.createDataFrame(rows, "pred string, gold string")
    m = micro_prf(j).collect()[0]
    assert (m["tp"], m["fp"], m["fn"]) == (3, 2, 2)
    assert m["precision"] == m["recall"] == 0.6

    pc = {r["label"]: r for r in per_class_prf(j).collect()}
    # gold 'en': tp=2 (pred en), fn=1 (pred de); fp for 'en' = gold de pred en = 1
    assert (pc["en"]["tp"], pc["en"]["fp"], pc["en"]["fn"]) == (2, 1, 1)
    assert (pc["de"]["tp"], pc["de"]["fp"], pc["de"]["fn"]) == (1, 1, 1)


def test_pairwise_f1_operator(spark):
    clusters = spark.createDataFrame(
        [("m1", "c1"), ("m2", "c1"), ("m3", "c2"), ("m4", "c3")], "item string, cluster_id string"
    )
    pairs = spark.createDataFrame(
        [
            ("m1", "m2", True),   # tp: same pred cluster, match
            ("m1", "m3", False),  # tn
            ("m2", "m4", True),   # fn: different pred cluster but gold match
        ],
        "a string, b string, is_match boolean",
    )
    r = pairwise_f1(clusters, pairs).collect()[0]
    assert (r["tp"], r["fp"], r["fn"]) == (1, 0, 1)
    assert r["precision"] == 1.0 and r["recall"] == 0.5


def test_pipeline_f1_via_operator(spark, kb, webtext_df):
    """End-to-end: the pairwise_f1 operator applied to pipeline output vs
    oracle clusters on same-block pairs must give F1 = 1.0 (exact parity)."""
    import itertools

    from nilinker_spark.oracle import block_keys, cluster_forms
    from nilinker_spark.pipeline import resolve

    resolved = resolve(spark, webtext_df, kb)
    forms_pd = resolved.select("norm", "cluster_id").distinct().toPandas()
    oracle = cluster_forms(list(forms_pd["norm"]), kb)

    blocks_of = {f: set(block_keys(f)) for f in oracle}
    pairs = [
        (a, b, oracle[a] == oracle[b])
        for a, b in itertools.combinations(sorted(oracle), 2)
        if blocks_of[a] & blocks_of[b]
    ]
    pairs_df = spark.createDataFrame(pairs, "a string, b string, is_match boolean")
    clusters_df = spark.createDataFrame(
        list(forms_pd.itertuples(index=False)), "item string, cluster_id string"
    )
    r = pairwise_f1(clusters_df, pairs_df).collect()[0]
    assert r["f1"] >= 0.99, r
