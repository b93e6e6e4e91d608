"""config.local_frame: the one way driver rows become a frame.

It must give what createDataFrame(list) gives (schema and rows) as an
Arrow LocalTableScan, and no driver-built frame of the engine or the
contract may parallelize rows through Python-worker tasks."""

from __future__ import annotations

import datetime as dt
import importlib
import os
import sys
import time

import pyspark
import pytest
from pyspark.sql.types import StructType

from nilinker_spark.config import local_frame

ROOT = os.path.dirname(os.path.dirname(os.path.abspath(__file__)))
_UTC = dt.timezone.utc


def _leaf(df) -> str:
    return df._jdf.queryExecution().executedPlan().toString()


def _cases(kb):
    """(schema, rows) of every schema a local_frame call site uses, plus
    one wide schema for the contract's generic materialization."""
    from nilinker_spark.fixtures.webtext import make_webtext
    from nilinker_spark.operators.multimodal import MEDIA_SCHEMA
    from nilinker_spark.pipeline import _LOCAL_SCHEMAS
    from nilinker_spark.sources.webtext import WEBTEXT_SCHEMA

    webtext = make_webtext(kb, n_rows=5)
    webtext.append(("doc://naive", dt.datetime(2024, 3, 1, 12, 30), b"x", "x", "en"))
    cases = [
        (WEBTEXT_SCHEMA, webtext),
        (
            MEDIA_SCHEMA,
            [(0, "image", b"\x00\x01", ("application/octet-stream", 4, 5, 10)), (1, "video", b"", None)],
        ),
        ("word string, word_id long", sorted(kb.word2id.items())[:50]),
        ("stage string, rows long, checksum long, wall_ms long", [("mentions", 3, -7, 12)]),
        ("node string, label string", [("b", "a"), ("a", "a")]),
        ("node string, depth int", [("r0", 0)]),
        ("norm string, gold string", [("x y", "x y")]),
        ("event_id long, user_id long, ts timestamp", [(-1, -1, dt.datetime(2024, 1, 3))]),
        (
            "k string, x double, d date, ts timestamp, a array<string>, "
            "m map<string, bigint>, s struct<p: int, q: string>, n decimal(10, 2)",
            [
                ("a", 0.5, dt.date(2024, 1, 2), dt.datetime(2024, 1, 2, 3, tzinfo=_UTC),
                 ["u", None], {"k": 1}, (1, "q"), None),
                (None,) * 8,
            ],
        ),
        (_LOCAL_SCHEMAS["phrase_vecs"], [("a b", [0.5, -0.25]), ("c", [1.0, 0.0])]),
        (_LOCAL_SCHEMAS["block_salt_metrics"], [("cell", 130, 3)]),
    ]
    cases += [(_LOCAL_SCHEMAS[s], [("a", "b"), ("a", "c")]) for s in ("pairs", "edges", "clusters")]
    return cases


def test_local_frame_equals_list_frame(spark, kb, monkeypatch):
    """Same schema and rows as createDataFrame(list) for every call-site
    schema, as a LocalTableScan; no rows give a zero-partition frame, also
    with no columns at all.  The driver runs off UTC, where a naive
    datetime is local time to createDataFrame(list) but UTC to Arrow."""
    cases = _cases(kb)
    cases += [(schema, []) for schema, _rows in cases] + [(StructType([]), [])]
    monkeypatch.setenv("TZ", "America/Sao_Paulo")
    time.tzset()
    try:
        for schema, rows in cases:
            want = spark.createDataFrame(rows, schema)
            got = local_frame(spark, schema, rows)
            assert got.schema == want.schema, schema
            assert got.collect() == want.collect(), schema
            leaf = _leaf(got)
            assert "LocalTableScan" in leaf and "ExistingRDD" not in leaf, leaf
            if not rows:
                assert got.rdd.getNumPartitions() == 0, schema
    finally:
        monkeypatch.undo()
        time.tzset()


@pytest.fixture(scope="module")
def tiny_sf(spark, webtext_rows, tmp_path_factory):
    """A tiny testdata directory: the documents, nation and customer
    tables the driver-built rows below read."""
    d = tmp_path_factory.mktemp("tiny_sf")
    docs = [
        (i, text, lang, "s", len(text))
        for i, (_url, _ts, _html, text, lang) in enumerate(webtext_rows[:80])
    ]
    tables = {
        "documents": (docs, "doc_id long, text string, lang string, source string, n_chars long"),
        "nation": ([(n, n % 3) for n in range(6)], "n_nationkey long, n_regionkey long"),
        "customer": ([(c, c % 6) for c in range(30)], "c_custkey long, c_nationkey long"),
    }
    for name, (rows, schema) in tables.items():
        spark.createDataFrame(rows, schema).coalesce(1).write.parquet(str(d / f"{name}.parquet"))
    return str(d)


def test_driver_frames_parallelize_nothing(spark, tiny_sf, monkeypatch):
    """The contract rows that build frames from driver rows (the gold
    map, the BFS root, a materialized result) and driver CC over an empty
    edge frame run with SparkContext.parallelize forbidden: their rows
    never take the Python-RDD path of createDataFrame(list) or of an
    empty pandas frame."""
    from nilinker_spark.operators.clustering import connected_components

    sys.path.insert(0, ROOT)
    try:
        entry = importlib.import_module("__spark_entry__")
    finally:
        sys.path.remove(ROOT)
    q = entry.queries()

    def forbidden(*_a, **_k):
        raise AssertionError("driver rows were parallelized through Python workers")

    monkeypatch.setattr(pyspark.SparkContext, "parallelize", forbidden)
    f1 = q["er_pairwise_f1"](spark, tiny_sf).collect()
    assert len(f1) == 1 and f1[0]["tp"] + f1[0]["fn"] > 0
    depths = dict(q["graph_bfs_depths"](spark, tiny_sf).collect())
    assert depths["r0"] == 0 and depths["n3"] == 1 and depths["c9"] == 2
    evolved = q["snapshot_evolve"](spark, tiny_sf)
    assert "LocalTableScan" in _leaf(evolved)
    assert evolved.count() == 80
    empty = local_frame(spark, "src string, dst string", [])
    labels = connected_components(empty)
    assert labels.count() == 0 and labels.columns == ["node", "label"]
