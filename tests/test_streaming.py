"""Streaming extraction: stream result == batch result; windowed agg
respects event time; restart from the streaming checkpoint is a no-op."""

from __future__ import annotations

import os
import subprocess
import sys

import pytest
from pyspark.sql import functions as F

from nilinker_spark.functions.normalize import norm_form
from nilinker_spark.operators.extract import extract_mentions_df
from nilinker_spark.streaming.extract_stream import (
    drain,
    read_webtext_stream,
    stream_mentions,
    windowed_mention_counts,
)

ROOT = os.path.dirname(os.path.dirname(os.path.abspath(__file__)))
MENTION_COLS = ["url", "mention_id", "surface", "pos", "norm"]


@pytest.fixture(scope="module")
def gazetteer(kb):
    return {norm_form(s) for s, _, _ in kb.surface_forms}


@pytest.fixture(scope="module")
def webtext_path(spark, webtext_df, tmp_path_factory):
    # several files so maxFilesPerTrigger produces multiple micro-batches
    p = str(tmp_path_factory.mktemp("stream_in"))
    webtext_df.repartition(6).write.mode("overwrite").parquet(p)
    return p


def test_stream_equals_batch(spark, kb, gazetteer, webtext_path, tmp_path_factory):
    out = str(tmp_path_factory.mktemp("stream_out"))
    ckpt = str(tmp_path_factory.mktemp("stream_ckpt"))
    drain(stream_mentions(spark, read_webtext_stream(spark, webtext_path), gazetteer), out, ckpt)

    streamed = spark.read.parquet(out).select(*MENTION_COLS)
    batch = extract_mentions_df(spark, spark.read.parquet(webtext_path), gazetteer)
    assert streamed.count() == batch.count()
    assert streamed.exceptAll(batch).isEmpty()
    assert batch.exceptAll(streamed).isEmpty()

    # the carried column is each mention's own page's warc_ts
    pages = spark.read.parquet(webtext_path).select("url", F.col("warc_ts").alias("page_ts"))
    carried = spark.read.parquet(out).join(pages, "url", "left")
    assert carried.count() == batch.count()
    assert carried.filter(~F.col("warc_ts").eqNullSafe(F.col("page_ts"))).isEmpty()

    # restart with the same checkpoint: no new input -> no new rows
    n = streamed.count()
    drain(stream_mentions(spark, read_webtext_stream(spark, webtext_path), gazetteer), out, ckpt)
    assert spark.read.parquet(out).count() == n


def test_run_stream_job_first_seen(spark, kb, gazetteer, tmp_path_factory):
    """jobs/run_stream.py end to end in its own process: the mentions it
    drains equal the batch extraction of the same input, the first-seen
    table holds one row per distinct norm and is fed from the drained
    mentions (its source log lists files under --output, never --input:
    each page is extracted once), and a rerun on the same checkpoint
    adds no row to either output."""
    import json
    from urllib.parse import urlparse

    from nilinker_spark.fixtures.webtext import write_webtext_parquet

    base = tmp_path_factory.mktemp("run_stream_job")
    src, out, ckpt, first = (str(base / n) for n in ("in", "out", "ckpt", "first"))
    write_webtext_parquet(spark, kb, src, n_rows=200)
    env = dict(
        os.environ,
        PYTHONPATH=os.pathsep.join([ROOT, os.environ.get("PYTHONPATH", "")]),
        PYSPARK_SUBMIT_ARGS="--master local[2] --driver-memory 1g "
        "--conf spark.ui.enabled=false pyspark-shell",
    )
    cmd = [sys.executable, os.path.join(ROOT, "jobs", "run_stream.py"), "--input", src,
           "--output", out, "--checkpoint", ckpt, "--first-seen", first]

    def run_job():
        proc = subprocess.run(cmd, env=env, capture_output=True, text=True, timeout=600)
        assert proc.returncode == 0, proc.stderr[-3000:]
        return spark.read.parquet(out), spark.read.parquet(first)

    mentions, forms = run_job()
    batch = extract_mentions_df(spark, spark.read.parquet(src), gazetteer)
    streamed = mentions.select(*MENTION_COLS)
    n_mentions = streamed.count()
    assert n_mentions == batch.count() > 0
    assert streamed.exceptAll(batch).isEmpty() and batch.exceptAll(streamed).isEmpty()
    n_forms = forms.count()
    assert n_forms == forms.select("norm").distinct().count()
    assert n_forms == batch.select("norm").distinct().count()
    source_log = os.path.join(ckpt + "_firstseen", "sources", "0")
    listed = [
        json.loads(line)["path"]
        for n in os.listdir(source_log)
        if not n.startswith(".")  # Hadoop's .crc checksum files
        for line in open(os.path.join(source_log, n))
        if line.startswith("{")
    ]
    out_dir = os.path.realpath(out) + os.sep
    assert listed and all(
        os.path.realpath(urlparse(p).path).startswith(out_dir) for p in listed
    )

    mentions, forms = run_job()
    assert mentions.count() == n_mentions
    assert forms.count() == n_forms


def test_windowed_counts_event_time(spark, gazetteer, webtext_path, tmp_path_factory):
    stream = read_webtext_stream(spark, webtext_path)
    mentions = stream_mentions(spark, stream, gazetteer)
    counts = windowed_mention_counts(mentions, window="1 hour", watermark="2 hours")
    q = (
        counts.writeStream.format("memory")
        .queryName("win_counts")
        .outputMode("complete")
        .trigger(availableNow=True)
        .start()
    )
    q.awaitTermination()
    got = spark.sql("select * from win_counts").toPandas()
    assert len(got) > 0
    # event-time windows must align to the hour and counts must sum to the
    # batch mention count
    assert (got["window_start"].dt.minute == 0).all()
    batch_total = extract_mentions_df(spark, spark.read.parquet(webtext_path), gazetteer).count()
    assert int(got["n"].sum()) == batch_total


def test_stream_resolve_matches_batch_pipeline(
    spark, kb, gazetteer, webtext_df, webtext_path, tmp_path_factory
):
    """Stream-static serving join: streaming extraction x the batch
    cluster table == the batch pipeline's resolved output."""
    from nilinker_spark.pipeline import resolve
    from nilinker_spark.streaming.extract_stream import stream_resolve

    batch = resolve(spark, webtext_df, kb, gazetteer=gazetteer)
    batch_pd = batch.toPandas()
    clusters = batch.select("norm", "cluster_id").distinct()

    out_dir = str(tmp_path_factory.mktemp("sr_out"))
    ck = str(tmp_path_factory.mktemp("sr_ck"))
    stream = read_webtext_stream(spark, webtext_path)
    drain(stream_resolve(spark, stream, gazetteer, clusters), out_dir, ck)

    got = spark.read.parquet(out_dir).drop("warc_ts").toPandas()
    key = ["url", "mention_id", "pos"]
    a = got.sort_values(key).reset_index(drop=True)
    b = batch_pd.sort_values(key).reset_index(drop=True)
    assert len(a) == len(b) and len(a) > 0
    assert (a["cluster_id"].values == b["cluster_id"].values).all()


def test_stream_sessionize_matches_batch_session_windows(spark, tmp_path_factory):
    """availableNow drain of stream_sessionize == the same session-window
    aggregation run as a batch query on the same events, and the session
    count per user == the batch lag-gap sessionization (same 30-min gap
    semantics, two formulations)."""
    import datetime as dt

    from pyspark.sql import Window
    from pyspark.sql import functions as F

    from nilinker_spark.streaming.extract_stream import stream_sessionize

    base = dt.datetime(2024, 1, 1)
    rows = []
    eid = 0
    for user in ("u1", "u2"):
        for start_h, n in ((0, 3), (2, 2), (5, 1)):  # 3 sessions per user
            for k in range(n):
                rows.append((eid, user, base + dt.timedelta(hours=start_h, minutes=10 * k)))
                eid += 1
    events = spark.createDataFrame(rows, "event_id long, user_id string, ts timestamp")

    in_dir = str(tmp_path_factory.mktemp("sess_in"))
    out_base = tmp_path_factory.mktemp("sess_out")
    events.write.mode("overwrite").parquet(in_dir)

    def drain_sessions():
        stream = (
            spark.readStream.schema("event_id long, user_id string, ts timestamp")
            .parquet(in_dir)
        )
        drain(stream_sessionize(stream), str(out_base / "data"), str(out_base / "ck"))

    # first drain: only sessions already past the watermark emit (append
    # mode holds open state in the checkpoint) — then a sentinel event far
    # beyond the horizon arrives, the RESTARTED query resumes from the
    # checkpoint, the watermark advances, and the held sessions flush
    drain_sessions()
    sentinel = spark.createDataFrame(
        [(999, "uF", base + dt.timedelta(hours=20))],
        "event_id long, user_id string, ts timestamp",
    )
    sentinel.write.mode("append").parquet(in_dir)
    drain_sessions()

    got = (
        spark.read.parquet(str(out_base / "data"))
        .toPandas()
        .query("user_id != 'uF'")  # the sentinel's own session stays open
        .sort_values(["user_id", "session_start"])
        .reset_index(drop=True)
    )

    want = (
        events.groupBy(F.session_window("ts", "30 minutes").alias("w"), "user_id")
        .agg(F.count("*").alias("n_events"))
        .select(
            "user_id",
            F.col("w.start").alias("session_start"),
            F.col("w.end").alias("session_end"),
            "n_events",
        )
        .toPandas()
        .sort_values(["user_id", "session_start"])
        .reset_index(drop=True)
    )
    assert got.equals(want), "stream drain differs from batch session windows"
    assert len(got) == 6 and (got.groupby("user_id").size() == 3).all()

    # cross-check against the lag-gap formulation (the batch contract query)
    w = Window.partitionBy("user_id").orderBy("ts", "event_id")
    gaps = events.withColumn("prev_ts", F.lag("ts").over(w)).withColumn(
        "new_sess",
        F.when(
            F.col("prev_ts").isNull()
            | (
                F.unix_micros(F.col("ts").cast("timestamp_ltz"))
                - F.unix_micros(F.col("prev_ts").cast("timestamp_ltz"))
                > 1800 * 1_000_000
            ),
            1,
        ).otherwise(0),
    )
    lag_counts = {
        r["user_id"]: r["n"]
        for r in gaps.groupBy("user_id").agg(F.sum("new_sess").alias("n")).collect()
    }
    sw_counts = got.groupby("user_id").size().to_dict()
    assert lag_counts == sw_counts


def test_streaming_scan_shares_zipf_head_eviction():
    """VERDICT r4 #7: the streaming scan is the batch scan, whose shared
    per-page body (``_scan_pages``, the driver S1's too) evicts through
    the SHARED Zipf-head-preserving helper
    (operators.extract._evict_norm_cache, behavior proven in
    test_properties), never clear() — a clear() re-paid the
    normalization regex for every head token in long-lived streaming
    workers."""
    import inspect

    from nilinker_spark.operators import extract as E
    from nilinker_spark.streaming import extract_stream as S

    assert "_scan_mentions(" in inspect.getsource(S.stream_mentions)
    assert "_scan_pages(" in inspect.getsource(E._scan_mentions)
    src = inspect.getsource(E._scan_pages)
    assert "_evict_norm_cache" in src
    assert "_NORM_CACHE.clear()" not in src and ".clear()" not in src


def test_stream_corpus_quality_equals_batch(spark, tmp_path_factory):
    """The corpus quality/resampling gates are pure column expressions,
    so the SAME operator code runs unchanged over a readStream: an
    availableNow drain of text_quality + importance_resample on a file
    stream equals the batch result row-for-row (the streaming half of
    the training-prep surface)."""
    import nilinker_spark.operators.corpus as C

    base = tmp_path_factory.mktemp("stream_quality")
    src, sink, ckpt = str(base / "src"), str(base / "sink"), str(base / "ckpt")
    rows = [
        (i, " ".join(["the", "cat", f"tok{i % 7}", "sat"] * (1 + i % 5)), "en", "s", 0)
        for i in range(40)
    ]
    schema = "doc_id long, text string, lang string, source string, n_chars long"
    spark.createDataFrame(rows, schema).write.mode("overwrite").parquet(src)

    stream_docs = spark.readStream.schema(schema).parquet(src)
    kept = C.importance_resample(stream_docs)
    q = (
        kept.writeStream.format("parquet")
        .option("path", sink)
        .option("checkpointLocation", ckpt)
        .trigger(availableNow=True)
        .start()
    )
    q.awaitTermination(120)
    got = {
        (r["doc_id"], r["bucket"], r["draw_bp"])
        for r in spark.read.parquet(sink).collect()
    }
    batch = {
        (r["doc_id"], r["bucket"], r["draw_bp"])
        for r in C.importance_resample(spark.read.parquet(src)).collect()
    }
    assert got == batch and batch  # non-empty and identical
