"""Incremental mention extraction over an arriving webtext table.

``readStream`` (file source, parquet) -> the SAME mapInPandas extraction
used in batch (byte-identical per url by construction) -> sink.  Late
pages are handled with a watermark on ``warc_ts``; the windowed count is
the streaming twin of the batch term-frequency/IC aggregation
(≙ /root/reference/src/REEL/information_content.py:17-27, which the
reference recomputes from scratch per corpus — here it maintains itself
incrementally).
"""

from __future__ import annotations

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F

from nilinker_spark.sources.webtext import WEBTEXT_SCHEMA


def read_webtext_stream(spark: SparkSession, path: str, max_files: int = 4) -> DataFrame:
    """File-source stream over a webtext directory (schema declared, never
    inferred — streaming sources require it anyway)."""
    return (
        spark.readStream.schema(WEBTEXT_SCHEMA)
        .option("maxFilesPerTrigger", max_files)
        .parquet(path)
    )


def stream_mentions(
    spark: SparkSession, webtext_stream: DataFrame, gazetteer: set[str]
) -> DataFrame:
    """Streaming extraction: the batch S1 scan itself, carrying
    ``warc_ts`` — its mapInPandas body is stateless, so it lifts to an
    incremental plan with identical semantics."""
    from nilinker_spark.operators.extract import _scan_mentions

    return _scan_mentions(spark, webtext_stream, gazetteer, carry=("warc_ts",))


def windowed_mention_counts(
    mentions_stream: DataFrame, window: str = "1 hour", watermark: str = "2 hours"
) -> DataFrame:
    """Event-time windowed mention counts with late-data watermark:
    (window_start, norm, n).  Append-mode-compatible (watermarked agg)."""
    return (
        mentions_stream.withWatermark("warc_ts", watermark)
        .groupBy(F.window("warc_ts", window).alias("w"), F.col("norm"))
        .agg(F.count("*").alias("n"))
        .select(F.col("w.start").alias("window_start"), "norm", "n")
    )


def stream_resolve(
    spark: SparkSession,
    webtext_stream: DataFrame,
    gazetteer: set[str],
    clusters: DataFrame,
) -> DataFrame:
    """Incremental serving path: streaming mention extraction joined to a
    STATIC cluster table (the batch pipeline's `clusters` checkpoint) —
    a stream-static broadcast join, natively incremental in Structured
    Streaming.  Forms never seen by the batch run resolve to themselves
    (singleton clusters), exactly like `assign_clusters`; a periodic
    batch `run_incremental` folds them in properly.
    """
    mentions = stream_mentions(spark, webtext_stream, gazetteer)
    lab = clusters.select("norm", "cluster_id")
    return mentions.join(F.broadcast(lab), "norm", "left").select(
        "url",
        "mention_id",
        "surface",
        "pos",
        "norm",
        F.coalesce("cluster_id", "norm").alias("cluster_id"),
        "warc_ts",
    )


def drain(stream_df: DataFrame, path: str, checkpoint: str) -> None:
    """Drain everything the stream's source holds now (availableNow) into
    a parquet table at ``path``, in append mode, and wait for it.  The
    file sink is exactly-once: a rerun on the same ``checkpoint`` resumes
    after the last committed micro-batch, so it adds only new input —
    the streaming analog of the batch pipeline's resume."""
    (
        stream_df.writeStream.format("parquet")
        .option("path", path)
        .option("checkpointLocation", checkpoint)
        .trigger(availableNow=True)
        .outputMode("append")
        .start()
        .awaitTermination()
    )


def stream_sessionize(
    events_stream: DataFrame,
    gap: str = "30 minutes",
    watermark: str = "1 hour",
) -> DataFrame:
    """Streaming sessionization via native session windows:
    (user_id, session_start, session_end, n_events).

    ``F.session_window`` keeps per-key state that MERGES adjacent events
    closer than ``gap`` — the stateful streaming twin of the batch
    lag-over-window sessionization (the §2.4 `sessionization` query) —
    and the watermark closes sessions (and frees their state) once event
    time passes session_end + watermark, so state is bounded by the
    active-session population at any watermark horizon, not by history.
    Append-mode-compatible: rows emit only when their session closes.
    """
    return (
        events_stream.withWatermark("ts", watermark)
        .groupBy(F.session_window("ts", gap).alias("w"), F.col("user_id"))
        .agg(F.count("*").alias("n_events"))
        .select(
            "user_id",
            F.col("w.start").alias("session_start"),
            F.col("w.end").alias("session_end"),
            "n_events",
        )
    )
