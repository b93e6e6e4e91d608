"""Adapters from the synthetic testdata tables to the webtext input shape.

The pipeline's authoritative input is the Iceberg-style table
``(url string, warc_ts timestamp, html binary, text string, lang string)``
(BASELINE.json input_hint).  ``webtext_from_documents`` derives that shape
deterministically from the driver-provided ``documents`` parquet so the
entry point and bench run against driver data without synthesizing rows.
"""

from __future__ import annotations

import os

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F
from pyspark.sql import types as T

from nilinker_spark.operators.corpus import _zip_gram_structs

# The webtext input table (BASELINE.json input_hint), declared once: the
# fixture writer, the streaming source and the tests all use it.
WEBTEXT_SCHEMA = T.StructType(
    [
        T.StructField("url", T.StringType(), False),
        T.StructField("warc_ts", T.TimestampType(), False),
        T.StructField("html", T.BinaryType(), False),
        T.StructField("text", T.StringType(), False),
        T.StructField("lang", T.StringType(), False),
    ]
)


def load_table(
    spark: SparkSession, sf_dir: str, name: str, split: bool = True
) -> DataFrame:
    """Read one testdata table; by default re-split tiny single-row-group
    inputs so downstream fan-out compute parallelizes.

    The testdata ships each table as ONE parquet file with ONE row group,
    so the scan plans into a single non-empty task and all the fan-out
    compute that follows (gram explode + md5 hashing, tokenization,
    cosine scoring) serializes onto one core before the first exchange
    (guide §2.5: one huge unsplittable input — "repartition immediately
    after the read").  A round-robin repartition of the raw rows costs
    one narrow shuffle of the KB-to-MB base table and unlocks
    full-cluster parallelism for every downstream per-row stage.
    Scale-adaptive: the target follows the session's core count, and a
    genuinely large input (>= ~8 MB/core, the 100 TB case arrives
    pre-split anyway) skips the shuffle entirely.  Every declared query's
    result is partition-independent (aggregates/joins; all limits sit
    above an explicit orderBy).

    ``split=False`` opts out for callers whose per-row map work is
    trivial and whose first operation is a keyed exchange anyway
    (windowed/sessionized event aggregations): there the extra exchange
    is pure overhead.
    """
    path = f"{sf_dir}/{name}.parquet"
    df = spark.read.parquet(path)
    if not split:
        return df
    try:
        if os.path.isfile(path):
            sz = os.path.getsize(path)
        else:
            sz = sum(
                os.path.getsize(os.path.join(path, f))
                for f in os.listdir(path)
                if f.endswith(".parquet")
            )
    except OSError:
        return df
    par = spark.sparkContext.defaultParallelism
    if sz < par * 8 * 1024 * 1024:
        df = df.repartition(par)
    return df


def webtext_from_documents(
    docs: DataFrame,
    replicate: int = 1,
    vocab_variants: int = 1,
) -> DataFrame:
    """documents(doc_id, text, lang, source, n_chars) -> webtext shape.

    ``replicate`` > 1 tiles the corpus with distinct urls (bench scaling
    knob); text content is unchanged so per-url extraction stays pure.
    The result is re-split into one partition per core — the testdata
    ships as a single parquet file, which would otherwise serialize the
    whole extraction stage into one task (a 100 TB table arrives
    pre-split; this stands in for that).

    ``vocab_variants`` = V > 1 derives a DETERMINISTIC per-replicate
    vocabulary expansion from the driver text: every token of replicate r
    gets the suffix ``v{r % V}`` (pure column transform, normalization-
    preserving), so the corpus carries V disjoint surface-form variants of
    every base n-gram.  The synthetic sf tables have only ~10³ distinct
    bigrams — far below the driver-side vocabulary threshold — and this is
    the bench's knob for forcing a REAL distributed S2-S6 vocabulary
    (10⁴-10⁵ forms) out of driver-provided data, no external corpus.
    Callers must keep replicate a multiple of V so every variant appears
    (equal vocabulary at every parallelism level).
    """
    base = docs
    if replicate > 1:
        base = docs.crossJoin(
            F.broadcast(
                docs.sparkSession.range(replicate).select(F.col("id").alias("rep"))
            )
        )
    else:
        base = docs.withColumn("rep", F.lit(0))
    # one task slot per core for the python extraction stage.  The
    # r2-r5 default was cores/2 on the theory that the JVM feeder
    # thread and its python worker are both runnable and cores/2
    # tasks already saturate; measured this round, the feeder thread
    # is far from a full core: at 8 cores, 8 partitions halve the
    # extraction wall vs 4 (2.56M docs: 23.8 -> 11.9 s; 16 partitions
    # gain nothing more), and at 2 cores, 2 partitions beat 1 by
    # 1.8x.  Per-core throughput is then flat across levels
    # (~25k docs/s/core at 2 and at 8 cores).
    partitions = docs.sparkSession.sparkContext.defaultParallelism
    if partitions > 1:
        base = base.repartition(partitions)
    text_col = F.col("text")
    if vocab_variants > 1:
        variant = F.pmod(F.col("rep"), F.lit(vocab_variants)).cast("string")
        text_col = F.array_join(
            F.transform(
                F.split(F.col("text"), " "), lambda t: F.concat(t, F.lit("v"), variant)
            ),
            " ",
        )
    return base.select(
        F.concat(F.lit("doc://"), F.col("rep"), F.lit("/"), F.col("doc_id")).alias("url"),
        (F.to_timestamp(F.lit("2024-01-01 00:00:00")) + F.make_interval(secs=F.col("doc_id"))).alias("warc_ts"),
        F.encode(text_col, "utf-8").alias("html"),
        text_col.alias("text"),
        F.col("lang"),
    )


def varied_gazetteer(docs: DataFrame, top_n: int, variants: int) -> set[str]:
    """Gazetteer matching :func:`webtext_from_documents` with
    ``vocab_variants``: the top-``top_n`` base bigrams, each expanded into
    its ``variants`` suffixed surface forms (size = top_n × variants).
    Base surfaces come from ONE small scan of the unreplicated driver
    table; the expansion is driver-side string work."""
    base = gazetteer_from_documents(docs, top_n=top_n)
    return {
        " ".join(f"{t}v{k}" for t in s.split(" "))
        for s in base
        for k in range(variants)
    }


def gazetteer_from_documents(docs: DataFrame, top_n: int = 100) -> set[str]:
    """Deterministic gazetteer: top-N word BIGRAMS by frequency (ties by
    surface asc) — the KB-alias stand-in for driver data.

    Multi-token surfaces, like real KB aliases: extraction density stays
    realistic (a match at a small fraction of token positions) and the
    greedy longest-match scan does its full 4..1-gram probe work."""
    # zip-slice bigram build + doc-level >=2-token gate (see
    # corpus._zip_gram_structs), but grouped by the (w0, w1) STRUCT: the
    # "w0 w1" surface string is built only for the distinct bigrams
    # (vocabulary-sized) after the count, not per occurrence
    # (corpus-sized) before it — tokens cannot contain spaces (they come
    # from split(text, ' ')), so struct keys and concat keys partition
    # occurrences identically, and the count/surface-asc ordering still
    # runs on the exact same strings.  Measured 1.18 -> 0.95 s warm
    # (2.9 -> 1.6 cold) for the count at 50k docs, sets verified equal.
    toks = F.split(F.col("text"), " ")
    rows = (
        docs.filter(F.size(toks) >= 2)
        .select(F.explode(_zip_gram_structs(toks, 2)).alias("p"))
        .groupBy("p")
        .count()
        .select(F.concat_ws(" ", F.col("p.w0"), F.col("p.w1")).alias("surface"), "count")
        .orderBy(F.desc("count"), F.asc("surface"))
        .limit(top_n)
        .collect()
    )
    return {r["surface"] for r in rows}
