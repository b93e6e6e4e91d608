"""Focused equivalence tests for the round-6 optimization rewrites.

Each optimization that changed an operator's INTERNALS while promising an
identical result gets a direct regression test against the naive/previous
derivation, on corpora built to hit the edge cases (duplicate grams,
empty tokens from doubled spaces, tie boundaries, negative zeros) — the
oracle gate proves the composed queries, these prove the rewritten pieces
in isolation.
"""

from __future__ import annotations

import random

import pytest
from pyspark.sql import functions as F

from nilinker_spark.operators import corpus as C


def _rand_texts(n=80, seed=6):
    rng = random.Random(seed)
    vocab = ["spark", "row", "agg", "a", "ab", "abc", "x9", "key-1", "q"]
    texts = []
    for _ in range(n):
        k = rng.randint(0, 12)
        words = [rng.choice(vocab) for _ in range(k)]
        t = " ".join(words)
        # doubled spaces produce EMPTY tokens — the nastiest gram input
        if rng.random() < 0.3 and t:
            i = rng.randrange(len(t))
            t = t[:i] + "  " + t[i:]
        texts.append(t)
    texts += ["", " ", "one", "two words", "a  b"]  # boundary rows
    return texts


@pytest.fixture(scope="module")
def gram_docs(spark):
    texts = _rand_texts()
    return spark.createDataFrame(
        [(i, t) for i, t in enumerate(texts)], "doc_id long, text string"
    ).cache()


def _reference_grams(toks: F.Column, k: int) -> F.Column:
    """The r5 index-based gram builder _zip_grams replaced (kept verbatim
    as the reference semantics)."""
    n = F.size(toks)
    idx = F.sequence(F.lit(0), F.greatest(n - k, F.lit(0)))
    g = F.transform(idx, lambda i: F.concat_ws(" ", F.slice(toks, i + 1, k)))
    return F.filter(g, lambda s: F.size(F.split(s, " ")) == k)


@pytest.mark.parametrize("k", [2, 3, 4])
def test_zip_grams_matches_reference(spark, gram_docs, k):
    toks = C.tokens_col("text")
    new = (
        C._gram_gate(gram_docs, k)
        .select("doc_id", F.explode(C._zip_grams(toks, k)).alias("g"))
    )
    # reference: per-gram arity check over ALL docs (no doc-level gate)
    old = gram_docs.select("doc_id", F.explode(_reference_grams(toks, k)).alias("g"))
    assert new.exceptAll(old).count() == 0 and old.exceptAll(new).count() == 0


def test_shingles_per_doc_distinct_equals_global_distinct(spark, gram_docs):
    new = C.shingles(gram_docs, 2)
    raw = C.gram_hash_rows(gram_docs, 2)
    old = raw.distinct()
    assert new.exceptAll(old).count() == 0 and old.exceptAll(new).count() == 0


def test_doc_tokens_per_doc_distinct_equals_global_distinct(spark, gram_docs):
    new = C.doc_tokens(gram_docs, min_len=1)
    old = gram_docs.select(
        "doc_id", F.explode(C.tokens_col("text", 1)).alias("token")
    ).distinct()
    assert new.exceptAll(old).count() == 0 and old.exceptAll(new).count() == 0


def test_gazetteer_struct_group_equals_string_group(spark, gram_docs):
    """r6: the gazetteer groups (w0, w1) structs and builds the surface
    string per DISTINCT bigram; equivalence with per-occurrence string
    grouping requires space-free tokens, which split(text, ' ')
    guarantees.  top_n below the distinct-bigram count exercises the
    count-desc/surface-asc tie boundary."""
    from nilinker_spark.sources.webtext import gazetteer_from_documents

    toks = F.split(F.col("text"), " ")
    rows = (
        gram_docs.filter(F.size(toks) >= 2)
        .select(F.explode(C._zip_grams(toks, 2)).alias("surface"))
        .groupBy("surface")
        .count()
        .orderBy(F.desc("count"), F.asc("surface"))
        .limit(7)
        .collect()
    )
    reference = {r["surface"] for r in rows}
    assert gazetteer_from_documents(gram_docs, top_n=7) == reference


def test_minhash_band_keys_match_longform(spark, gram_docs):
    """r6: band keys concat'd straight from the wide signature columns
    must equal the unpivoted groupBy(doc_id, band) -> sort_array ->
    concat derivation they replaced."""
    n_hashes, band_size = 6, 2
    wide = C._minhash_wide(gram_docs, n_hashes, None, None)
    n_bands = (n_hashes + band_size - 1) // band_size
    new = (
        wide.select(
            "doc_id",
            F.explode(
                F.array(
                    *[
                        F.struct(
                            F.lit(b).cast("int").alias("band"),
                            F.concat_ws(
                                "|",
                                *[
                                    F.col(f"mh{i}")
                                    for i in range(
                                        b * band_size,
                                        min((b + 1) * band_size, n_hashes),
                                    )
                                ],
                            ).alias("band_key"),
                        )
                        for b in range(n_bands)
                    ]
                )
            ).alias("e"),
        )
        .select("doc_id", "e.band", "e.band_key")
    )
    long = C.minhash_signatures(gram_docs, n_hashes)
    old = (
        long.withColumn("band", (F.col("hash_id") / band_size).cast("int"))
        .groupBy("doc_id", "band")
        .agg(
            F.concat_ws(
                "|",
                F.transform(
                    F.sort_array(
                        F.collect_list(F.struct("hash_id", "minhash"))
                    ),
                    lambda s: s["minhash"].cast("string"),
                ),
            ).alias("band_key")
        )
    )
    assert new.exceptAll(old).count() == 0 and old.exceptAll(new).count() == 0


def test_signed_round_matches_duckdb_negative_zero(spark):
    """r6: Spark ROUND drops the sign of negative zero; the
    media_features val expression (corpus.signed_round) must keep it
    (DuckDB parity) while matching plain round everywhere else — an exact
    -0.0 input included, which a `v < 0` branch test would miss."""
    import duckdb

    vals = [-0.00004, -0.0, 0.0, 0.00004, -2.00005, 2.00005, -0.5, 0.12344999]
    df = spark.createDataFrame([(v,) for v in vals], "v double")
    got = [str(r["val"]) for r in df.select(C.signed_round("v", 4).alias("val")).collect()]
    # bound as a parameter: a '-0.0' SQL literal parses as a decimal zero
    # and reaches round() without its sign
    want = [str(duckdb.execute("select round(?::double, 4)", [v]).fetchone()[0]) for v in vals]
    assert got == want


def test_extraction_partitions_follow_parallelism(spark):
    """r6: one extraction task per core (the cores/2 heuristic measured
    2x slow); the default must track defaultParallelism, never a
    constant."""
    from nilinker_spark.sources.webtext import webtext_from_documents

    docs = spark.createDataFrame(
        [(i, f"text {i}", "en", "s", 6) for i in range(50)],
        "doc_id long, text string, lang string, source string, n_chars long",
    )
    wt = webtext_from_documents(docs)
    assert (
        wt.rdd.getNumPartitions() == spark.sparkContext.defaultParallelism
    )
