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


def _round_inputs():
    """Doubles where rounding rules part: for each scale, the exact-half
    products ``(k + 0.5) / 10^d`` of both signs and their ``nextafter``
    neighbours, plus normals and the named traps.  ±1e307 overflow to inf
    once scaled at d >= 2, where DuckDB returns the input unchanged."""
    import numpy as np

    rng = np.random.default_rng(13)
    vals = [rng.standard_normal(2000) * 10.0 ** rng.integers(-6, 4, 2000)]
    for d in (0, 2, 4, 6):
        k = np.concatenate([np.arange(2000), rng.integers(0, 10**7, 4000)])
        half = (k + 0.5) / 10.0**d
        half = np.concatenate([half, -half])
        vals += [half, np.nextafter(half, np.inf), np.nextafter(half, -np.inf)]
    special = [
        0.48624999999999996, 0.0, -0.0, -1e-9, 0.49999999999999994e-4,
        0.49999999999999994, -0.5, np.inf, -np.inf, np.nan, 1e307, -1e307,
        -0.00004, 0.00004, -2.00005, 2.00005, 0.12344999,
    ]
    return np.concatenate(vals + [np.array(special)]), special


def test_signed_round_matches_duckdb_negative_zero(spark):
    """functions.rounding.round_double is DuckDB's round(DOUBLE, d) bit
    for bit: value and sign of zero, on >= 10^5 doubles at d = 0, 2, 4
    and 6 (exact halves, their neighbours, -0.0, tiny negatives, inf, NaN
    and finite doubles whose scaled value overflows).  Plain F.round rounds the decimal expansion HALF_UP and drops
    the sign of -0.0, so it must disagree somewhere on the same inputs."""
    import duckdb
    import numpy as np
    import pandas as pd

    from nilinker_spark.functions.rounding import round_double

    vals, special = _round_inputs()
    assert len(vals) >= 10**5
    scales = (0, 2, 4, 6)
    df = spark.createDataFrame(pd.DataFrame({"i": np.arange(len(vals)), "v": vals}))
    got = (
        df.select(
            "i",
            *[round_double("v", d).alias(f"r{d}") for d in scales],
            F.round("v", 4).alias("plain4"),
        )
        .toPandas()
        .sort_values("i")
    )

    con = duckdb.connect()

    def duck(d):
        # bound as parameters: a '-0.0' SQL literal parses as a decimal
        # zero and reaches round() without its sign.  A list parameter
        # turns NaN into NULL, so the named traps are bound one by one.
        bulk = con.execute(
            f"select round(unnest(?::double[]), {d})", [vals[: -len(special)].tolist()]
        ).fetchall()
        one = [
            con.execute(f"select round(?::double, {d})", [float(v)]).fetchone()
            for v in special
        ]
        return np.array([r[0] for r in bulk + one], dtype=np.float64)

    def mismatches(a, b):
        same = ((a == b) & (np.signbit(a) == np.signbit(b))) | (np.isnan(a) & np.isnan(b))
        return np.flatnonzero(~same)

    want = {d: duck(d) for d in scales}
    for d in scales:
        bad = mismatches(got[f"r{d}"].to_numpy(), want[d])
        assert len(bad) == 0, (d, [(vals[i], got[f"r{d}"].iat[i], want[d][i]) for i in bad[:5]])
    assert len(mismatches(got["plain4"].to_numpy(), want[4])) > 0


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
