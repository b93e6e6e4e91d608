"""Corpus-operator tests against tiny hand-checkable inputs."""

from __future__ import annotations

import math

import pytest
from pyspark.sql import functions as F

from nilinker_spark.operators import corpus as C


@pytest.fixture(scope="module")
def docs(spark):
    rows = [
        (0, "the cat sat on the mat", "en", "s", 22),
        (1, "the cat sat on the mat", "en", "s", 22),  # exact dup of 0
        (2, "the cat sat on the red mat", "en", "s", 26),  # near dup
        (3, "completely different text here now", "en", "s", 34),
    ]
    return spark.createDataFrame(rows, "doc_id long, text string, lang string, source string, n_chars long")


def test_dedup_exact_groups(docs):
    out = {r["canonical_doc_id"]: r["n_docs"] for r in C.dedup_exact(docs).collect()}
    assert out[0] == 2  # docs 0 and 1 share a hash, canonical = min id
    assert out[2] == 1 and out[3] == 1


def test_ngram_jaccard_exact_dup_is_1(docs):
    pairs = {(r["doc_a"], r["doc_b"]): r["jaccard"] for r in C.ngram_jaccard_pairs(docs, threshold=0.01).collect()}
    assert pairs[(0, 1)] == 1.0
    assert 0 < pairs[(0, 2)] < 1.0
    assert (0, 3) not in pairs  # no shared trigrams


def test_minhash_lsh_catches_exact_dup(docs):
    cands = {(r["doc_a"], r["doc_b"]) for r in C.minhash_lsh_pairs(docs).collect()}
    assert (0, 1) in cands  # identical docs always collide on every band
    assert (0, 3) not in cands


def test_simhash_identical_docs_equal(docs):
    sh = {r["doc_id"]: r["simhash"] for r in C.simhash(docs).collect()}
    assert sh[0] == sh[1]
    # near-dup has small hamming distance; unrelated doc larger
    ham_near = bin(sh[0] ^ sh[2]).count("1")
    ham_far = bin(sh[0] ^ sh[3]).count("1")
    assert ham_near < ham_far


def test_embedding_neardup_and_ann(spark):
    rows = [
        (0, [1.0, 0.0, 0.0]),
        (1, [0.999, 0.04, 0.0]),  # near dup of 0
        (2, [0.0, 1.0, 0.0]),
        (3, [0.0, 0.0, 1.0]),
    ]
    emb = spark.createDataFrame(rows, "vec_id long, embedding array<float>")
    near = {(r["id_a"], r["id_b"]) for r in C.embedding_neardup_pairs(emb, threshold=0.95).collect()}
    assert near == {(0, 1)}

    queries = emb.filter(F.col("vec_id") == 0).select(
        F.col("vec_id").alias("query_id"), F.col("embedding").alias("q_embedding")
    )
    top = C.ann_topk_bruteforce(emb, queries, k=2).collect()
    assert [r["vec_id"] for r in sorted(top, key=lambda r: r["rank"])] == [1, 2]


def test_ann_lsh_recall_vs_bruteforce(spark, kb):
    """LSH ANN is approximate; on clustered vectors it must recover most
    of the exact top-1 neighbors (sanity, not exactness)."""
    import numpy as np

    rng = np.random.default_rng(3)
    centers = rng.normal(size=(5, 16)).astype("float32")
    rows = []
    for i in range(100):
        c = centers[i % 5]
        v = c + rng.normal(scale=0.05, size=16).astype("float32")
        rows.append((i, [float(x) for x in v]))
    emb = spark.createDataFrame(rows, "vec_id long, embedding array<float>")
    queries = emb.filter(F.col("vec_id") < 10).select(
        F.col("vec_id").alias("query_id"), F.col("embedding").alias("q_embedding")
    )
    exact = {r["query_id"]: r["vec_id"] for r in C.ann_topk_bruteforce(emb, queries, k=1).collect()}
    approx = {}
    for r in C.ann_topk_lsh(emb, queries, k=1, n_planes=6, dim=16).collect():
        approx[r["query_id"]] = r["vec_id"]
    hits = sum(1 for q, v in exact.items() if approx.get(q) == v)
    assert hits >= 7, f"LSH top-1 recall {hits}/10 too low"


def test_text_quality_and_counts(docs):
    q = {r["doc_id"]: r for r in C.text_quality(docs).collect()}
    assert q[0]["n_tokens"] == 6
    assert q[0]["stopword_ratio"] == round(3 / 6, 4)  # the, on, the
    tc = {r["doc_id"]: r for r in C.token_counts(docs).collect()}
    assert tc[0]["ws_tokens"] == 6
    assert tc[0]["distinct_tokens"] == 5  # 'the' twice


def test_fingerprint_order_sensitive(spark):
    a = spark.createDataFrame([(0, "x y", "en", "s", 3)], "doc_id long, text string, lang string, source string, n_chars long")
    b = spark.createDataFrame([(0, "y x", "en", "s", 3)], "doc_id long, text string, lang string, source string, n_chars long")
    fa = C.fingerprint(a).collect()[0]["fingerprint"]
    fb = C.fingerprint(b).collect()[0]["fingerprint"]
    assert fa != fb  # rolling fingerprint is position-weighted


def test_information_content_formula(spark, docs_sf=None):
    """IC math matches the reference formula -log((f+1)/(max+1))+2
    (/root/reference/src/REEL/information_content.py:31-39)."""
    counts = {"a": 9, "b": 4}
    mx = 9
    for tok, f in counts.items():
        ic = -math.log((f + 1) / (mx + 1)) + 2
        if tok == "a":
            assert ic == pytest.approx(2.0)
        else:
            assert ic == pytest.approx(-math.log(5 / 10) + 2)


def test_embedding_neardup_lsh_finds_neardups(spark):
    """LSH near-dup must recover pairs the brute-force path finds (near-
    identical vectors share all plane signs with overwhelming probability)."""
    import numpy as np

    rng = np.random.default_rng(11)
    rows = []
    for i in range(0, 60, 2):
        v = rng.normal(size=16).astype("float32")
        rows.append((i, [float(x) for x in v]))
        rows.append((i + 1, [float(x) for x in (v + rng.normal(scale=0.01, size=16).astype("float32"))]))
    emb = spark.createDataFrame(rows, "vec_id long, embedding array<float>")
    brute = {(r["id_a"], r["id_b"]) for r in C.embedding_neardup_pairs(emb, threshold=0.99).collect()}
    lsh = {(r["id_a"], r["id_b"]) for r in C.embedding_neardup_lsh(emb, threshold=0.99, dim=16).collect()}
    planted = {(i, i + 1) for i in range(0, 60, 2)}
    assert planted <= brute
    # LSH recall on planted near-dups >= 90%, and no false positives
    assert len(lsh & planted) >= int(0.9 * len(planted))
    assert lsh <= brute


def test_repetition_metrics_gopher_gates(spark):
    docs = spark.createDataFrame(
        [
            (0, "a b a b a b", "en", "s", 11),      # "a b" dominates
            (1, "p q r s t u", "en", "s", 11),      # all grams unique
        ],
        "doc_id long, text string, lang string, source string, n_chars long",
    )
    m = {r["doc_id"]: r for r in C.repetition_metrics(docs).collect()}
    # doc0 bigrams: "a b","b a","a b","b a","a b" -> top "a b" 3/5
    assert m[0]["top_bigram_frac"] == round(3 / 5, 4)
    # doc0 trigrams: aba,bab,aba,bab -> 2 distinct of 4 occurrences
    assert m[0]["dup_trigram_frac"] == 0.5
    assert m[1]["top_bigram_frac"] == round(1 / 5, 4)
    assert m[1]["dup_trigram_frac"] == 0.0


def test_remove_stopwords(spark):
    docs = spark.createDataFrame(
        [(0, "the cat sat on the mat", "en", "s", 22)],
        "doc_id long, text string, lang string, source string, n_chars long",
    )
    r = C.remove_stopwords(docs).collect()[0]
    assert r["clean_text"] == "cat sat mat"
    assert r["n_removed"] == 3


def test_new_corpus_ops_no_python(spark):
    docs = spark.createDataFrame(
        [(0, "a b c a b", "en", "s", 9)],
        "doc_id long, text string, lang string, source string, n_chars long",
    )
    from nilinker_spark.plans import has_python_stage

    assert not has_python_stage(C.repetition_metrics(docs))
    assert not has_python_stage(C.remove_stopwords(docs))


def test_lsh_signature_dim_mismatch_raises(spark):
    """A vector whose length != dim must fail loudly, not silently hash
    into the all-zeros bucket (the null-poisoned fold failure mode)."""
    import pytest

    emb = spark.createDataFrame(
        [(0, [1.0] * 16), (1, [1.0] * 8)], "vec_id long, embedding array<float>"
    )
    df = C.embedding_neardup_lsh(emb, threshold=0.0, dim=16)
    with pytest.raises(Exception) as exc:
        df.collect()
    # either loud failure is acceptable: the signature's explicit length
    # guard, or (since the unrolled dot/norm reads fixed indices) Spark's
    # ANSI invalid-array-index error from the norm projection — the
    # requirement is that a mismatched vector NEVER silently hashes into
    # the all-zeros bucket
    msg = str(exc.value)
    assert "lsh_signature" in msg or "INVALID_ARRAY_INDEX" in msg, msg


def test_repetition_metrics_two_token_doc_dropped(spark):
    """A doc with bigrams but no trigrams is dropped — the same semantics
    as the old inner join of the two metric tables (and the oracle)."""
    docs = spark.createDataFrame(
        [(0, "a b", "en", "s", 3), (1, "a b c d", "en", "s", 7)],
        "doc_id long, text string, lang string, source string, n_chars long",
    )
    rows = {r["doc_id"] for r in C.repetition_metrics(docs).collect()}
    assert rows == {1}


def test_hot_shingle_cap_bounds_boilerplate_bucket(spark):
    """Zipf fixture: one boilerplate shingle shared by EVERY doc. Uncapped,
    the shared-shingle join sees the O(n²) bucket; with the cap, the
    boilerplate shingle is dropped (and reported — no silent truncation)
    while genuinely-similar pairs survive via their other shingles."""
    from nilinker_spark.operators.corpus import (
        cap_shingle_df,
        ngram_jaccard_pairs,
        release_caches,
        shingles,
    )

    boiler = "copyright acme corp"
    rows = []
    # 2 genuinely near-duplicate docs + 18 unrelated docs, all sharing the
    # boilerplate trigram
    rows.append((0, f"{boiler} alpha beta gamma delta epsilon zeta"))
    rows.append((1, f"{boiler} alpha beta gamma delta epsilon eta"))
    for i in range(2, 20):
        rows.append((i, f"{boiler} unique{i}a unique{i}b unique{i}c unique{i}d"))
    docs = spark.createDataFrame(rows, "doc_id long, text string")

    # the boilerplate shingle really is the hot one
    metrics: dict = {}
    sh = shingles(docs, 3)
    capped = cap_shingle_df(sh, max_df=10, metrics_out=metrics)
    hot = metrics["hot_shingles"].collect()
    assert len(hot) >= 1 and max(r["df"] for r in hot) == 20
    # bucket bound: no capped shingle has df > 10
    assert capped.groupBy("sh").count().filter("count > 10").count() == 0

    uncapped_pairs = ngram_jaccard_pairs(docs, threshold=0.01)
    capped_pairs = ngram_jaccard_pairs(docs, threshold=0.01, max_shingle_df=10)
    got_capped = {(r["doc_a"], r["doc_b"]) for r in capped_pairs.collect()}
    got_uncapped = {(r["doc_a"], r["doc_b"]) for r in uncapped_pairs.collect()}
    release_caches()
    # uncapped: boilerplate connects everything; capped: only the real dup
    assert (0, 1) in got_capped
    assert len(got_capped) < len(got_uncapped)
    assert all(p == (0, 1) for p in got_capped)


def test_minhash_cap_drops_boilerplate_from_signatures(spark):
    """With the cap, LSH candidates come from informative shingles only."""
    from nilinker_spark.operators.corpus import minhash_lsh_pairs, release_caches

    boiler = "copyright acme corp"
    rows = [(i, f"{boiler} unique{i}a unique{i}b unique{i}c unique{i}d") for i in range(12)]
    docs = spark.createDataFrame(rows, "doc_id long, text string")
    capped = minhash_lsh_pairs(docs, max_shingle_df=6)
    # docs share ONLY boilerplate -> no candidates once capped
    assert capped.count() == 0
    uncapped = minhash_lsh_pairs(docs)
    assert uncapped.count() > 0
    release_caches()


def test_dedup_clusters_end_to_end(spark):
    """LSH pairs -> CC -> canonical labels: exact dup groups co-cluster
    under the numeric component-min, singletons self-label, and exactly
    one member per cluster is canonical."""
    base = "alpha beta gamma delta epsilon zeta eta theta"
    rows = [
        (0, base), (5, base), (12, base),           # one dup group, min id 0
        (3, "totally different words here entirely unique"),
        (7, "another unrelated document with its own content"),
    ]
    docs = spark.createDataFrame(rows, "doc_id long, text string")
    out = {r["doc_id"]: (r["cluster_id"], r["is_canonical"]) for r in C.dedup_clusters(docs).collect()}
    assert out[0] == (0, True) and out[5] == (0, False) and out[12] == (0, False)
    assert out[3] == (3, True) and out[7] == (7, True)
    assert sum(1 for c, canon in out.values() if canon) == 3


def test_ann_ivf_recall_and_exhaustive_probe(spark):
    """IVF-flat vs the exact baseline: probing a fraction of cells gives
    partial recall; probing EVERY cell degenerates to the exact search
    (same rows, same ranks) — the routing loses nothing by itself."""
    emb = spark.read.parquet("/root/testdata/sf0.01/embeddings.parquet")
    q = emb.filter(F.col("vec_id") < 10).select(
        F.col("vec_id").alias("query_id"), F.col("embedding").alias("q_embedding")
    )
    exact = {(r["query_id"], r["vec_id"]) for r in C.ann_topk_bruteforce(emb, q, k=5).collect()}

    part = {
        (r["query_id"], r["vec_id"])
        for r in C.ann_topk_ivf(emb, q, k=5, n_centroids=16, n_probe=4).collect()
    }
    recall = len(part & exact) / len(exact)
    assert 0.3 <= recall <= 1.0, recall

    n_cells = C.ivf_cells(emb, 16)[0].count()
    full = {
        (r["query_id"], r["vec_id"], r["rank"])
        for r in C.ann_topk_ivf(emb, q, k=5, n_centroids=16, n_probe=n_cells).collect()
    }
    exact_ranked = {
        (r["query_id"], r["vec_id"], r["rank"])
        for r in C.ann_topk_bruteforce(emb, q, k=5).collect()
    }
    assert full == exact_ranked, "probing all cells must equal the exact search"


def test_clean_corpus_filters_and_dedups(spark):
    """clean_corpus keeps exactly: quality-passing AND canonical docs."""
    base = "alpha beta gamma delta epsilon zeta eta theta iota kappa"
    rows = [
        (1, base, "en"),                       # canonical of the dup pair
        (2, base, "en"),                       # near-dup -> dropped
        (3, "x", "en"),                        # too short -> dropped
        (4, "!!! ??? ***** &&&& %%% #### @@@ ^^^ ((( )))", "en"),  # non-alpha
        (5, "the quick brown fox jumps over the lazy dog today", "en"),
    ]
    docs = spark.createDataFrame(rows, "doc_id long, text string, lang string")
    out = {r["doc_id"]: r["cluster_id"] for r in C.clean_corpus(docs).collect()}
    assert set(out) == {1, 5}
    assert out[1] == 1 and out[5] == 5


def test_embedding_neardup_clusters_identical_vectors(spark):
    """Identical vectors share every hyperplane sign -> one cluster with
    the numeric-min canonical; distinct vectors stay singletons."""
    import numpy as np

    rng = np.random.default_rng(3)
    v1 = [float(x) for x in rng.normal(size=64)]
    v2 = [float(x) for x in rng.normal(size=64)]
    emb = spark.createDataFrame(
        [(7, v1), (3, v1), (9, v2)], "vec_id long, embedding array<float>"
    )
    out = {r["vec_id"]: (r["cluster_id"], r["is_canonical"]) for r in
           C.embedding_neardup_clusters(emb, threshold=0.9).collect()}
    assert out[3] == (3, True) and out[7] == (3, False)
    assert out[9] == (9, True)


def test_release_caches_empties_cache_manager(spark, docs):
    """ADVICE r3: corpus operators register every persist() in a module
    registry; release_caches() must leave the catalog cacheManager empty
    (the leak class — persisted frames survive until unpersisted, and a
    session looping corpus queries would accumulate them)."""
    cache_mgr = spark._jsparkSession.sharedState().cacheManager()
    spark.catalog.clearCache()
    assert cache_mgr.isEmpty()
    # both the capped-shingle chain (raw sh + hot dim) and the band table
    C.minhash_lsh_pairs(docs, max_shingle_df=3).count()
    C.ngram_jaccard_pairs(docs, max_shingle_df=3).count()
    assert not cache_mgr.isEmpty()
    assert C.release_caches() >= 3
    assert cache_mgr.isEmpty()


def test_cluster_node_pad_covers_bigint(spark):
    """ADVICE r3: lpad TRUNCATES over-long inputs — doc_ids >= 10^12 must
    not collide into one node key.  Two far-apart huge ids must stay
    distinct singleton clusters, and the canonical rule still holds."""
    rows = [
        (10**12, "alpha beta gamma delta epsilon zeta", "en", "s", 30),
        (10**12 + 7, "totally unrelated words appear in this one", "en", "s", 40),
        (10**15, "alpha beta gamma delta epsilon zeta", "en", "s", 30),  # dup of 10^12
    ]
    docs = spark.createDataFrame(
        rows, "doc_id long, text string, lang string, source string, n_chars long"
    )
    out = {r["doc_id"]: (r["cluster_id"], r["is_canonical"]) for r in C.dedup_clusters(docs).collect()}
    assert out[10**12] == (10**12, True)
    assert out[10**15] == (10**12, False)  # clusters with the min id, not a truncated key
    assert out[10**12 + 7] == (10**12 + 7, True)
    C.release_caches()


def test_ann_ivf_lloyd_round_recall(spark):
    """VERDICT r3 #4: one deterministic Lloyd refinement of the md5-stride
    seed quantizer.  Measured recall@5 vs the exact baseline for the seed
    and the trained quantizer at the same n_probe; the trained one must
    not be worse, and the exhaustive probe still degenerates to exact
    (training moves centroids, never drops vectors)."""
    emb = spark.read.parquet("/root/testdata/sf0.01/embeddings.parquet")
    q = emb.filter(F.col("vec_id") < 10).select(
        F.col("vec_id").alias("query_id"), F.col("embedding").alias("q_embedding")
    )
    exact = {(r["query_id"], r["vec_id"]) for r in C.ann_topk_bruteforce(emb, q, k=5).collect()}

    def recall(iters: int) -> float:
        got = {
            (r["query_id"], r["vec_id"])
            for r in C.ann_topk_ivf(
                emb, q, k=5, n_centroids=16, n_probe=4, lloyd_iters=iters
            ).collect()
        }
        return len(got & exact) / len(exact)

    r0, r1 = recall(0), recall(1)
    print(f"ivf recall@5 n_probe=4: seed={r0:.3f} lloyd1={r1:.3f}")
    assert r1 >= r0, (r0, r1)

    # exhaustive probe on the TRAINED quantizer == exact search
    cents, _ = C.ivf_cells(emb, 16, lloyd_iters=1)
    n_cells = cents.count()
    full = {
        (r["query_id"], r["vec_id"], r["rank"])
        for r in C.ann_topk_ivf(
            emb, q, k=5, n_centroids=16, n_probe=n_cells, lloyd_iters=1
        ).collect()
    }
    exact_ranked = {
        (r["query_id"], r["vec_id"], r["rank"])
        for r in C.ann_topk_bruteforce(emb, q, k=5).collect()
    }
    assert full == exact_ranked


def test_decontaminate_drops_overlapping_train_docs(spark):
    rows = [
        # benchmark doc (id 0): contributes trigram "x y z"
        (0, "x y z q r", "en", "s", 9),
        # train doc sharing the "x y z" trigram -> contaminated
        (1, "a b x y z c", "en", "s", 11),
        # train doc sharing only a BIGRAM ("x y") -> survives at k=3
        (2, "p q x y w v", "en", "s", 11),
        # train doc with no overlap -> survives
        (3, "m n o p2 q2 r2", "en", "s", 14),
    ]
    docs = spark.createDataFrame(
        rows, "doc_id long, text string, lang string, source string, n_chars long"
    )
    bench = docs.filter(F.col("doc_id") == 0)
    train = docs.filter(F.col("doc_id") > 0)
    out = C.decontaminate(train, bench, k=3)
    assert {r["doc_id"] for r in out.collect()} == {2, 3}
    # schema contract: survivors carry (doc_id, lang, n_chars)
    assert out.columns == ["doc_id", "lang", "n_chars"]


def test_importance_resample_rule_and_determinism(docs):
    import hashlib

    out = C.importance_resample(docs)
    rows1 = {(r["doc_id"], r["bucket"], r["draw_bp"]) for r in out.collect()}
    rows2 = {(r["doc_id"], r["bucket"], r["draw_bp"]) for r in C.importance_resample(docs).collect()}
    assert rows1 == rows2  # salted-hash draw: reproducible across runs
    # re-derive the keep rule in plain Python: draw < rate(bucket)
    quality = {r["doc_id"]: r["quality"] for r in C.text_quality(docs).collect()}
    rates = {name: bp for name, _, bp in C.RESAMPLE_BUCKETS}
    for doc_id, bucket, draw in rows1:
        h = int(hashlib.md5(f"resample-v1#{doc_id}".encode()).hexdigest()[:15], 16)
        assert draw == h % 10_000
        assert draw < rates[bucket]
        q = quality[doc_id]
        expect = "head" if q >= 0.78 else ("middle" if q >= 0.63 else "tail")
        assert bucket == expect


def test_pack_sequences_matches_global_cumsum(spark):
    rows = [(i, " ".join(["w"] * (3 + i % 5)), "en", "s", 0) for i in range(40)]
    docs = spark.createDataFrame(
        rows, "doc_id long, text string, lang string, source string, n_chars long"
    )
    out = {r["doc_id"]: (r["n_tokens"], r["shard_id"], r["shard_offset"])
           for r in C.pack_sequences(docs, budget=16, bucket_width=7).collect()}
    # naive single-pass oracle: global cumulative sum in doc_id order
    before = 0
    for i in range(40):
        n = 3 + i % 5
        assert out[i] == (n, before // 16, before % 16)
        before += n
    # the distributed prefix sum is bucket-width invariant: one doc per
    # bucket vs one bucket total must agree exactly
    alt = {r["doc_id"]: (r["n_tokens"], r["shard_id"], r["shard_offset"])
           for r in C.pack_sequences(docs, budget=16, bucket_width=1000).collect()}
    assert alt == out


def test_trainprep_ops_no_python(spark):
    docs = spark.createDataFrame(
        [(0, "a b c a b", "en", "s", 9), (1, "a b c d e", "en", "s", 9)],
        "doc_id long, text string, lang string, source string, n_chars long",
    )
    from nilinker_spark.plans import has_python_stage

    assert not has_python_stage(C.decontaminate(docs, docs.limit(1)))
    assert not has_python_stage(C.importance_resample(docs))
    assert not has_python_stage(C.pack_sequences(docs, budget=8, bucket_width=2))
    assert not has_python_stage(C.source_stats(docs))


def test_source_stats_domain_gate(spark):
    rows = (
        # src "good": long alpha-rich docs; src "junk": short low-alpha
        [(i, "alpha beta gamma delta " * 8, "en", "good", 0) for i in range(4)]
        + [(10 + i, "x 1 2 3!!", "en", "junk", 0) for i in range(4)]
    )
    docs = spark.createDataFrame(
        rows, "doc_id long, text string, lang string, source string, n_chars long"
    )
    out = {r["source"]: r for r in C.source_stats(docs, min_mean_quality=0.5).collect()}
    assert out["good"]["n_docs"] == 4 and out["junk"]["n_docs"] == 4
    assert out["good"]["keep"] and not out["junk"]["keep"]
    # 4-dp fixed-point mean over the shared per-doc quality definition
    # (integer division of ten-thousandths; CLAUDE.md float rule)
    for src in ("good", "junk"):
        qs = [r["quality"] for r in C.text_quality(docs).join(
            docs.select("doc_id", "source"), "doc_id").filter(
            F.col("source") == src).collect()]
        expect = (sum(int(round(q * 10000)) for q in qs) // len(qs)) / 10000.0
        assert out[src]["mean_quality"] == expect
        assert out[src]["total_tokens"] == sum(
            r["n_tokens"] for r in C.text_quality(docs).join(
                docs.select("doc_id", "source"), "doc_id").filter(
                F.col("source") == src).collect())


def test_trainprep_randomized_bruteforce(spark):
    """Seeded random corpora vs plain-Python oracles: decontaminate's
    survivors share NO k-gram with the benchmark (and every dropped doc
    shares one); pack_sequences equals the naive global cumsum at two
    bucket widths."""
    import numpy as np

    rng = np.random.default_rng(7)
    vocab = [f"w{i}" for i in range(12)]
    rows = []
    for i in range(60):
        n = int(rng.integers(1, 12))
        rows.append((i, " ".join(rng.choice(vocab, size=n)), "en", "s", 0))
    docs = spark.createDataFrame(
        rows, "doc_id long, text string, lang string, source string, n_chars long"
    )
    texts = {i: t for i, t, *_ in rows}

    def grams(t, k=3):
        toks = t.split(" ")
        return {" ".join(toks[i : i + k]) for i in range(len(toks) - k + 1)}

    bench_ids = {i for i in texts if i % 7 == 0}
    bench_grams = set().union(*(grams(texts[i]) for i in bench_ids))
    out = C.decontaminate(
        docs.filter(F.col("doc_id") % 7 != 0), docs.filter(F.col("doc_id") % 7 == 0), k=3
    )
    survivors = {r["doc_id"] for r in out.collect()}
    for i in texts:
        if i in bench_ids:
            assert i not in survivors
        elif grams(texts[i]) & bench_grams:
            assert i not in survivors, i
        else:
            assert i in survivors, i

    for width in (5, 64):
        got = {
            r["doc_id"]: (r["shard_id"], r["shard_offset"])
            for r in C.pack_sequences(docs, budget=7, bucket_width=width).collect()
        }
        before = 0
        for i in range(60):
            n = len(texts[i].split(" "))
            assert got[i] == (before // 7, before % 7), (width, i)
            before += n


def test_lm_bigram_score_hand_oracle(spark):
    """CCNet-style LM signal: mean corpus frequency of a doc's bigrams,
    4-dp fixed point; docs with <2 tokens drop; the common-construction
    doc outscores the all-unique one."""
    docs = spark.createDataFrame(
        [(1, "a b a b"), (2, "a b"), (3, "z"), (4, "q r")],
        "doc_id long, text string",
    )
    got = {r.doc_id: (r.n_bigrams, r.mean_bigram_freq) for r in C.lm_bigram_score(docs).collect()}
    C.release_caches()
    # corpus bigram freqs: "a b"=3, "b a"=1, "q r"=1
    # doc1: n=3, s=3+1+3=7 -> (7*10000)//3/10000 = 2.3333
    assert got == {1: (3, 2.3333), 2: (1, 3.0), 4: (1, 1.0)}
    assert 3 not in got
