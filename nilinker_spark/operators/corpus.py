"""Training-data corpus operators over the documents/embeddings tables.

The operations a 100 TB webtext training-data pipeline needs around the
ER core: deduplication (exact, n-gram Jaccard, MinHash+LSH, SimHash,
embedding near-dup), similarity search (brute-force + LSH-bucketed ANN),
and text analysis (language-ID heuristic, quality scoring, token
counting, fingerprinting).

Design rules:
- everything is built-in ``pyspark.sql.functions`` — zero Python UDFs in
  these operators, so the whole path stays in whole-stage codegen;
- every hash is ``functions.hashing.h60`` — a 60-bit md5 integer that
  DuckDB reproduces bit-for-bit (``hashing.H60_SQL``), which is what
  makes the oracle checks exact;
- pair-generating operators go through a bounded candidate stage
  (shingle buckets / LSH bands), never a blind crossJoin — the shape
  that survives 1000× scale-up.
"""

from __future__ import annotations

from pyspark.sql import DataFrame, Window
from pyspark.sql import functions as F

from nilinker_spark.functions.hashing import h60, h60_value
from nilinker_spark.functions.rounding import mean_4dp, round_double

# ---------------------------------------------------------------------------
# shared primitives
# ---------------------------------------------------------------------------

# Numeric-id node keys for the CC-based clustering operators: zero-pad to
# 20 chars so lexicographic order == numeric order for the FULL bigint
# range (19 digits).  lpad TRUNCATES over-long inputs, so the previous
# 12-char pad would have collided doc_ids >= 10^12 into one node key
# (ADVICE r3) — exactly the scale the operators claim.  The DuckDB twins
# pad identically.
_NODE_PAD = 20


def _pad_id(col: str) -> F.Column:
    return F.lpad(F.col(col).cast("string"), _NODE_PAD, "0")


def top_k(df: DataFrame, by: str | list[str], order: list[F.Column], k: int) -> DataFrame:
    """The ``k`` first rows of each ``by`` group in ``order``, numbered
    1..k in a ``rank`` column — ``row_number()`` then ``rank <= k``, the
    one top-k shape of the repo.  ``by=[]`` ranks the whole frame.

    Over a partition key Spark pushes the rank limit below the window
    sort (``WindowGroupLimit``: each task keeps k rows per group before
    the exchange).  ``order`` must end in a unique tie-break for the
    result to be deterministic."""
    w = Window.partitionBy(by).orderBy(order)
    return df.withColumn("rank", F.row_number().over(w)).filter(F.col("rank") <= k)


# Ownership registry for frames these operators persist (hot-shingle dims,
# shingle/band tables — multi-consumer intermediates that Spark will not
# exchange-reuse, see ngram_jaccard_pairs).  persist() entries live in the
# session's cacheManager until unpersisted, so a long session looping
# corpus queries (the oracle gate, a notebook) would otherwise accumulate
# them (ADVICE r3).  Callers that batch many queries call
# :func:`release_caches` between/after them; one-shot callers may rely on
# session teardown.
_PERSISTED: list[DataFrame] = []


def _persist(df: DataFrame) -> DataFrame:
    from pyspark import StorageLevel

    df = df.persist(StorageLevel.MEMORY_AND_DISK)
    _PERSISTED.append(df)
    return df


def release_caches() -> int:
    """Unpersist every frame a corpus operator persisted in this process;
    returns how many were released.  Safe to call at any time — the
    DataFrames remain valid (recompute on next use)."""
    n = 0
    while _PERSISTED:
        df = _PERSISTED.pop()
        try:
            df.unpersist()
        except Exception:  # session already stopped
            pass
        n += 1
    return n


def tokens_col(text_col: str = "text", min_len: int = 1) -> F.Column:
    t = F.split(F.col(text_col), " ")
    if min_len > 1:
        t = F.filter(t, lambda x: F.length(x) >= min_len)
    return t


def doc_tokens(docs: DataFrame, min_len: int = 3) -> DataFrame:
    """(doc_id, token) distinct — the 'mention dedup' projection
    (≙ add_or_ignore_annot, /root/reference/src/evanil/annotations.py:11-53
    + the >=3-char filter of /root/reference/src/utils/word_concept.py:52-71).

    Distinct via ``array_distinct`` BEFORE the explode: doc_id is the
    table's key, so per-doc string dedup equals the global
    (doc_id, token) distinct row-for-row — without the corpus-wide
    dropDuplicates exchange the exploded table previously paid
    (guide §2.4 "remove shuffles outright"; measured ~2x on the
    mention_dedup query at 50k docs)."""
    return docs.select(
        "doc_id", F.explode(F.array_distinct(tokens_col("text", min_len))).alias("token")
    )


# ---------------------------------------------------------------------------
# deduplication family
# ---------------------------------------------------------------------------


def dedup_exact(docs: DataFrame) -> DataFrame:
    """Exact dedup by content hash: (text_hash, n_docs, canonical_doc_id)."""
    return (
        docs.select(h60(F.col("text")).alias("text_hash"), "doc_id")
        .groupBy("text_hash")
        .agg(F.count("*").alias("n_docs"), F.min("doc_id").alias("canonical_doc_id"))
    )


def _zip_grams(toks: F.Column, k: int) -> F.Column:
    """Word k-gram strings via ``arrays_zip`` of k shifted slices.

    The old index-based form (``transform(sequence(0, n-k),
    i -> concat_ws(slice(toks, i+1, k)))``) evaluated an interpreted
    ``slice`` + array allocation PER GRAM — measured 17 core-us per gram,
    ~2.0 s for one corpus pass at 50k docs.  Zipping k whole shifted
    slices does the slicing k times per ROW and leaves only struct-field
    access + concat per element: 0.67 s for the same pass, output
    verified row-identical (guide §1.2 step 2: per-task work, after the
    job shape is right).

    Callers MUST pre-filter/guard ``size(toks) >= k``; every produced
    gram is then a full k-gram by construction (the old per-gram
    ``size(split(g)) == k`` re-split check is gone too)."""
    return F.transform(
        _zip_gram_structs(toks, k),
        lambda s: F.concat_ws(" ", *[s[f"w{i}"] for i in range(k)]),
    )


def _zip_gram_structs(toks: F.Column, k: int) -> F.Column:
    """Word k-grams as structs (w0 … w{k-1}): ``arrays_zip`` of k shifted
    slices, cut to the n-k+1 full grams — the shared core of
    :func:`_zip_grams` and ``gazetteer_from_documents`` (which groups the
    structs and builds strings only for distinct grams).  Same caller
    guard: ``size(toks) >= k``."""
    n = F.size(toks)
    cols = [toks.alias("w0")] + [
        F.slice(toks, i + 1, n).alias(f"w{i}") for i in range(1, k)
    ]
    return F.slice(F.arrays_zip(*cols), 1, n - (k - 1))


def _gram_array(k: int) -> F.Column:
    """Array of word k-gram strings of ``text`` (full k-grams only);
    callers pre-filter with :func:`_gram_gate`."""
    return _zip_grams(tokens_col("text"), k)


def _gram_gate(docs: DataFrame, k: int) -> DataFrame:
    """Doc-level token-count gate for :func:`_gram_array` (same docs
    survive as the old per-gram filter: a doc under k tokens produced
    only short grams, all of which the per-gram check dropped)."""
    return docs.filter(F.size(tokens_col("text")) >= k)


def gram_hash_rows(docs: DataFrame, k: int) -> DataFrame:
    """(doc_id, sh) — hashed word k-grams, NOT distinct.

    The ONE gram derivation (repo rule: shared semantics live in one
    place): :func:`shingles` adds the distinct for set semantics;
    :func:`decontaminate` consumes the raw multiset (a semi-join doesn't
    need the corpus-wide distinct shuffle)."""
    return (
        _gram_gate(docs, k)
        .select("doc_id", F.explode(_gram_array(k)).alias("shingle"))
        .select("doc_id", h60(F.col("shingle")).alias("sh"))
    )


def shingles(docs: DataFrame, k: int = 3) -> DataFrame:
    """(doc_id, shingle_hash) distinct — word k-shingles, hashed.

    Distinct via ``array_distinct`` on the per-doc gram array BEFORE the
    explode: doc_id is the table's key, so per-doc string dedup equals
    the global (doc_id, sh) distinct — the corpus-wide ``.distinct()``
    exchange the exploded table previously paid is gone (guide §2.4),
    and the md5 per gram runs once per DISTINCT gram per doc."""
    return (
        _gram_gate(docs, k)
        .select("doc_id", F.explode(F.array_distinct(_gram_array(k))).alias("shingle"))
        .select("doc_id", h60(F.col("shingle")).alias("sh"))
    )


def cap_shingle_df(sh: DataFrame, max_df: int, metrics_out: dict | None = None) -> DataFrame:
    """Drop shingles with document frequency > ``max_df`` (boilerplate cap).

    A shingle shared by d documents contributes O(d²) rows to any
    shared-shingle equi-join — one boilerplate navbar shingle across 10^6
    docs of a 100 TB corpus makes the join quadratic in that bucket.
    Near-universal shingles carry no similarity signal (the stopword
    argument), so they are removed from the shingle SET (consistently:
    both intersections and set sizes see the capped set).

    No silent truncation: pass ``metrics_out`` to receive the dropped
    (sh, df) frame — the dedup twin of pairs.py's block salt_metrics.
    """
    df_counts = sh.groupBy("sh").agg(F.count("*").alias("df"))
    # the hot dim is tiny (shingles with df > max_df) but derives from a
    # corpus-sized groupBy — persist it so the capped table's several
    # consumers don't each redo that shuffle (exchange reuse does not
    # survive the per-consumer projections; measured).  Registered in
    # _PERSISTED: release via release_caches() (ADVICE r3 leak class).
    hot = _persist(df_counts.filter(F.col("df") > max_df))
    if metrics_out is not None:
        metrics_out["hot_shingles"] = hot
    return sh.join(hot.select("sh"), "sh", "left_anti")


def ngram_jaccard_pairs(
    docs: DataFrame,
    k: int = 3,
    threshold: float = 0.05,
    max_shingle_df: int | None = None,
    metrics_out: dict | None = None,
) -> DataFrame:
    """Candidate pairs via shared shingles + exact Jaccard over shingle sets.

    inter/union computed relationally (groupBy count), never materializing
    per-doc sets on the driver.  Output: (doc_a, doc_b, jaccard) rounded.

    The shingle table feeds THREE subtrees (both join sides + the
    per-doc sizes) and Spark does not reuse the exchange across them
    (the per-side projections defeat canonicalization — verified on the
    executed plan), so it is persisted: one corpus scan + one shingle
    explosion instead of three.  At 100 TB the same decision holds, with
    MEMORY_AND_DISK spilling the cold partitions; release it with
    :func:`release_caches`.
    """
    sh = _persist(shingles(docs, k))
    # cap AFTER the persist: the df-count and the anti-join then read the
    # persisted shingle table instead of re-scanning the corpus (measured
    # ~1.5x on the contract query when ordered the other way)
    if max_shingle_df is not None:
        sh = cap_shingle_df(sh, max_shingle_df, metrics_out)
    sizes = sh.groupBy("doc_id").agg(F.count("*").alias("n_sh"))
    a = sh.select(F.col("doc_id").alias("doc_a"), "sh")
    b = sh.select(F.col("doc_id").alias("doc_b"), "sh")
    inter = (
        a.join(b, "sh")
        .filter(F.col("doc_a") < F.col("doc_b"))
        .groupBy("doc_a", "doc_b")
        .agg(F.count("*").alias("inter"))
    )
    return (
        inter.join(sizes.withColumnRenamed("doc_id", "doc_a").withColumnRenamed("n_sh", "na"), "doc_a")
        .join(sizes.withColumnRenamed("doc_id", "doc_b").withColumnRenamed("n_sh", "nb"), "doc_b")
        .withColumn("jaccard", round_double(F.col("inter") / (F.col("na") + F.col("nb") - F.col("inter")), 4))
        .filter(F.col("jaccard") >= threshold)
        .select("doc_a", "doc_b", "jaccard")
    )


def _minhash_wide(
    docs: DataFrame,
    n_hashes: int,
    max_shingle_df: int | None,
    metrics_out: dict | None,
) -> DataFrame:
    """(doc_id, mh0..mh{k-1}) — ONE wide aggregation instead of an
    explode(k) + groupBy: the k per-permutation minima are k agg columns
    over the SAME shingle rows, so the corpus-sized shuffle carries the
    shingle table once, not k times (the md5 work per row is identical
    either way)."""
    sh = shingles(docs)
    if max_shingle_df is not None:
        sh = _persist(sh)
        sh = cap_shingle_df(sh, max_shingle_df, metrics_out)
    aggs = [
        F.min(h60(F.concat_ws("#", F.lit(i), F.col("sh")))).alias(f"mh{i}")
        for i in range(n_hashes)
    ]
    return sh.groupBy("doc_id").agg(*aggs)


def minhash_signatures(
    docs: DataFrame,
    n_hashes: int = 6,
    max_shingle_df: int | None = None,
    metrics_out: dict | None = None,
) -> DataFrame:
    """(doc_id, hash_id, minhash) — k independent permutations via salted md5.

    ``max_shingle_df``: boilerplate cap applied to the shingle set BEFORE
    hashing (see :func:`cap_shingle_df`) — signatures then describe the
    informative shingles only, and the downstream band join cannot
    inherit a quadratic boilerplate bucket.  With the cap on, the raw
    shingle table is persisted: it feeds the df-count, the anti-join and
    the hash explosion — persisting beats three corpus scans."""
    wide = _minhash_wide(docs, n_hashes, max_shingle_df, metrics_out)
    long = F.explode(
        F.array(
            *[
                F.struct(F.lit(i).alias("hash_id"), F.col(f"mh{i}").alias("minhash"))
                for i in range(n_hashes)
            ]
        )
    )
    return wide.select("doc_id", long.alias("e")).select(
        "doc_id", F.col("e.hash_id").alias("hash_id"), F.col("e.minhash").alias("minhash")
    )


def minhash_lsh_pairs(
    docs: DataFrame,
    n_hashes: int = 6,
    band_size: int = 2,
    max_shingle_df: int | None = None,
    metrics_out: dict | None = None,
) -> DataFrame:
    """MinHash + LSH banding: docs colliding on any band are candidates.

    band key = (band_id, concat of the band's minhashes); the band join is
    an equi-join on that key — the classic shingle→minhash→band→bucket-join
    plan that replaces an O(n²) similarity scan at scale.
    Output: distinct candidate (doc_a, doc_b).

    The banded-signature table feeds both join sides; like
    :func:`ngram_jaccard_pairs` it is persisted so the shingle→minhash
    chain (the expensive part) runs once, not twice.
    """
    # band keys straight from the wide signature columns: band b's key is
    # the '|'-joined minhashes of its hash slots in hash_id order — the
    # former unpivot -> groupBy(doc_id, band) -> collect_list ->
    # sort_array round trip rebuilt (through an exchange) exactly the
    # columns the wide aggregate already held side by side (guide §2.4:
    # remove shuffles outright).  Identical band_key strings.
    wide = _minhash_wide(docs, n_hashes, max_shingle_df, metrics_out)
    n_bands = (n_hashes + band_size - 1) // band_size
    bands_arr = F.array(
        *[
            F.struct(
                F.lit(b).cast("int").alias("band"),
                F.concat_ws(
                    "|",
                    *[
                        F.col(f"mh{i}")
                        for i in range(b * band_size, min((b + 1) * band_size, n_hashes))
                    ],
                ).alias("band_key"),
            )
            for b in range(n_bands)
        ]
    )
    banded = _persist(
        wide.select("doc_id", F.explode(bands_arr).alias("e")).select(
            "doc_id", F.col("e.band").alias("band"), F.col("e.band_key").alias("band_key")
        )
    )
    a = banded.select(F.col("doc_id").alias("doc_a"), "band", "band_key")
    b = banded.select(F.col("doc_id").alias("doc_b"), "band", "band_key")
    return (
        a.join(b, ["band", "band_key"])
        .filter(F.col("doc_a") < F.col("doc_b"))
        .select("doc_a", "doc_b")
        .distinct()
    )


def simhash(docs: DataFrame, bits: int = 32) -> DataFrame:
    """(doc_id, simhash) — bitwise-majority fingerprint over token hashes.

    Relational formulation, no UDF, fully codegen'd: the per-bit ±1 vote
    sums are ``bits`` agg columns of ONE groupBy over the distinct token
    rows — the corpus-sized shuffle carries each token hash once, not
    ``bits`` times (the earlier explode(token × bit) pushed 32× the rows
    through two shuffles for the same answer).  The integer reassembles
    from the doc-count-sized wide result.
    """
    toks = doc_tokens(docs, min_len=1).withColumn("th", h60(F.col("token")))
    aggs = [
        F.sum(
            F.when(F.expr(f"(th >> {b}) & 1") == 1, F.lit(1)).otherwise(F.lit(-1))
        ).alias(f"v{b}")
        for b in range(bits)
    ]
    # 1 << b as a Python literal overflows long at b=63 (ADVICE r4): use
    # shiftleft so bits up to 64 wrap exactly like the pre-r4 formulation
    wide = toks.groupBy("doc_id").agg(*aggs)
    val = None
    for b in range(bits):
        term = (
            F.when(F.col(f"v{b}") > 0, F.expr(f"shiftleft(cast(1 as bigint), {b})"))
            .otherwise(F.lit(0).cast("long"))
        )
        val = term if val is None else val + term
    return wide.select("doc_id", val.alias("simhash"))


def embedding_neardup_pairs(
    emb: DataFrame, threshold: float = 0.8, dim: int | None = None
) -> DataFrame:
    """Brute-force cosine near-dup pairs over (vec_id, embedding).

    Baseline path (quadratic): kept for correctness; the scale path is
    :func:`ann_topk_lsh` / LSH bucketing.  Cosine is computed JVM-side in
    float64; per-row norms are computed ONCE per side before the
    theta-join (O(N·d) instead of O(N²·d)); ``dim`` at or below
    UNROLL_MAX_DIM additionally unrolls the dot into codegen — both
    bit-identical to the naive per-pair form (same folds over the same
    row values, same multiply/divide order).
    """
    a, b = (_pair_side(emb, s, dim) for s in "ab")
    return _verified_pairs(a.join(b, F.col("id_a") < F.col("id_b")), threshold, dim)


def _pair_side(emb: DataFrame, s: str, dim: int | None, *extra: str) -> DataFrame:
    """Side ``s`` ("a" or "b") of an embedding self-join:
    (id_<s>, e<s>, n<s>, *extra), the norm computed once per vector,
    before the join."""
    return emb.select(
        F.col("vec_id").alias(f"id_{s}"),
        F.col("embedding").alias(f"e{s}"),
        _norm("embedding", dim=dim).alias(f"n{s}"),
        *extra,
    )


def _verified_pairs(pairs: DataFrame, threshold: float, dim: int | None) -> DataFrame:
    """(id_a, id_b, cos) of the joined :func:`_pair_side` pairs whose
    4-dp cosine reaches ``threshold``."""
    return (
        pairs.withColumn(
            "cos", round_double(_dot("ea", "eb", dim=dim) / (F.col("na") * F.col("nb")), 4)
        )
        .filter(F.col("cos") >= threshold)
        .select("id_a", "id_b", "cos")
    )


# Measured unroll crossover (round 5, sf0.1 embeddings, local[32]): at
# dim=16 the unrolled dot is the scoring stage's biggest win (see
# scoring.dot_f64 — the HOF fold was 22.6 s of a 50 s wall at 9.5M
# pairs), but at dim=64 the 128-node expression chain costs MORE than it
# saves: ann_topk 2.4 s (HOF) vs 5.5 s (unrolled) and neardup 29.7 s vs
# 49.2 s — the giant generated method blows the JIT/codegen budget and
# every plan pass walks the huge tree (a balanced-tree shape measured
# WORSE still: 17-42 s).  So wide vectors keep the HOF fold; ``dim``
# above the crossover is still used for hyperplane construction and
# length guards, just not for unrolling.
UNROLL_MAX_DIM = 16


def _unroll_dim(dim: int | None) -> int | None:
    return dim if dim is not None and dim <= UNROLL_MAX_DIM else None


def _dot(col_a: str, col_b: str, dim: int | None = None) -> F.Column:
    """Float64 sequential-fold dot product; with ``dim`` at or below
    UNROLL_MAX_DIM the fold is UNROLLED into a flat codegen expression
    (shared with the pair-scoring stage — scoring.dot_f64); above the
    crossover the zip_with/aggregate fold stays (measured faster, see
    UNROLL_MAX_DIM).  Bit-identical either way: left-associated adds,
    exact float32→float64 casts."""
    from nilinker_spark.operators.scoring import dot_f64

    return dot_f64(col_a, col_b, dim=_unroll_dim(dim))


def _norm(col: str, dim: int | None = None) -> F.Column:
    return F.sqrt(_dot(col, col, dim=dim))


def _cosine(col_a: str, col_b: str, dim: int | None = None) -> F.Column:
    return _dot(col_a, col_b, dim=dim) / (_norm(col_a, dim=dim) * _norm(col_b, dim=dim))


def ann_topk_bruteforce(
    emb: DataFrame, queries: DataFrame, k: int = 5, dim: int | None = None
) -> DataFrame:
    """Exact top-k cosine neighbors per query vector (the ANN baseline).

    queries(query_id, q_embedding) × emb(vec_id, embedding), broadcast the
    queries (small side), window top-k with deterministic tie-break.
    Norms are computed once per vector BEFORE the N×Q join (not once
    per pair); ``dim`` at or below UNROLL_MAX_DIM additionally unrolls
    the dot into codegen — identical bits (same folds over the same
    rows, same multiply/divide order).
    """
    emb_n = emb.withColumn("_ne", _norm("embedding", dim=dim))
    q_n = queries.withColumn("_nq", _norm("q_embedding", dim=dim))
    joined = emb_n.join(F.broadcast(q_n), F.col("vec_id") != F.col("query_id"))
    scored = joined.withColumn(
        "cos",
        round_double(
            _dot("embedding", "q_embedding", dim=dim) / (F.col("_ne") * F.col("_nq")), 4
        ),
    )
    return _rank_neighbors(scored, k)


def _rank_neighbors(scored: DataFrame, k: int) -> DataFrame:
    """(query_id, vec_id, cos, rank): the ``k`` highest-cosine vectors of
    each query, ties to the lower vec_id — the tail every ANN path
    shares, so their outputs compare row for row."""
    return top_k(scored, "query_id", [F.desc("cos"), F.asc("vec_id")], k).select(
        "query_id", "vec_id", "cos", "rank"
    )


def hyperplane_weights(n_planes: int, dim: int) -> list[list[float]]:
    """Deterministic pseudo-random hyperplane weights in [-1, 1):
    w[p][d] = h60(str(p*1000 + d)) / 2^59 - 1.

    Computed ONCE driver-side (hashlib md5 == Spark md5 == DuckDB md5 on
    the same decimal-string key) and folded into the plan as literal
    arrays: the per-row work is then a plain dot product instead of
    n_planes x dim md5 evaluations per vector.  Bit-identical to the
    in-expression construction it replaces (long→double rounds to
    nearest in both engines)."""
    return [
        [float(h60_value(str(p * 1000 + d))) / float(2**59) - 1.0 for d in range(dim)]
        for p in range(n_planes)
    ]


def lsh_signature(
    vec_col: str, planes: list[list[float]], dim: int | None = None
) -> F.Column:
    """Bit-string signature: sign of <vec, plane> per hyperplane.

    Requires uniform-dimension vectors (standard for an embedding table);
    the dot is a sequential float64 fold — the same rounding order the
    DuckDB oracle uses, so signatures agree bit-for-bit cross-engine.
    With ``dim`` (must equal each plane's length) the plane lengths are
    validated eagerly, and at or below UNROLL_MAX_DIM the fold unrolls
    into a flat codegen expression — identical adds; wide vectors keep
    the HOF fold (measured faster, see UNROLL_MAX_DIM)."""
    bits = []
    for row in planes:
        if dim is not None and len(row) != dim:
            raise ValueError(f"lsh_signature: plane length {len(row)} != dim {dim}")
        if _unroll_dim(dim) is not None:
            dot = F.lit(0.0)
            for d, wv in enumerate(row):
                dot = dot + F.col(vec_col)[d].cast("double") * F.lit(wv)
            # the HOF fold null-poisons on a length mismatch and the
            # assert below fails loudly; unrolled GetArrayItem would
            # silently read a PREFIX of longer vectors, so guard the
            # length explicitly (short vectors still throw under ANSI)
            ok = F.size(F.col(vec_col)) == dim
        else:
            w = F.array(*[F.lit(v) for v in row])
            dot = F.aggregate(
                F.zip_with(F.col(vec_col), w, lambda x, wv: x.cast("double") * wv),
                F.lit(0.0),
                lambda acc, x: acc + x,
            )
            # a vector whose length != dim null-poisons the fold; fail
            # loudly instead of silently hashing into the "0" bucket
            ok = dot.isNotNull()
        guard = F.assert_true(ok, F.lit("lsh_signature: vector length != dim"))
        bits.append(F.when(guard.isNull() & (dot > 0), F.lit("1")).otherwise(F.lit("0")))
    return F.concat(*bits)


def ann_topk_lsh(
    emb: DataFrame, queries: DataFrame, k: int = 5, n_planes: int = 8, dim: int = 64
) -> DataFrame:
    """LSH-bucketed ANN (the scale path): random-hyperplane signatures.

    Hyperplanes are deterministic functions of (plane, dim) via the shared
    md5 hash, so the bucketing is reproducible anywhere.  Candidates =
    same-signature vectors; exact cosine re-rank within bucket.  At
    1000 executors this is an equi-join on the signature, not a crossJoin.
    """
    planes = hyperplane_weights(n_planes, dim)
    emb_sig = emb.withColumn("sig", lsh_signature("embedding", planes, dim=dim))
    q_sig = queries.withColumn("sig", lsh_signature("q_embedding", planes, dim=dim))
    cands = emb_sig.join(F.broadcast(q_sig), "sig").filter(F.col("vec_id") != F.col("query_id"))
    scored = cands.withColumn("cos", round_double(_cosine("embedding", "q_embedding", dim=dim), 4))
    return _rank_neighbors(scored, k)


def _gram_strings(k: int) -> F.Column:
    """Word k-grams of the text column as strings (non-distinct).

    Short-doc handling as a length-gated CASE instead of the old
    per-gram re-split check (``size(split(g)) == k`` re-split every gram
    string it had just concatenated): a doc with >= k tokens produces
    only full k-grams by construction; under k tokens, the empty array
    (same as the old filter dropping the single short gram)."""
    toks = tokens_col("text")
    return F.when(F.size(toks) >= k, _zip_grams(toks, k)).otherwise(
        F.array().cast("array<string>")
    )


def repetition_metrics(docs: DataFrame) -> DataFrame:
    """(doc_id, top_bigram_frac, dup_trigram_frac) — the Gopher-family
    repetition gates (Rae et al. 2021, public): fraction of all word
    bigrams taken by the single most frequent one, and the fraction of
    trigram OCCURRENCES that are repeats.

    ONE corpus scan: bigrams and trigrams explode together as tagged
    (k, gram) structs, both metrics come out of one groupBy chain with
    conditional aggregation — no self-join of two separately-scanned agg
    trees.  Docs lacking either gram kind are dropped (same semantics as
    an inner join of the two metrics)."""
    tagged = F.concat(
        F.transform(_gram_strings(2), lambda g: F.struct(F.lit(2).alias("k"), g.alias("g"))),
        F.transform(_gram_strings(3), lambda g: F.struct(F.lit(3).alias("k"), g.alias("g"))),
    )
    grams = docs.select("doc_id", F.explode(tagged).alias("e")).select(
        "doc_id", F.col("e.k").alias("k"), F.col("e.g").alias("g")
    )
    gc = grams.groupBy("doc_id", "k", "g").agg(F.count("*").alias("c"))
    two = F.when(F.col("k") == 2, F.col("c"))
    three = F.when(F.col("k") == 3, F.col("c"))
    return (
        gc.groupBy("doc_id")
        .agg(
            round_double(F.max(two) / F.sum(two), 4).alias("top_bigram_frac"),
            round_double(
                F.lit(1.0) - F.count(three) / F.sum(three), 4
            ).alias("dup_trigram_frac"),
        )
        .filter(
            F.col("top_bigram_frac").isNotNull() & F.col("dup_trigram_frac").isNotNull()
        )
    )


def lm_bigram_score(docs: DataFrame) -> DataFrame:
    """(doc_id, n_bigrams, mean_bigram_freq) — CCNet-style language-model
    filtering signal (Wenzek et al. 2020, public) with a corpus-trained
    frequency model standing in for the external KenLM: the "model" is
    the corpus-wide count of each word bigram, and a document's score is
    the MEAN corpus frequency of its bigrams — natural text re-uses the
    corpus's common constructions and scores high; gibberish and
    keyword-stuffed pages score near 1 (every bigram unique).  CCNet's
    perplexity buckets become quantiles over this column; the low tail
    is the filter.  Docs with no bigram (< 2 tokens) drop, like the
    other token-gated metrics.

    Exact integers end-to-end — the mean is 4-dp FIXED POINT
    ((sum·10000) div n / 10000.0), never a rounded float average, so
    the DuckDB twin is hash-exact at every scale (CLAUDE.md rule).

    Plan: the exploded bigram table persists and feeds BOTH subtrees
    (the LM count aggregate and the re-join), so the corpus is scanned
    once; the LM join key is Zipf-skewed at 100 TB — the hot keys are
    exactly the most frequent bigrams — which is AQE skew-join's case,
    and the LM side is a vocabulary-sized aggregate, not corpus-sized.
    ≙ the reference has no corpus-level LM; this is graft surface (a
    100 TB curation pipeline's quality gate)."""
    # Pre-aggregate (doc_id, g) -> cnt BEFORE the LM join (VERDICT r5
    # "What's wrong #2"): the raw exploded multiset carried one row per
    # bigram OCCURRENCE into the Zipf-skewed join on g; grouping first
    # shrinks the corpus-sized join input to the per-doc DISTINCT-bigram
    # count and blunts the hot keys before skew-join machinery is needed.
    # Same result exactly: freq = sum(cnt) per g, n_bigrams = sum(cnt)
    # per doc, s = sum(freq * cnt).  The persisted frame (feeding both
    # the LM aggregate and the re-join) is the smaller pre-agged table.
    bg = _persist(
        docs.select("doc_id", F.explode(_gram_strings(2)).alias("g"))
        .groupBy("doc_id", "g")
        .agg(F.count("*").alias("cnt"))
    )
    lm = bg.groupBy("g").agg(F.sum("cnt").alias("freq"))
    return (
        bg.join(lm, "g")
        .groupBy("doc_id")
        .agg(
            F.sum("cnt").alias("n_bigrams"),
            F.sum(F.col("freq") * F.col("cnt")).alias("s"),
        )
        .select(
            "doc_id",
            "n_bigrams",
            (F.expr("(s * 10000) div n_bigrams") / 10000.0).alias("mean_bigram_freq"),
        )
    )


def remove_stopwords(docs: DataFrame) -> DataFrame:
    """(doc_id, clean_text, n_removed) — boilerplate/stopword strip, the
    text-cleaning transform of a training-data pipeline, as pure column
    expressions (array filter + join)."""
    toks = tokens_col("text")
    stop_arr = F.array(*[F.lit(s) for s in _STOPWORDS])
    kept = F.filter(toks, lambda t: ~F.array_contains(stop_arr, t))
    return docs.select(
        "doc_id",
        F.array_join(kept, " ").alias("clean_text"),
        (F.size(toks) - F.size(kept)).alias("n_removed"),
    )


# ---------------------------------------------------------------------------
# text analysis
# ---------------------------------------------------------------------------

_STOPWORDS = ["the", "a", "an", "of", "and", "to", "in", "is", "was", "for", "on", "that", "with", "as"]


def _stopword_hits(toks: F.Column) -> F.Column:
    """The tokens of ``toks`` that are stopwords (in order, repeats kept)."""
    stop_arr = F.array(*[F.lit(s) for s in _STOPWORDS])
    return F.filter(toks, lambda t: F.array_contains(stop_arr, t))


def _quality_cols(rounded: bool = True) -> dict[str, F.Column]:
    """The webtext quality metrics as named closed-form columns over a
    ``text`` column — the ONE definition text_quality, source_stats and
    importance_resample all project (repo rule: shared semantics live in
    one place).  The ratios are rounded to 4 dp; ``rounded=False`` gives
    them unrounded, for a caller that rounds after an evaluation barrier
    (round_double references its input several times)."""
    toks = tokens_col("text")
    n = F.size(toks)
    n_stop = F.size(_stopword_hits(toks))
    alpha_chars = F.length(F.regexp_replace(F.col("text"), "[^a-z]", ""))
    ratios = {
        "avg_token_len": (F.length("text") - n + 1) / n,
        "stopword_ratio": n_stop / n,
        "alpha_ratio": alpha_chars / F.length("text"),
        "quality": F.least(n / F.lit(100.0), F.lit(1.0)) * 0.5
        + (1 - n_stop / n) * 0.2
        + (alpha_chars / F.length("text")) * 0.3,
    }
    if rounded:
        ratios = {k: round_double(v, 4) for k, v in ratios.items()}
    return {"n_tokens": n, **ratios}


def text_quality(docs: DataFrame) -> DataFrame:
    """(doc_id, n_tokens, avg_token_len, stopword_ratio, alpha_ratio, quality).

    Length/punct/stopword heuristics — the standard webtext quality gates,
    all closed-form column expressions.
    """
    q = _quality_cols()
    return docs.select(
        "doc_id", *(q[k].alias(k) for k in ("n_tokens", "avg_token_len", "stopword_ratio", "alpha_ratio", "quality"))
    )


def source_stats(docs: DataFrame, min_mean_quality: float = 0.6) -> DataFrame:
    """(source, n_docs, total_tokens, mean_quality, keep) — per-domain
    curation stats (RefinedWeb-style domain-level filtering, at this
    table's ``source`` granularity): flag whole sources whose average
    quality misses the gate, the pass that drops a boilerplate domain
    wholesale instead of scoring its documents one by one.

    ONE corpus scan projected straight into a source-keyed aggregate —
    no join back onto the corpus (the quality columns come from the
    shared :func:`_quality_cols`, so document- and domain-level scoring
    can never drift apart).  mean_quality is a 4-dp FIXED-POINT mean by
    integer division over the per-doc ten-thousandths — a rounded float
    average is never hash-safe cross-engine (CLAUDE.md)."""
    q = _quality_cols()
    return (
        docs.select("source", q["n_tokens"].alias("n_tokens"), q["quality"].alias("quality"))
        .groupBy("source")
        .agg(
            F.count("*").alias("n_docs"),
            F.sum("n_tokens").cast("long").alias("total_tokens"),
            mean_4dp("quality", 4).alias("mean_quality"),
        )
        .withColumn("keep", F.col("mean_quality") >= min_mean_quality)
    )


def token_counts(docs: DataFrame) -> DataFrame:
    """(doc_id, ws_tokens, re_tokens, distinct_tokens) — whitespace +
    BPE-ish regex token counts."""
    toks = tokens_col("text")
    re_toks = F.expr("regexp_extract_all(text, '[a-z]+|[0-9]+', 0)")
    return docs.select(
        "doc_id",
        F.size(toks).alias("ws_tokens"),
        F.size(re_toks).alias("re_tokens"),
        F.size(F.array_distinct(toks)).alias("distinct_tokens"),
    )


def lang_id(docs: DataFrame) -> DataFrame:
    """(doc_id, pred_lang, en_ratio) — stopword-hit-ratio language heuristic."""
    toks = tokens_col("text")
    ratio = round_double(F.size(_stopword_hits(toks)) / F.size(toks), 4)
    return docs.select(
        "doc_id",
        F.when(ratio >= 0.05, F.lit("en")).otherwise(F.lit("other")).alias("pred_lang"),
        ratio.alias("en_ratio"),
    )


def fingerprint(docs: DataFrame) -> DataFrame:
    """(doc_id, fingerprint) — order-sensitive rolling document fingerprint:
    bit_xor over hashes of (token, position) (cheap near-dup probe).

    Position rides INSIDE the hash input, never as a multiplier: a
    48-bit hash times pos overflows int64 at pos >= 32768 — a real
    webtext-length document — and ANSI mode turns that into a job-killing
    error (the DuckDB twin overflowed identically, so only long docs hit
    it)."""
    toks = docs.select("doc_id", F.posexplode(tokens_col("text")).alias("pos", "token"))
    return (
        toks.withColumn("ph", h60(F.concat_ws("|", F.col("token"), F.col("pos"))))
        .groupBy("doc_id")
        .agg(F.bit_xor("ph").alias("fingerprint"))
    )


def embedding_neardup_lsh(
    emb: DataFrame, threshold: float = 0.8, n_planes: int = 8, dim: int = 64
) -> DataFrame:
    """Near-dup pairs via random-hyperplane LSH bucketing (the scale path
    for :func:`embedding_neardup_pairs`): vectors sharing a signature are
    candidates; exact cosine verifies within the bucket.  An equi-join on
    the signature instead of an O(n²) theta-join — recall is approximate
    (near-identical vectors almost always share all plane signs)."""
    sig = emb.withColumn(
        "sig", lsh_signature("embedding", hyperplane_weights(n_planes, dim), dim=dim)
    )
    a, b = (_pair_side(sig, s, dim, "sig") for s in "ab")
    pairs = a.join(b, "sig").filter(F.col("id_a") < F.col("id_b"))
    return _verified_pairs(pairs, threshold, dim)


def dedup_clusters(
    docs: DataFrame,
    n_hashes: int = 6,
    band_size: int = 2,
    max_shingle_df: int | None = None,
    metrics_out: dict | None = None,
) -> DataFrame:
    """End-to-end near-duplicate clustering: MinHash-LSH candidate pairs
    -> connected components -> (doc_id, cluster_id, is_canonical).

    The "which documents do we keep" operator a training-data pipeline
    actually runs: transitive closure over the LSH candidate graph, the
    numerically-smallest member of each component as the canonical
    survivor.  Node ids are zero-padded so the component-min rule (shared
    with clustering.connected_components AND the DuckDB recursive-CTE
    twin) orders numerically; singletons are their own canonical.

    Scale shape: the pair generation is the banded equi-join (never
    all-pairs), CC is O(log n) rounds above the driver threshold and one
    collect below it — both paths parity-tested.
    """
    pairs = minhash_lsh_pairs(
        docs, n_hashes, band_size, max_shingle_df=max_shingle_df, metrics_out=metrics_out
    )
    return _survivors(docs, "doc_id", pairs, "doc_a", "doc_b")


def _survivors(nodes: DataFrame, key: str, pairs: DataFrame, a: str, b: str) -> DataFrame:
    """(key, cluster_id, is_canonical): the connected components of the
    id pairs ``(a, b)`` over every ``key`` of ``nodes``; a component's
    numerically smallest member is its canonical survivor, a singleton
    its own.  Ids are zero-padded (:func:`_pad_id`), so the
    component-min label of clustering.connected_components orders
    numerically over the full bigint range, as the DuckDB twins do."""
    from nilinker_spark.operators.clustering import connected_components

    labels = connected_components(pairs.select(_pad_id(a).alias("src"), _pad_id(b).alias("dst")))
    return (
        nodes.select(_pad_id(key).alias("node"), F.col(key))
        .join(labels, "node", "left")
        .select(
            key,
            F.coalesce(F.col("label"), F.col("node")).cast("bigint").alias("cluster_id"),
        )
        .withColumn("is_canonical", F.col(key) == F.col("cluster_id"))
    )


def _ivf_assign(emb: DataFrame, cents: DataFrame, dim: int | None = None) -> DataFrame:
    """(vec_id, cell): each vector joins its max-cosine centroid (tie ->
    lowest cell id) via a broadcast join against the ~C-row centroid
    table — N×C work, never N².

    Routing cosines are rounded to 4 before the argmax: near-ties then
    resolve by cell id identically on any engine (the float64 summation
    ORDER differs between Spark's sequential fold and DuckDB's
    list_dot_product — rounding absorbs the ulps, like the ANN twins)."""
    scored = emb.join(F.broadcast(cents)).withColumn(
        "cos_c", round_double(_cosine("embedding", "c_embedding", dim=dim), 4)
    )
    return top_k(scored, "vec_id", [F.desc("cos_c"), F.asc("cell")], 1).select(
        "vec_id", "cell"
    )


def ivf_cells(
    emb: DataFrame,
    n_centroids: int = 16,
    lloyd_iters: int = 0,
    dim: int | None = None,
) -> tuple[DataFrame, DataFrame]:
    """IVF coarse quantizer: (centroids, assignments).

    Seed centroids are a DETERMINISTIC md5-stride sample of the vectors
    themselves (keep vec_ids whose 60-bit md5 ≡ 0 mod ceil(N/C)) — no
    RNG, no global sort (a row_number over all vectors would
    single-partition 10^9 rows), and the oracle twin reproduces the exact
    same cells (same reasoning as the literal LSH hyperplanes).  The
    sample is ~C cells, not exactly C (hash selectivity) — fine for
    routing.

    ``lloyd_iters`` (VERDICT r3 #4) runs that many deterministic Lloyd
    refinement rounds: current assignment → per-cell component means
    (posexplode → groupBy (cell, dim) avg → reassemble, all relational;
    two shuffles per round over the N·d component table) → re-assign.
    Means are rounded to 4 dp so the float aggregation order cannot leak
    into the centroids (the determinism rule); a cell that loses every
    member simply disappears.  Both quantizers are contract rows now:
    ``ann_topk_ivf`` keeps ``lloyd_iters=0`` (seed quantizer) and
    ``ann_topk_ivf_trained`` gates ``lloyd_iters=1`` against a DuckDB
    twin that re-derives the Lloyd round relationally (VERDICT r4 #6);
    the recall lift is measured in tests/test_corpus.py.  The PLAN —
    broadcast centroids → argmax cell → per-cell search — is identical
    trained or not, and the plan is what must survive 100 TB.
    """
    n = emb.count()
    stride = max(1, (n + n_centroids - 1) // n_centroids)
    cents = (
        emb.filter(F.pmod(h60(F.col("vec_id").cast("string")), F.lit(stride)) == 0)
        .select(F.col("vec_id").alias("c_vec_id"), F.col("embedding").alias("c_embedding"))
        # cell ids densified over the tiny (~C rows) centroid set only
        .withColumn("cell", F.row_number().over(Window.orderBy("c_vec_id")) - 1)
        .drop("c_vec_id")
    )
    assign = _ivf_assign(emb, cents, dim=dim)
    for _ in range(lloyd_iters):
        comp = emb.join(assign, "vec_id").select(
            "cell", F.posexplode("embedding").alias("dim", "v")
        )
        means = comp.groupBy("cell", "dim").agg(
            # 4 dp like every cross-aggregation-order float in this repo
            # (ADVICE r4: 6 dp was a weaker ulp-absorber than the repo's
            # determinism rule) — also what makes the trained quantizer
            # SQL-twin-reproducible (ann_topk_ivf_trained contract row)
            round_double(F.avg(F.col("v").cast("double")), 4).alias("m")
        )
        cents = means.groupBy("cell").agg(
            F.transform(
                F.sort_array(F.collect_list(F.struct("dim", "m"))), lambda s: s["m"]
            ).alias("c_embedding")
        )
        assign = _ivf_assign(emb, cents, dim=dim)
    return cents, assign


def ann_topk_ivf(
    emb: DataFrame,
    queries: DataFrame,
    k: int = 5,
    n_centroids: int = 16,
    n_probe: int = 4,
    lloyd_iters: int = 0,
    dim: int | None = None,
) -> DataFrame:
    """IVF-flat approximate top-k: probe the ``n_probe`` nearest cells.

    The second scale path next to LSH (brief: "an IVF or LSH-bucketed
    variant"): queries route to their n_probe max-cosine cells (broadcast
    C-row centroid table), then brute-force ONLY within those cells —
    expected work N·(n_probe/C) per query instead of N.  Same output
    shape and tie-breaks as :func:`ann_topk_bruteforce`; recall < 1 by
    construction (tested against the exact baseline).
    """
    cents, assign = ivf_cells(emb, n_centroids, lloyd_iters=lloyd_iters, dim=dim)
    q_scored = queries.join(F.broadcast(cents)).withColumn(
        "cos_c", round_double(_cosine("q_embedding", "c_embedding", dim=dim), 4)
    )
    probes = top_k(q_scored, "query_id", [F.desc("cos_c"), F.asc("cell")], n_probe).select(
        "query_id", "q_embedding", "cell"
    )
    cand = emb.join(assign, "vec_id").join(
        F.broadcast(probes), "cell"
    ).filter(F.col("vec_id") != F.col("query_id"))
    scored = cand.withColumn("cos", round_double(_cosine("embedding", "q_embedding", dim=dim), 4))
    return _rank_neighbors(scored, k)


def clean_corpus(
    docs: DataFrame,
    min_tokens: int = 5,
    min_alpha_ratio: float = 0.5,
    max_stopword_ratio: float = 0.9,
    max_shingle_df: int | None = None,
) -> DataFrame:
    """The end-of-pipeline composition: quality gates + near-dup removal
    -> the documents that actually enter a training corpus.

    (doc_id, text, lang, quality, cluster_id): rows survive iff they pass
    the Gopher-style quality thresholds AND are the canonical member of
    their near-duplicate cluster (:func:`dedup_clusters` — non-canonical
    members are the rows a 100 TB dedup pass drops).  Both inputs reuse
    the already-tested operators; the join with the cluster table is on
    doc_id (no new shuffle shape).
    """
    q = text_quality(docs)
    cl = dedup_clusters(docs, max_shingle_df=max_shingle_df)
    return (
        docs.join(q.select("doc_id", "n_tokens", "stopword_ratio", "alpha_ratio", "quality"), "doc_id")
        .join(cl, "doc_id")
        .filter(
            (F.col("n_tokens") >= min_tokens)
            & (F.col("alpha_ratio") >= min_alpha_ratio)
            & (F.col("stopword_ratio") <= max_stopword_ratio)
            & F.col("is_canonical")
        )
        .select("doc_id", "lang", "quality", "cluster_id")
    )


def embedding_neardup_clusters(
    emb: DataFrame, threshold: float = 0.8, n_planes: int = 8, dim: int = 64
) -> DataFrame:
    """Embedding-space twin of :func:`dedup_clusters`: LSH near-dup pairs
    -> connected components -> (vec_id, cluster_id, is_canonical).

    Same zero-padded numeric component-min rule, same scale shape
    (signature equi-join feeds CC, never all-pairs)."""
    pairs = embedding_neardup_lsh(emb, threshold, n_planes, dim)
    return _survivors(emb, "vec_id", pairs, "id_a", "id_b")


def decontaminate(
    docs: DataFrame, benchmark: DataFrame, k: int = 3
) -> DataFrame:
    """Benchmark decontamination: drop training documents that share any
    word ``k``-gram with an eval/benchmark set (the standard
    pre-training hygiene pass — e.g. GPT-3 appendix C / PaLM's 13-gram
    rule, public; graft extra, no reference counterpart).

    Returns the SURVIVING training docs as (doc_id, lang, n_chars).

    Scale shape: the benchmark n-gram set is eval-sized (10^5-10^7 rows
    at 100 TB corpus scale), so it BROADCASTS into a semi-join against
    the exploded corpus n-grams — the corpus never shuffles.  The
    corpus-side explode deliberately skips :func:`shingles`'s
    ``distinct()`` (a corpus-wide shuffle): duplicate (doc_id, gram)
    rows don't change a semi-join, so the only wide operation left is
    the final doc_id distinct, which is bounded by the contaminated-set
    size, not the corpus.
    """
    bench_grams = gram_hash_rows(benchmark, k).select("sh").distinct()
    contaminated = (
        gram_hash_rows(docs, k)
        .join(F.broadcast(bench_grams), "sh", "left_semi")
        .select("doc_id")
        .distinct()
    )
    return docs.join(contaminated, "doc_id", "left_anti").select(
        "doc_id", "lang", "n_chars"
    )


# importance_resample bucket thresholds / keep-rates (basis points).
# Thresholds sit at the sf0.01 quality tertiles (measured: q33=0.63,
# q66=0.78) so each bucket is populated at test scale.
RESAMPLE_BUCKETS: tuple[tuple[str, float, int], ...] = (
    ("head", 0.78, 10_000),
    ("middle", 0.63, 5_000),
    ("tail", -1.0, 1_000),
)


def importance_resample(
    docs: DataFrame,
    buckets: tuple[tuple[str, float, int], ...] = RESAMPLE_BUCKETS,
    salt: str = "resample-v1",
) -> DataFrame:
    """CCNet-style importance resampling (Wenzek et al. 2020, public;
    graft extra): bucket documents by quality score, keep each doc with a
    per-bucket rate — deterministically, via a salted content-free hash
    draw, so the sample is reproducible across runs, engines and
    partitionings (no rand(); the repo determinism rule).

    (doc_id, bucket, draw_bp) for the KEPT docs; ``draw_bp`` is the
    integer basis-point draw h60(salt#doc_id) % 10000, kept iff
    draw_bp < rate_bp for the doc's bucket.  All-integer compare — no
    float boundary risk in the cross-engine twin.

    Scale shape: quality is a pure column expression per doc
    (:func:`text_quality`), the bucket/draw logic is closed-form — the
    whole operator is ONE narrow projection + filter over the corpus,
    no shuffle at all.
    """
    # Quality behind a Generate (explode of a 1-element array): the
    # bucket/rate CASE chains and the keep-filter all reference
    # ``quality``, and without a barrier the optimizer substitutes the
    # FULL quality expression tree into every reference — the executed
    # filter carried it 3x (one per CASE branch) plus once more in the
    # projection, and the stopword HOF lambda keeps it all off codegen
    # (measured 4x the per-row cost; plan in plans/r06).  A predicate on
    # a generated column cannot be pushed through the Generate, so the
    # tree is evaluated exactly once per row.  The rounding goes above
    # the barrier: a Generate eliminates no common subexpression, and
    # round_double inside it evaluated the tree ~6 times (4x the wall
    # over 100k pages).  Same rows out, bit-exact.
    q = docs.select(
        "doc_id", F.explode(F.array(_quality_cols(rounded=False)["quality"])).alias("raw")
    ).select("doc_id", round_double("raw", 4).alias("quality"))
    bucket = None
    rate = None
    for name, lo, bp in buckets:
        cond = F.col("quality") >= F.lit(lo)
        bucket = F.when(cond, F.lit(name)) if bucket is None else bucket.when(cond, F.lit(name))
        rate = F.when(cond, F.lit(bp)) if rate is None else rate.when(cond, F.lit(bp))
    draw = h60(F.concat_ws("#", F.lit(salt), F.col("doc_id").cast("string"))) % 10_000
    return (
        q.select(
            "doc_id",
            bucket.alias("bucket"),
            rate.alias("rate_bp"),
            draw.alias("draw_bp"),
        )
        .filter(F.col("draw_bp") < F.col("rate_bp"))
        .select("doc_id", "bucket", "draw_bp")
    )


def pack_sequences(
    docs: DataFrame, budget: int = 2048, bucket_width: int = 100_000
) -> DataFrame:
    """Sequence packing for training shards: lay documents end-to-end in
    doc_id order and assign each to the fixed-token-budget shard where
    its FIRST token lands (greedy contiguous packing, the standard
    pre-tokenization sharding step; graft extra).

    (doc_id, n_tokens, shard_id, shard_offset) with
    shard_id = tokens_before // budget and shard_offset = tokens_before
    % budget — all-integer, deterministic.

    Scale shape — a distributed prefix sum, NOT a global window: the
    naive ``Window.orderBy(doc_id)`` cumulative sum collapses the whole
    corpus into ONE task.  Instead: (1) per-range-bucket partial sums
    (bucket = doc_id // bucket_width, a corpus-sized groupBy on a dense
    key), (2) a bucket-level exclusive prefix over the TINY bucket frame
    (corpus/bucket_width rows — 10^5 buckets at 10^10 docs; that window
    is single-partition but bounded by design), (3) broadcast the
    offsets back and run the within-bucket window, which shuffles the
    corpus ONCE on the same bucket key as step 1.
    """
    t = docs.select(
        "doc_id",
        F.size(tokens_col("text")).alias("n_tokens"),
        F.expr(f"doc_id div {bucket_width}").alias("bucket"),
    )
    per_bucket = t.groupBy("bucket").agg(F.sum("n_tokens").alias("bucket_tokens"))
    wb = Window.orderBy("bucket").rowsBetween(Window.unboundedPreceding, -1)
    offsets = per_bucket.select(
        "bucket",
        F.coalesce(F.sum("bucket_tokens").over(wb), F.lit(0)).alias("bucket_offset"),
    )
    ww = Window.partitionBy("bucket").orderBy("doc_id").rowsBetween(
        Window.unboundedPreceding, -1
    )
    before = F.col("bucket_offset") + F.coalesce(F.sum("n_tokens").over(ww), F.lit(0))
    return (
        t.join(F.broadcast(offsets), "bucket")
        .select(
            "doc_id",
            "n_tokens",
            before.alias("tokens_before"),
        )
        .select(
            "doc_id",
            "n_tokens",
            F.expr(f"tokens_before div {budget}").alias("shard_id"),
            (F.col("tokens_before") % budget).alias("shard_offset"),
        )
    )
