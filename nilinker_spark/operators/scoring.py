"""S4 — pairwise scoring: embedding cosine + string features.

The expensive model math (attention phrase vectors) already ran once per
distinct form in S2; pair scoring is mostly a *native* Catalyst
expression — zip_with/aggregate dot product on the two L2-normalized
vector columns plus built-in levenshtein.  The one Python crossing is
the Jaro-Winkler feature (no Spark built-in), an Arrow-batched pandas
UDF over the vocabulary-bounded pair table — never corpus-sized work.

≙ the reference's per-pair scoring inside REEL candidate files + the
NILINKER softmax ranking (/root/reference/src/NILINKER/nilinker.py:150-153),
collapsed to the pair-similarity the north rule requires (embedding
dot-product + Jaro-Winkler/Levenshtein string features).
"""

from __future__ import annotations

from pyspark.sql import DataFrame
from pyspark.sql import functions as F
from pyspark.sql import types as T

from nilinker_spark.oracle import ALPHA, TAU

# Forced-broadcast ceiling for the phrase-vector / cluster tables, in
# distinct forms.  250k forms x (200-dim float + form string) ~ 250 MB —
# a comfortable per-executor broadcast.  Above this the hint would be a
# driver/executor OOM at scale (10^7 forms x 200 dims = ~8 GB), so the
# join falls through to AQE's choice (SMJ, or its own broadcast if the
# runtime stats allow).
BROADCAST_MAX_FORMS = 250_000


def _maybe_broadcast(df: DataFrame, n_forms: int | None) -> DataFrame:
    """Broadcast hint only when the form table is provably small; with
    unknown size (None) keep the hint — callers that cannot count pass
    the measured value from the pipeline's existing n_forms count."""
    if n_forms is None or n_forms <= BROADCAST_MAX_FORMS:
        return F.broadcast(df)
    return df


def dot_f64(col_a: str, col_b: str, dim: int | None = None):
    """Dot product of two array<float> columns, accumulated in float64 as
    a SEQUENTIAL left-to-right fold (matches the oracle's explicit Python
    fold exactly — float32 values cast to double are exact, each add
    rounds once).

    With ``dim`` (the engine's phrase vectors are fixed EMB_DIM-wide) the
    fold is UNROLLED into a flat codegen expression —
    ``a[0]*b[0] + a[1]*b[1] + …`` left-associated, bit-identical to the
    fold since adding the 0.0 seed is exact.  The ``zip_with``/
    ``aggregate`` higher-order form it replaces is interpreted per
    element with boxing: measured 22.6 s of a 50 s scoring wall at 9.5M
    pairs × 16 dims (round-5 profile) vs sub-second unrolled.  Without
    ``dim`` (unknown width) the HOF fold remains."""
    if dim is not None:
        acc = F.col(col_a)[0].cast("double") * F.col(col_b)[0].cast("double")
        for d in range(1, dim):
            acc = acc + F.col(col_a)[d].cast("double") * F.col(col_b)[d].cast("double")
        return acc
    prods = F.zip_with(
        F.col(col_a), F.col(col_b), lambda x, y: x.cast("double") * y.cast("double")
    )
    return F.aggregate(prods, F.lit(0.0), lambda acc, x: acc + x)


def lev_ratio_col(col_a: str, col_b: str):
    """1 - levenshtein/max(len) — built-in, codegen'd."""
    m = F.greatest(F.length(col_a), F.length(col_b))
    return F.when(m == 0, F.lit(1.0)).otherwise(
        F.lit(1.0) - F.levenshtein(F.col(col_a), F.col(col_b)) / m
    )


@F.pandas_udf(T.DoubleType())
def jaro_winkler_udf(a, b):
    """Jaro-Winkler over two string columns (Arrow-batched).

    Spark has no built-in JW, so this is the one Python crossing in the
    scoring stage — acceptable because pairs are vocabulary-bounded
    (distinct-form pairs, never corpus-sized).  The batch is evaluated by
    the numpy-vectorized similarity.jaro_winkler_batch, bit-for-bit equal
    (property-tested) to the pure-Python similarity.jaro_winkler the
    oracle uses — no per-row Python loop left in the scoring path."""
    import pandas as pd

    from nilinker_spark.functions.similarity import jaro_winkler_batch

    return pd.Series(jaro_winkler_batch(a.tolist(), b.tolist()), dtype="float64")


# Conservative float margin for the embedding-score prefilter below: the
# string-feature term is bounded by (1-alpha)*1.0 exactly (lev and jw are
# each <= 1.0 and 0.5*x is exact), so the only slack needed is for the
# final add's rounding (~1 ulp, 1e-16 here) — 1e-7 is 10^9 ulps of head
# room and still prunes everything meaningfully below the bound.
PRUNE_MARGIN = 1e-7

# The fused path's JW handle, flagged non-deterministic.  The function IS
# deterministic — the flag exists purely to stop Catalyst pushing the
# final score>=tau filter through the UDF projection into the pv_b join
# condition.  Without it the optimizer rewrites the plan into a plain
# score-then-filter shape (ArrowEvalPython below the join, full score as
# the join condition) — JW runs on every pair and the prefilter buys
# nothing; worse, the duplicated dot pushes the join condition past the
# codegen budget and the whole condition evaluates INTERPRETED (measured
# 25 s vs 7 s for score-then-filter at 4.76M pairs).  Flagged, the plan
# is: pv joins with the dot-bound as the ONLY join condition ->
# ArrowEvalPython over survivors -> score filter.  Same rows either way;
# only plan placement changes.
_jw_prune_barrier = jaro_winkler_udf.asNondeterministic()


def fused_similarity_edges(
    pairs: DataFrame,
    pvs: DataFrame,
    alpha: float = ALPHA,
    tau: float = TAU,
    n_forms: int | None = None,
    dim: int | None = None,
) -> DataFrame:
    """S4+S5 fused: pairs(norm_a, norm_b) x (norm, pv) -> edges(src, dst)
    whose blended score reaches tau.

    The reference is the oracle: the edges equal
    ``oracle.score_edges(pairs, pvs, alpha, tau)`` over the same vectors
    (parity-tested, and gated end-to-end by the er_resolve oracle).  The
    float-op order of the score mirrors ``oracle.blended_score`` term for
    term, so a pair landing exactly on tau is kept on both sides.

    An EXACT embedding-score prefilter runs first: pairs whose maximum
    achievable blended score cannot reach tau —
    ``alpha*dot + (1-alpha) + PRUNE_MARGIN < tau``, string features at
    their upper bound — are rejected BEFORE the string features run.

    Why it matters at scale: the candidate multiset is vocabulary-
    quadratic-within-blocks (9.5M pairs at a 193k-form vocabulary) while
    true edges are ~7%; the embedding dot is a flat codegen expression,
    but levenshtein is O(len^2) JVM work and Jaro-Winkler crosses to
    Python over Arrow carrying both strings — per-pair the string
    features cost ~10x the dot.  Pruning on the dot first means only the
    plausible fraction pays strings or crosses Arrow.

    The phrase-vector table is distinct-form-sized; while it provably
    fits (n_forms <= BROADCAST_MAX_FORMS) both joins broadcast and the
    pair table never shuffles.  ``dim``: phrase-vector width, used to
    UNROLL the dot product (see dot_f64); defaults to EMB_DIM, which is
    what phrase_vectors_df emits.

    This is the S4+S5 stage of both resolve() and the checkpointed
    Pipeline.
    """
    if dim is None:
        from nilinker_spark.fixtures.kb import EMB_DIM

        dim = EMB_DIM
    pv_a = pvs.select(F.col("norm").alias("norm_a"), F.col("pv").alias("pv_a"))
    pv_b = pvs.select(F.col("norm").alias("norm_b"), F.col("pv").alias("pv_b"))
    emb_part = F.lit(alpha) * dot_f64("pv_a", "pv_b", dim=dim)
    keep_bound = F.lit(tau) - F.lit(1.0 - alpha + PRUNE_MARGIN)
    score = F.col("emb_part") + F.lit(1.0 - alpha) * (
        F.lit(0.5) * lev_ratio_col("norm_a", "norm_b")
        + F.lit(0.5) * _jw_prune_barrier("norm_a", "norm_b")
    )
    return (
        pairs.join(_maybe_broadcast(pv_a, n_forms), "norm_a")
        .join(_maybe_broadcast(pv_b, n_forms), "norm_b")
        .withColumn("emb_part", emb_part)
        .filter(F.col("emb_part") >= keep_bound)
        .withColumn("score", score)
        .filter(F.col("score") >= tau)
        .select(F.col("norm_a").alias("src"), F.col("norm_b").alias("dst"))
    )
