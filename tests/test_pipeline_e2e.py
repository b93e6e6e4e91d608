"""End-to-end parity: distributed pipeline vs single-process oracle.

This is the acceptance gate from BASELINE.json:
- byte-identical extracted text per url,
- pairwise F1 >= 0.99 vs the reference (oracle) clusters on labeled
  pairs sharing a blocking key (EvaNIL-style refined split,
  ≙ /root/reference/src/evanil/dataset.py:13-106).
"""

from __future__ import annotations

import itertools

import pytest

from nilinker_spark.functions.normalize import extract_text, norm_form
from nilinker_spark.operators.extract import extract_text_df
from nilinker_spark.oracle import block_keys, run_oracle
from nilinker_spark.pipeline import Pipeline


@pytest.fixture(scope="module")
def oracle_result(kb, webtext_rows):
    return run_oracle(webtext_rows, kb)


@pytest.fixture(scope="module")
def pipeline_resolved(spark, kb, webtext_df, tmp_path_factory):
    ckpt = str(tmp_path_factory.mktemp("ckpt"))
    pipe = Pipeline(spark, kb, ckpt)
    resolved = pipe.run(webtext_df)
    return resolved.toPandas()


def test_extracted_text_byte_identical(webtext_df, webtext_rows):
    got = {r["url"]: r["extracted_text"] for r in extract_text_df(webtext_df).collect()}
    for url, _ts, html, _text, _lang in webtext_rows:
        assert got[url] == extract_text(html), f"extraction mismatch for {url}"


def test_mention_sets_identical(pipeline_resolved, oracle_result):
    oracle_mentions, _ = oracle_result
    got = set(zip(pipeline_resolved["url"], pipeline_resolved["mention_id"], pipeline_resolved["pos"]))
    want = {(u, mid, p) for (u, mid, _s, p, _nf, _c) in oracle_mentions}
    assert got == want


def test_cluster_assignment_identical(pipeline_resolved, oracle_result):
    """Stronger than the F1 gate: exact same cluster id per mention."""
    _, oracle_clusters = oracle_result
    got = dict(zip(pipeline_resolved["norm"], pipeline_resolved["cluster_id"]))
    assert got == {f: c for f, c in oracle_clusters.items() if f in got}


def test_pairwise_f1_same_block_pairs(pipeline_resolved, oracle_result, kb):
    """Pairwise F1 >= 0.99 vs oracle clusters on labeled same-block pairs,
    with the EvaNIL-style refined test split: test pairs whose surface
    forms were 'seen' in the train portion are excluded
    (≙ refine_test_set, dataset.py:13-46)."""
    _, oracle_clusters = oracle_result
    pipe_clusters = dict(zip(pipeline_resolved["norm"], pipeline_resolved["cluster_id"]))
    forms = sorted(pipe_clusters)

    # deterministic 70/30 split on the form key; refined test = test forms only
    train = {f for f in forms if hash_bucket(f) < 70}
    test_forms = [f for f in forms if f not in train]

    # labeled pairs = same-block pairs among refined test forms,
    # label = oracle cluster equality (the "reference clusters")
    blocks_of = {f: set(block_keys(f)) for f in test_forms}
    tp = fp = fn = 0
    for a, b in itertools.combinations(test_forms, 2):
        if not (blocks_of[a] & blocks_of[b]):
            continue
        want = oracle_clusters[a] == oracle_clusters[b]
        got = pipe_clusters[a] == pipe_clusters[b]
        tp += got and want
        fp += got and not want
        fn += (not got) and want
    precision = tp / (tp + fp) if tp + fp else 1.0
    recall = tp / (tp + fn) if tp + fn else 1.0
    f1 = 2 * precision * recall / (precision + recall) if precision + recall else 1.0
    assert f1 >= 0.99, f"pairwise F1 {f1:.4f} < 0.99 (tp={tp} fp={fp} fn={fn})"


def hash_bucket(s: str) -> int:
    """Deterministic 0-99 bucket (no PYTHONHASHSEED dependence)."""
    import hashlib

    return int(hashlib.md5(s.encode()).hexdigest(), 16) % 100


def test_lineage_rows_written(spark, kb, webtext_df, tmp_path_factory):
    ckpt = str(tmp_path_factory.mktemp("ckpt_lineage"))
    pipe = Pipeline(spark, kb, ckpt)
    pipe.run(webtext_df).count()
    lin = pipe.lineage().toPandas()
    assert set(lin["stage"]) >= {"mentions", "phrase_vecs", "pairs", "edges", "clusters", "resolved"}
    assert (lin["rows"] >= 0).all()


def test_pairwise_f1_vs_gold_labels(pipeline_resolved, kb):
    """Stronger than oracle parity: the pipeline's clusters judged against
    the fixture's GOLD labels on same-block pairs with the EvaNIL-style
    refined split — typo/plural variants must co-cluster with their
    canonical forms (≙ the link-to-ancestor evaluation of
    /root/reference/evaluation_evanil.py:95-135)."""
    import itertools

    from nilinker_spark.oracle import block_keys

    gold = {norm_form(s): g for s, g, _ in kb.surface_forms}
    pipe = dict(zip(pipeline_resolved["norm"], pipeline_resolved["cluster_id"]))
    forms = sorted(pipe)
    train = {f for f in forms if hash_bucket(f) < 70}
    test_forms = [f for f in forms if f not in train]
    blocks_of = {f: set(block_keys(f)) for f in test_forms}
    tp = fp = fn = 0
    for a, b in itertools.combinations(test_forms, 2):
        if not (blocks_of[a] & blocks_of[b]):
            continue
        want = gold.get(a) == gold.get(b) and gold.get(a) is not None
        got = pipe[a] == pipe[b]
        tp += got and want
        fp += got and not want
        fn += (not got) and want
    precision = tp / (tp + fp) if tp + fp else 1.0
    recall = tp / (tp + fn) if tp + fn else 1.0
    f1 = 2 * precision * recall / (precision + recall) if precision + recall else 1.0
    assert f1 >= 0.99, f"gold pairwise F1 {f1:.4f} (tp={tp} fp={fp} fn={fn})"


def test_functional_path_exposes_metrics(spark, kb, webtext_df):
    """resolve() (the bench/entry fast path) must surface the same
    no-silent-truncation metrics the checkpointed Pipeline writes."""
    from nilinker_spark.pipeline import resolve

    metrics = {}
    resolved = resolve(spark, webtext_df, kb, metrics_out=metrics)
    n = resolved.count()
    assert set(metrics) == {"mention_metrics", "block_salt_metrics"}
    mm = metrics["mention_metrics"]
    # one row per distinct form; counts sum to the mention count
    from pyspark.sql import functions as F

    total = mm.agg(F.sum("count")).collect()[0][0]
    assert total == n
    assert metrics["block_salt_metrics"].columns == ["block_key", "members", "n_salts"]


def test_resolve_cache_handle_owns_persisted_frames(spark, kb, webtext_df):
    """resolve(cache_out=...) hands the persisted mentions frame to the
    caller; unpersisting it leaves no cached copy behind (VERDICT r2 #5 —
    no clearCache() discipline required of API users)."""
    from nilinker_spark.pipeline import resolve

    cache_mgr = spark._jsparkSession.sharedState().cacheManager()
    spark.catalog.clearCache()
    assert cache_mgr.isEmpty()
    handle: list = []
    out = resolve(spark, webtext_df, kb, cache_out=handle)
    assert out.count() > 0
    assert len(handle) == 1
    for df in handle:
        df.unpersist(blocking=True)
    # the catalog cache (the leak class: persist() entries survive until
    # explicitly unpersisted) is empty again; localCheckpoint RDDs are
    # ContextCleaner-owned and vanish with their references
    assert cache_mgr.isEmpty()


def test_resolve_driver_vs_distributed_middle(spark, kb, webtext_df, monkeypatch):
    """Forced-path parity for the adaptive small-vocabulary middle
    (pipeline.DRIVER_VOCAB_MAX): driver-side cluster_forms and the full
    distributed S2-S6 must produce identical output AND identical salt
    metrics on the same corpus."""
    from nilinker_spark import pipeline as P

    key = ["url", "mention_id", "pos"]
    m_fast: dict = {}
    monkeypatch.setattr(P, "DRIVER_VOCAB_MAX", 10**9)
    fast = P.resolve(spark, webtext_df, kb, metrics_out=m_fast).toPandas()
    fast_salt = m_fast["block_salt_metrics"].toPandas()
    spark.catalog.clearCache()

    m_dist: dict = {}
    monkeypatch.setattr(P, "DRIVER_VOCAB_MAX", 0)
    dist = P.resolve(spark, webtext_df, kb, metrics_out=m_dist).toPandas()
    dist_salt = m_dist["block_salt_metrics"].toPandas()
    spark.catalog.clearCache()

    a = fast.sort_values(key).reset_index(drop=True)
    b = dist.sort_values(key).reset_index(drop=True)
    assert a.equals(b), "driver-side middle disagrees with distributed middle"
    sa = fast_salt.sort_values("block_key").reset_index(drop=True)
    sb = dist_salt.sort_values("block_key").reset_index(drop=True)
    assert list(sa.columns) == list(sb.columns)
    assert sa.equals(sb), "salt metrics disagree between paths"


def test_resolve_paths_agree_under_salted_hot_blocks(spark, kb, webtext_df, monkeypatch):
    """Same forced-path parity, but with max_block lowered so blocks
    EXCEED it — the driver path must reproduce the distributed salted
    sub-block + anchor pair generation (and report the same non-empty
    salt metrics), not just the easy all-pairs regime."""
    from nilinker_spark import pipeline as P

    key = ["url", "mention_id", "pos"]
    results = {}
    for name, vocab_max in (("fast", 10**9), ("dist", 0)):
        monkeypatch.setattr(P, "DRIVER_VOCAB_MAX", vocab_max)
        m: dict = {}
        out = P.resolve(spark, webtext_df, kb, max_block=2, metrics_out=m).toPandas()
        salt = m["block_salt_metrics"].toPandas()
        spark.catalog.clearCache()
        results[name] = (
            out.sort_values(key).reset_index(drop=True),
            salt.sort_values("block_key").reset_index(drop=True),
        )
    assert len(results["fast"][1]) > 0, "fixture must actually trigger salting"
    assert results["fast"][0].equals(results["dist"][0])
    assert results["fast"][1].equals(results["dist"][1])


def test_distributed_scoring_evaluates_once(spark, kb, webtext_df, monkeypatch, tmp_path):
    """VERDICT r3 #2: on the forced distributed path, connected_components'
    driver-size probe must NOT recompute the pairs->scoring subtree.
    resolve() lazily localCheckpoints the edge table, so the probe's job
    is the one materialization and the star loop reads the cache.  A tap
    stage appended to fused_similarity_edges' output counts every edge row
    that is actually evaluated: the total must equal the edge count of
    the unpatched operator EXACTLY once."""
    import os as _os

    from nilinker_spark import pipeline as P
    from nilinker_spark.functions.normalize import norm_form
    from nilinker_spark.operators import clustering as CL
    from nilinker_spark.operators.blocking import block_keys_df, phrase_vectors_df
    from nilinker_spark.operators.extract import extract_mentions_df
    from nilinker_spark.operators.pairs import candidate_pairs
    from nilinker_spark.oracle import MAX_BLOCK_FORMS

    cnt_dir = tmp_path / "score_taps"
    cnt_dir.mkdir()
    d = str(cnt_dir)

    from nilinker_spark.operators import scoring as SC

    real_fused = SC.fused_similarity_edges

    def counting_fused(pairs, pvs, alpha, tau, n_forms=None, dim=None):
        edges = real_fused(pairs, pvs, alpha, tau, n_forms=n_forms, dim=dim)

        def tap(batches):
            import os
            import uuid

            for pdf in batches:
                if len(pdf):
                    with open(os.path.join(d, uuid.uuid4().hex), "w") as fh:
                        fh.write(str(len(pdf)))
                yield pdf

        return edges.mapInPandas(tap, edges.schema)

    # resolve() imports fused_similarity_edges from the scoring module at
    # call time, so patching the module attribute taps the edge table the
    # CC probe and the star loop both consume
    monkeypatch.setattr(SC, "fused_similarity_edges", counting_fused)
    monkeypatch.setattr(P, "DRIVER_VOCAB_MAX", 0)  # force the distributed middle
    # probe threshold 1: the limit(2).collect() probe RUNS and overflows,
    # so the alternating-star loop runs too — the regression scenario
    monkeypatch.setattr(CL, "CC_DRIVER_MAX_EDGES", 1)

    handle: list = []
    out = P.resolve(spark, webtext_df, kb, cache_out=handle)
    assert out.count() > 0
    for df in handle:
        df.unpersist(blocking=True)

    total = sum(int(open(cnt_dir / f).read()) for f in _os.listdir(d))

    # independently recompute the pair count with the real operators
    gaz = {norm_form(s) for s, _, _ in kb.surface_forms}
    mentions = extract_mentions_df(spark, webtext_df, gaz)
    forms = mentions.select("norm").distinct()
    pvs = phrase_vectors_df(spark, forms, kb)
    pairs, _ = candidate_pairs(block_keys_df(pvs.select("norm")), MAX_BLOCK_FORMS)
    # non-vacuous: the loop really had > threshold edges to chew on
    expected = real_fused(pairs, pvs, P.ALPHA, P.TAU).count()
    spark.catalog.clearCache()
    assert pairs.count() > 0 and expected > 1
    assert total == expected, (
        f"edge subtree evaluated {total} rows for {expected} edges "
        f"({total / expected:.2f}x) — the CC probe recomputed it"
    )


def test_prefuzz_map_matches_scalar_fuzzy(spark, kb):
    """prefuzz_map must return exactly the distinct OOV tokens of the
    form set, each mapped to the SAME word id the scalar fuzzy fallback
    produces — the cluster-wide de-duplication must not change a single
    resolution (it feeds every pipeline path since r4)."""
    from nilinker_spark.functions.normalize import tokenize_entity
    from nilinker_spark.functions.similarity import fuzzy_best_match
    from nilinker_spark.operators.blocking import prefuzz_map

    vocab = sorted(kb.word2id)
    known = vocab[0]
    forms = spark.createDataFrame(
        [
            (f"{known} zzqx{i}",) for i in range(30)  # right token OOV
        ]
        + [(f"abcd{i} {known}",) for i in range(30)]  # left token OOV
        + [(known,)],  # fully in-vocab single token
        "norm string",
    )
    fmap = prefuzz_map(spark, forms, kb)
    expected_tokens = set()
    for r in forms.collect():
        tl, tr = tokenize_entity(r["norm"])
        for t in (tl, tr):
            if t not in kb.word2id:
                expected_tokens.add(t)
    assert set(fmap) == expected_tokens
    assert known not in fmap  # in-vocab tokens never enter the map
    for tok, wid in fmap.items():
        assert wid == kb.word2id[fuzzy_best_match(tok, vocab)]


def test_fused_edges_equal_unfused(spark, kb, webtext_df):
    """The fused S4+S5 prefilter path (resolve()'s) must emit EXACTLY the
    edges of the oracle's unfused score-then-threshold reference
    (oracle.similarity_edge_list over the same forms), and the prefilter
    must actually prune (non-vacuous)."""
    from nilinker_spark.operators.blocking import (
        block_keys_df,
        phrase_vectors_df,
        prefuzz_map,
    )
    from nilinker_spark.operators.extract import extract_mentions_df
    from nilinker_spark.operators.pairs import candidate_pairs
    from nilinker_spark.operators.scoring import (
        PRUNE_MARGIN,
        dot_f64,
        fused_similarity_edges,
    )
    from nilinker_spark.oracle import ALPHA, TAU, similarity_edge_list

    gaz = {norm_form(s) for s, _, _ in kb.surface_forms}
    mentions = extract_mentions_df(spark, webtext_df, gaz)
    forms = mentions.select("norm").distinct()
    pvs = phrase_vectors_df(
        spark, forms, kb, fuzzy_map=prefuzz_map(spark, forms, kb)
    ).localCheckpoint(eager=True)
    pairs, _m = candidate_pairs(block_keys_df(pvs.select("norm")))

    full = set(similarity_edge_list([r["norm"] for r in forms.collect()], kb))
    fused = {
        (r["src"], r["dst"])
        for r in fused_similarity_edges(pairs, pvs, ALPHA, TAU).collect()
    }
    assert fused == full and full, "fused edge set diverged (or corpus has no edges)"

    # the prefilter really drops pairs (non-vacuous pruning)
    import pyspark.sql.functions as F

    pv_a = pvs.select(F.col("norm").alias("norm_a"), F.col("pv").alias("pv_a"))
    pv_b = pvs.select(F.col("norm").alias("norm_b"), F.col("pv").alias("pv_b"))
    bound = TAU - (1.0 - ALPHA + PRUNE_MARGIN)
    joined = pairs.join(pv_a, "norm_a").join(pv_b, "norm_b")
    n_pruned = joined.filter(
        F.lit(ALPHA) * dot_f64("pv_a", "pv_b", dim=len(kb.weights.b_a[0])) < F.lit(bound)
    ).count()
    assert n_pruned > 0, "nothing below the prune bound — test corpus too easy"


def test_fused_edges_boundary_pairs(spark):
    """Synthetic pairs engineered AT the prune bound: alpha*dot sits
    within ~1e-9 of tau-(1-alpha) on both sides.  The conservative
    PRUNE_MARGIN must keep every pair whose full score could still reach
    tau, so fused == the oracle's unfused scoring even on the knife
    edge."""
    import numpy as np
    from pyspark.sql import types as T

    from nilinker_spark.operators.scoring import fused_similarity_edges
    from nilinker_spark.oracle import ALPHA, TAU, score_edges

    dim = 16
    bound_dot = (TAU - (1.0 - ALPHA)) / ALPHA
    rows_pv, rows_pairs = [], []
    # long near-identical strings push strf toward 1.0 (the prefilter's
    # worst case); eps spans rejected / knife-edge / kept regimes
    for i, eps in enumerate([-1e-6, -1e-9, 0.0, 1e-9, 1e-6, 1e-3, 0.05, 0.15]):
        d = min(max(bound_dot + eps, -1.0), 1.0)
        v1 = np.zeros(dim, dtype=np.float32)
        v1[0] = 1.0
        v2 = np.zeros(dim, dtype=np.float32)
        v2[0] = np.float32(d)
        v2[1] = np.float32(np.sqrt(max(0.0, 1.0 - float(v2[0]) ** 2)))
        stem = "a" * 19
        a, b = f"{stem}e{i:02d}", f"{stem}f{i:02d}"  # strf ~0.97, a < b
        rows_pv.append((a, [float(x) for x in v1]))
        rows_pv.append((b, [float(x) for x in v2]))
        rows_pairs.append((a, b))
    schema = T.StructType(
        [
            T.StructField("norm", T.StringType()),
            T.StructField("pv", T.ArrayType(T.FloatType())),
        ]
    )
    pvs = spark.createDataFrame(rows_pv, schema)
    pairs = spark.createDataFrame(rows_pairs, "norm_a string, norm_b string")
    pv_of = {f: np.asarray(v, dtype=np.float32) for f, v in rows_pv}
    full = set(score_edges(rows_pairs, pv_of, ALPHA, TAU))
    fused = {
        (r["src"], r["dst"])
        for r in fused_similarity_edges(pairs, pvs, ALPHA, TAU, dim=dim).collect()
    }
    assert fused == full
    assert full, "no kept edge in the boundary set — widen the eps range"
    assert len(full) < len(rows_pairs), "no rejected pair — boundary not exercised"


STAGES_CHECKED = ["resolved", "clusters", "block_salt_metrics", "phrase_vecs", "pairs", "edges"]


def _pipeline_tables(spark, kb, base, delta, ckpt, max_block=None):
    """run(base) then run_incremental(delta); every stage table read back."""
    kw = {} if max_block is None else {"max_block": max_block}
    pipe = Pipeline(spark, kb, ckpt, **kw)
    pipe.run(base).count()
    pipe.run_incremental(delta).count()
    return {st: pipe.read_stage(st) for st in STAGES_CHECKED}


def _sorted_by(pdf, cols):
    return pdf.sort_values(cols).reset_index(drop=True)


@pytest.mark.parametrize("max_block", [None, 2])
def test_pipeline_driver_vs_distributed_middle(
    spark, kb, webtext_rows, webtext_frame, monkeypatch, tmp_path, max_block
):
    """Forced-path parity for the checkpointed Pipeline: run() then
    run_incremental() with the middle forced onto the driver and forced
    distributed give the same stage tables.  ``max_block=2`` makes
    salting fire."""
    from nilinker_spark import pipeline as P

    half = len(webtext_rows) // 2
    base, delta = webtext_frame(webtext_rows[:half]), webtext_frame(webtext_rows[half:])
    got = {}
    for name, vocab_max in (("driver", 10**9), ("dist", 0)):
        monkeypatch.setattr(P, "DRIVER_VOCAB_MAX", vocab_max)
        got[name] = _pipeline_tables(spark, kb, base, delta, str(tmp_path / name), max_block)
    for st in STAGES_CHECKED:
        assert got["driver"][st].schema == got["dist"][st].schema, st
    drv, dist = ({st: df.toPandas() for st, df in got[k].items()} for k in ("driver", "dist"))

    assert _sorted_by(drv["resolved"], ["url", "mention_id", "pos"]).equals(
        _sorted_by(dist["resolved"], ["url", "mention_id", "pos"])
    )
    assert _sorted_by(drv["clusters"], ["norm"]).equals(_sorted_by(dist["clusters"], ["norm"]))
    salt_d = _sorted_by(drv["block_salt_metrics"], ["block_key"])
    assert salt_d.equals(_sorted_by(dist["block_salt_metrics"], ["block_key"]))
    assert (len(salt_d) > 0) == (max_block == 2), "salting must fire exactly when max_block=2"

    pv_d, pv_s = _sorted_by(drv["phrase_vecs"], ["norm"]), _sorted_by(dist["phrase_vecs"], ["norm"])
    assert list(pv_d["norm"]) == list(pv_s["norm"])
    for a, b in zip(pv_d["pv"], pv_s["pv"]):
        assert a.dtype == b.dtype and a.tobytes() == b.tobytes(), "phrase vectors differ in bits"

    for stage, cols in (("pairs", ["norm_a", "norm_b"]), ("edges", ["src", "dst"])):
        assert set(map(tuple, drv[stage][cols].values)) == set(map(tuple, dist[stage][cols].values))
    assert len(drv["edges"]) > 0


def test_pipeline_middle_crosses_threshold(
    spark, kb, webtext_rows, webtext_frame, monkeypatch, tmp_path
):
    """The base batch runs its middle on the driver; the delta's new forms
    push the form count over DRIVER_VOCAB_MAX, so the delta runs the
    distributed middle over a phrase_vecs table the driver wrote.  The
    result equals resolve() over base plus delta."""
    from nilinker_spark import pipeline as P
    from nilinker_spark.operators import scoring

    half = len(webtext_rows) // 2
    base, delta = webtext_frame(webtext_rows[:half]), webtext_frame(webtext_rows[half:])
    calls = []
    real = scoring.fused_similarity_edges
    monkeypatch.setattr(
        scoring, "fused_similarity_edges", lambda *a, **k: calls.append(1) or real(*a, **k)
    )
    pipe = Pipeline(spark, kb, str(tmp_path / "ck"))
    monkeypatch.setattr(P, "DRIVER_VOCAB_MAX", 10**9)
    pipe.run(base).count()
    n_base = pipe.read_stage("phrase_vecs").count()
    assert not calls, "the base batch must run the driver middle"

    monkeypatch.setattr(P, "DRIVER_VOCAB_MAX", n_base)
    got = pipe.run_incremental(delta).toPandas()
    pipe_forms = pipe.read_stage("phrase_vecs").count()
    assert pipe_forms > n_base and calls, "the delta must cross onto the distributed middle"

    want = P.resolve(spark, base.unionByName(delta), kb).toPandas()
    spark.catalog.clearCache()
    key = ["url", "mention_id", "pos"]
    assert _sorted_by(got, key).equals(_sorted_by(want, key))


def test_pipeline_driver_middle_runs_no_python_udf(
    spark, kb, webtext_rows, webtext_frame, monkeypatch, tmp_path
):
    """Below DRIVER_VOCAB_MAX neither run() nor run_incremental() (nor
    resolve()) may reach the distributed middle's Python stages, nor
    parallelize driver rows (what a createDataFrame(list), or an Arrow
    conversion falling back to it, does)."""
    import pyspark

    from nilinker_spark.operators import blocking, clustering, scoring
    from nilinker_spark.pipeline import resolve

    half = len(webtext_rows) // 2
    base = webtext_frame(webtext_rows[:half]).localCheckpoint(eager=True)
    delta = webtext_frame(webtext_rows[half:]).localCheckpoint(eager=True)

    def forbidden(*_a, **_k):
        raise AssertionError("the driver middle reached a distributed Python stage")

    for mod, name in (
        (blocking, "prefuzz_map"),
        (blocking, "phrase_vectors_df"),
        (scoring, "fused_similarity_edges"),
        (clustering, "connected_components"),
        (pyspark.SparkContext, "parallelize"),
    ):
        monkeypatch.setattr(mod, name, forbidden)
    pipe = Pipeline(spark, kb, str(tmp_path / "ck"))
    n_base = pipe.run(base).count()
    assert pipe.run_incremental(delta).count() > n_base
    metrics: dict = {}
    assert resolve(spark, base, kb, metrics_out=metrics).count() == n_base
    metrics["block_salt_metrics"].count()
    spark.catalog.clearCache()


def test_small_batches_start_no_python_worker(
    spark, kb, webtext_rows, webtext_frame, monkeypatch, tmp_path
):
    """A Pipeline batch of at most _DOCS_PER_EXTRACT_TASK documents runs
    S1 on the driver: run() on such a base and run_incremental() on a
    small delta build no mapInPandas scan and parallelize no driver rows,
    so with the middle on the driver too no Python-worker task starts."""
    import pyspark

    from nilinker_spark import pipeline as P

    base = webtext_frame(webtext_rows[:200]).localCheckpoint(eager=True)
    delta = webtext_frame(webtext_rows[200:216]).localCheckpoint(eager=True)
    assert base.count() <= P._DOCS_PER_EXTRACT_TASK

    def forbidden(*_a, **_k):
        raise AssertionError("a small batch reached a Python-worker stage")

    # the session's DataFrame class, which defines mapInPandas
    monkeypatch.setattr(type(base), "mapInPandas", forbidden)
    monkeypatch.setattr(pyspark.SparkContext, "parallelize", forbidden)
    pipe = Pipeline(spark, kb, str(tmp_path / "ck"))
    n_base = pipe.run(base).count()
    assert pipe.run_incremental(delta).count() > n_base
