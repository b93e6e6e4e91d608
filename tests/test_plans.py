"""Plan-shape invariants: pushdown, pruning, broadcast, codegen.

These encode the 100 TB efficiency contract: the html binary column is
never scanned unless selected, language filters reach the parquet
scan, small dimensions broadcast, and the scoring blend stays inside
whole-stage codegen.
"""

from __future__ import annotations

import pytest
from pyspark.sql import functions as F

from nilinker_spark.plans import (
    has_broadcast_join,
    has_python_stage,
    has_whole_stage_codegen,
    pushed_filters,
    read_schema_columns,
)


@pytest.fixture(scope="module")
def webtext_parquet(spark, webtext_df, tmp_path_factory):
    p = str(tmp_path_factory.mktemp("plan_webtext"))
    webtext_df.write.mode("overwrite").parquet(p)
    return p


def test_lang_filter_pushed_to_scan(spark, webtext_parquet):
    df = spark.read.parquet(webtext_parquet).filter(F.col("lang") == "en").select("url")
    pf = pushed_filters(df)
    assert any("lang" in f for f in pf), f"lang filter not pushed: {pf}"


def test_html_column_pruned(spark, webtext_parquet):
    """Selecting (url, lang) must not read the html binary column."""
    df = spark.read.parquet(webtext_parquet).select("url", "lang")
    scans = read_schema_columns(df)
    assert scans and all("html" not in cols for cols in scans), scans


def test_extraction_scan_reads_only_url_html(spark, kb, webtext_parquet):
    from nilinker_spark.functions.normalize import norm_form
    from nilinker_spark.operators.extract import extract_mentions_df

    gazetteer = {norm_form(s) for s, _, _ in kb.surface_forms}
    df = extract_mentions_df(spark, spark.read.parquet(webtext_parquet), gazetteer)
    scans = read_schema_columns(df)
    assert scans and sorted(scans[0]) == ["html", "lang", "url"], scans


def test_scoring_joins_broadcast(spark):
    """The phrase-vector side of pair scoring must broadcast (never a
    sort-merge shuffle of the pair table against a tiny dim)."""
    from nilinker_spark.operators.scoring import fused_similarity_edges

    pairs = spark.createDataFrame([("a", "b")], "norm_a string, norm_b string")
    pvs = spark.createDataFrame([("a", [1.0, 0.0]), ("b", [0.0, 1.0])], "norm string, pv array<float>")
    scored = fused_similarity_edges(pairs, pvs, dim=2)
    assert has_broadcast_join(scored)
    # cosine + levenshtein stay JVM-side (zip_with/aggregate are
    # interpreted, not codegen'd — still no serde crossing); the one
    # sanctioned Python stage is the Arrow-batched Jaro-Winkler UDF over
    # the vocabulary-bounded pair table — never a row-at-a-time
    # BatchEvalPython
    from nilinker_spark.plans import has_rowwise_python_stage

    assert not has_rowwise_python_stage(scored)


def test_final_cluster_join_broadcast(spark, kb, webtext_df):
    from nilinker_spark.pipeline import resolve

    resolved = resolve(spark, webtext_df, kb)
    assert has_broadcast_join(resolved)


def test_corpus_ops_no_python(spark):
    """Dedup/text-analysis operators are pure built-ins: no Python-worker
    stage anywhere, and the hash-aggregation core is codegen'd."""
    from nilinker_spark.operators import corpus as C

    docs = spark.createDataFrame(
        [(0, "a b c", "en", "s", 5)], "doc_id long, text string, lang string, source string, n_chars long"
    )
    for op in (C.dedup_exact, C.simhash, C.text_quality, C.fingerprint, C.minhash_signatures):
        assert not has_python_stage(op(docs)), op.__name__
    # codegen subtrees are hidden behind the AdaptiveSparkPlan wrapper until
    # execution; verify codegen with AQE off (plan property, not runtime)
    spark.conf.set("spark.sql.adaptive.enabled", "false")
    try:
        assert has_whole_stage_codegen(C.dedup_exact(docs))
    finally:
        spark.conf.set("spark.sql.adaptive.enabled", "true")


def test_bucketed_join_avoids_shuffle(spark, tmp_path_factory):
    """Bucketing both sides of a recurring join key pre-co-locates the
    data: the join plan must contain no Exchange (the bucketing pattern
    for the corpus-sized mention/doc joins at 100 TB)."""
    from nilinker_spark.plans import explain_str

    docs = spark.range(0, 10_000).select(
        F.col("id").alias("doc_id"), (F.col("id") % 7).alias("x")
    )
    stats = spark.range(0, 10_000).select(
        F.col("id").alias("doc_id"), (F.col("id") % 3).alias("y")
    )
    spark.sql("drop table if exists b_docs")
    spark.sql("drop table if exists b_stats")
    docs.write.bucketBy(8, "doc_id").sortBy("doc_id").saveAsTable("b_docs")
    stats.write.bucketBy(8, "doc_id").sortBy("doc_id").saveAsTable("b_stats")
    # force the sort-merge path (the fixture fits the broadcast threshold,
    # which would hide the bucketing; at corpus scale SMJ is what runs)
    thr = spark.conf.get("spark.sql.autoBroadcastJoinThreshold")
    spark.conf.set("spark.sql.autoBroadcastJoinThreshold", "-1")
    try:
        joined = spark.table("b_docs").join(spark.table("b_stats"), "doc_id")
        plan = explain_str(joined)
        assert "Exchange" not in plan, plan
        assert "Bucketed: true" in plan, plan
        assert joined.count() == 10_000
    finally:
        spark.conf.set("spark.sql.autoBroadcastJoinThreshold", thr)
        spark.sql("drop table if exists b_docs")
        spark.sql("drop table if exists b_stats")


def test_scoring_broadcast_dropped_above_form_ceiling(spark):
    """Above BROADCAST_MAX_FORMS the forced broadcast hint must disappear
    (a 10^7-form x 200-dim pv broadcast would be ~8 GB per executor — a
    scale-killer hiding behind a hint); below it, it must stay."""
    from nilinker_spark.operators.scoring import BROADCAST_MAX_FORMS, fused_similarity_edges
    from nilinker_spark.plans import explain_str

    pairs = spark.createDataFrame([("a", "b")], "norm_a string, norm_b string")
    pvs = spark.createDataFrame(
        [("a", [1.0, 0.0]), ("b", [0.0, 1.0])], "norm string, pv array<float>"
    )
    small = fused_similarity_edges(pairs, pvs, n_forms=100, dim=2)
    assert has_broadcast_join(small)

    spark.conf.set("spark.sql.autoBroadcastJoinThreshold", "-1")
    try:
        big = fused_similarity_edges(pairs, pvs, n_forms=BROADCAST_MAX_FORMS + 1, dim=2)
        # with the hint gone AND auto-broadcast off, the plan must fall
        # through to a non-broadcast join (AQE would still be free to
        # broadcast from runtime stats in production — that's the point:
        # the decision belongs to stats, not a hard-coded hint)
        assert not has_broadcast_join(big)
        assert "SortMergeJoin" in explain_str(big) or "ShuffledHashJoin" in explain_str(big)
    finally:
        spark.conf.set("spark.sql.autoBroadcastJoinThreshold", "10485760")


def test_cluster_assign_broadcast_conditional(spark):
    from nilinker_spark.operators.clustering import assign_clusters
    from nilinker_spark.operators.scoring import BROADCAST_MAX_FORMS

    forms = spark.createDataFrame([("a",), ("b",)], "norm string")
    labels = spark.createDataFrame([("a", "a")], "node string, label string")
    assert has_broadcast_join(assign_clusters(forms, labels, n_forms=10))
    spark.conf.set("spark.sql.autoBroadcastJoinThreshold", "-1")
    try:
        assert not has_broadcast_join(
            assign_clusters(forms, labels, n_forms=BROADCAST_MAX_FORMS + 1)
        )
    finally:
        spark.conf.set("spark.sql.autoBroadcastJoinThreshold", "10485760")


def test_fused_edges_jw_above_joins(spark):
    """The fused S4+S5 prefilter only pays off if the plan keeps the
    Jaro-Winkler Arrow stage ABOVE the pv joins (evaluating survivors
    only) with the dot-product bound as the sole join condition.  Without
    the _jw_prune_barrier non-deterministic flag Catalyst pushes the
    score filter through the UDF projection into the join condition —
    JW back on every pair, and the duplicated dot blows the condition
    past the codegen budget into interpreted evaluation (measured 25 s
    vs 7 s unfused at 4.76M pairs).  Guard the shape so an optimizer
    change reintroducing the pushdown is caught here, not in a bench."""
    from nilinker_spark.operators.scoring import fused_similarity_edges
    from nilinker_spark.plans import explain_str

    pairs = spark.createDataFrame([("a", "b")], "norm_a string, norm_b string")
    pvs = spark.createDataFrame(
        [("a", [1.0, 0.0]), ("b", [0.0, 1.0])], "norm string, pv array<float>"
    )
    txt = explain_str(fused_similarity_edges(pairs, pvs, dim=2))
    tree = txt.split("\n\n")[0].splitlines()
    arrow = [i for i, ln in enumerate(tree) if "ArrowEvalPython" in ln]
    joins = [i for i, ln in enumerate(tree) if "BroadcastHashJoin" in ln]
    assert arrow and joins, txt
    # parents print above children in the formatted tree: the Arrow stage
    # must sit above (consume the output of) every pv join
    assert arrow[0] < min(joins), txt
    # and no join condition may reference the extracted UDF column
    conds = [ln for ln in txt.splitlines() if "Join condition" in ln]
    assert conds and not any("pythonUDF" in c for c in conds), conds


def test_trainprep_plan_shapes(spark, tmp_path_factory):
    """The r5 training-prep operators keep their designed plan shapes:
    decontaminate never shuffles the corpus (both joins broadcast),
    importance_resample is a zero-exchange codegen'd scan, and
    pack_sequences shuffles the corpus exactly once (its other two
    exchanges move per-bucket aggregates, not corpus rows).

    Docs go through parquet first: the anti-join's broadcast choice is
    size-statistics-driven (deliberately unhinted — the contaminated-id
    dim is small in practice but not by construction), and an in-memory
    relation has no stats to drive it."""
    from nilinker_spark.operators import corpus as C
    from nilinker_spark.plans import explain_str, shuffle_exchange_count

    p = str(tmp_path_factory.mktemp("trainprep")) + "/docs"
    spark.createDataFrame(
        [(i, "a b c d e f", "en", "s", 11) for i in range(6)],
        "doc_id long, text string, lang string, source string, n_chars long",
    ).write.mode("overwrite").parquet(p)
    docs = spark.read.parquet(p)
    spark.conf.set("spark.sql.adaptive.enabled", "false")
    try:
        deco = C.decontaminate(docs.filter(F.col("doc_id") > 0), docs.limit(1))
        txt = explain_str(deco, "simple")
        assert "SortMergeJoin" not in txt and "ShuffledHashJoin" not in txt
        assert txt.count("BroadcastHashJoin") == 2  # semi (grams) + anti (ids)
        # the only shuffles build the two broadcast dims (bench grams,
        # contaminated ids) — each bounded by the benchmark/contamination
        # size; the corpus side reaches both joins shuffle-free
        assert shuffle_exchange_count(deco) == 2
        assert not has_python_stage(deco)

        rs = C.importance_resample(docs)
        assert shuffle_exchange_count(rs) == 0
        assert has_whole_stage_codegen(rs)
        assert not has_python_stage(rs)

        ps = C.pack_sequences(docs, budget=8, bucket_width=2)
        txt = explain_str(ps, "simple")
        # corpus window exchange + per-bucket partial-agg exchange + the
        # SinglePartition exchange feeding the TINY bucket-offset window
        # (bucket-count rows by construction, never corpus rows)
        assert shuffle_exchange_count(ps) == 3
        assert txt.count("Exchange SinglePartition") == 1
        assert "BroadcastHashJoin" in txt  # offsets join the corpus as a dim
        assert not has_python_stage(ps)
    finally:
        spark.conf.set("spark.sql.adaptive.enabled", "true")


def test_top_k_keeps_window_group_limit(spark):
    """corpus.top_k over a partition key keeps Spark's rank-limit
    pushdown: the executed plan limits each group to k rows below the
    window (WindowGroupLimit), for k=1 as for k>1.  A global window
    (by=[]) gets none — the plan the global top-k rows accept."""
    from nilinker_spark.operators.corpus import top_k
    from nilinker_spark.plans import explain_str

    df = spark.range(200).select((F.col("id") % 7).alias("g"), "id")
    for by, k, want in (("g", 1, True), ("g", 5, True), ([], 5, False)):
        out = top_k(df, by, [F.desc("id")], k)
        assert len(out.collect()) == (7 * k if by else k)
        tree = explain_str(out).split("\n\n")[0]  # the node tree, not the details
        assert "== Final Plan ==" in tree
        final = tree.split("== Initial Plan ==")[0]
        assert ("WindowGroupLimit" in final) == want, (by, k, final)


def test_mention_metrics_counts_in_one_exchange(spark):
    """The pipeline's mention_metrics stage counts forms in one hash
    exchange with the partial count below it: each map task combines its
    rows of a hot form before the shuffle, so the Zipf head reaches its
    reducer as one row per map task — the hot-key guard of the stage."""
    from types import SimpleNamespace

    from nilinker_spark.pipeline import _STAGE_GRAPH
    from nilinker_spark.plans import explain_str

    build = {name: fn for name, fn, _mode in _STAGE_GRAPH}["mention_metrics"]
    hot = F.when(F.col("id") % 10 > 0, F.lit("hot")).otherwise(F.col("id").cast("string"))
    mentions = spark.range(0, 1000, 1, 4).select(hot.alias("norm"))
    out = build(SimpleNamespace(mentions=mentions))
    assert out.schema.simpleString() == "struct<norm:string,count:bigint>"
    counts = {r["norm"]: r["count"] for r in out.collect()}
    assert counts["hot"] == 900 and len(counts) == 101
    final = explain_str(out, "simple").split("== Initial Plan ==")[0]
    exchanges = [i for i, ln in enumerate(final.splitlines()) if "Exchange hashpartitioning" in ln]
    assert len(exchanges) == 1, final
    below = "\n".join(final.splitlines()[exchanges[0] + 1 :])
    assert "partial_count" in below, final


def test_plan_dump_masks_run_dependent_ids():
    """tools/plan_dump.mask (no Spark): an RDD id counts every RDD the
    session built before, so an unchanged LogicalRDD plan would diff
    whenever earlier work built a different number of RDDs."""
    import importlib.util
    import os

    path = os.path.join(os.path.dirname(os.path.dirname(__file__)), "tools", "plan_dump.py")
    spec = importlib.util.spec_from_file_location("plan_dump", path)
    plan_dump = importlib.util.module_from_spec(spec)
    spec.loader.exec_module(plan_dump)
    line = (
        "Arguments: [norm#1234, pv#77L], MapPartitionsRDD[1425] at localCheckpoint at "
        "NativeMethodAccessorImpl.java:0, ExistingRDD, UnknownPartitioning(0)"
    )
    assert plan_dump.mask(line) == (
        "Arguments: [norm#N, pv#N], MapPartitionsRDD[N] at localCheckpoint at "
        "NativeMethodAccessorImpl.java:0, ExistingRDD, UnknownPartitioning(0)"
    )
