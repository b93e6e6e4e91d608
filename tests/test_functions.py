"""Unit tests for the pure scalar functions (SURVEY.md §5 'Unit' tier)."""

from __future__ import annotations

import numpy as np
from pyspark.sql import functions as F

from nilinker_spark.functions.model import l2_normalize, phrase_vectors
from nilinker_spark.functions.normalize import (
    extract_text,
    norm_form,
    singularize,
    tokenize_entity,
)
from nilinker_spark.functions.similarity import (
    fuzzy_best_match,
    lev_ratio,
    levenshtein,
    token_sort_ratio,
)


def test_extract_text_pure_and_byte_stable():
    html = b"<html><body>hello   world</body></html>"
    assert extract_text(html) == "hello world"
    assert extract_text(html) == extract_text(html)
    # invalid utf-8 must not throw
    assert isinstance(extract_text(b"<p>\xff\xfe</p>"), str)


def test_norm_form():
    assert norm_form("Hello, World's") == "hello worlds"
    assert norm_form("A:B  c") == "a_b c" or norm_form("A:B  c") == "a b c"
    assert norm_form("  x  ") == "x"


def test_tokenize_entity_tt_rule():
    # single token duplicated [t, t] (utils.py:372-375)
    assert tokenize_entity("cell") == ("cell", "cell")
    assert tokenize_entity("red cell") == ("red", "cell")
    # only first two tokens used (utils.py:437)
    assert tokenize_entity("a b c d") == ("a", "b")
    assert tokenize_entity("") == ("", "")


def test_singularize():
    assert singularize("cells") == "cell"
    assert singularize("glass") == "glass"
    assert singularize("abs") == "abs"  # len <= 3 untouched


def test_levenshtein_matches_known():
    assert levenshtein("kitten", "sitting") == 3
    assert levenshtein("", "abc") == 3
    assert lev_ratio("abc", "abc") == 1.0
    assert lev_ratio("", "") == 1.0


def test_token_sort_ratio_order_free():
    assert token_sort_ratio("red cell", "cell red") == 1.0


def test_fuzzy_best_match_deterministic_tiebreak():
    # two equally-distant words -> lexicographically smaller wins
    assert fuzzy_best_match("ab", ["aa", "bb"]) == "aa"


def test_phrase_vectors_hand_oracle():
    """Attention math vs a tiny hand-computed case (D=2, one candidate)."""
    from nilinker_spark.functions.model import ModelWeights

    W_a = np.eye(2, dtype=np.float32)
    b_a = np.zeros((1, 2), dtype=np.float32)
    W_c = np.ones((4, 2), dtype=np.float32)
    b_c = np.zeros((1, 2), dtype=np.float32)
    word_embeds = np.array([[1.0, 0.0], [0.0, 1.0]], dtype=np.float32)
    cand_embeds = np.array([[0.5, 0.5]], dtype=np.float32)
    w = ModelWeights(W_a, b_a, W_c, b_c, word_embeds, cand_embeds)

    pv = phrase_vectors(
        np.array([0]), np.array([1]),
        np.array([[0]]), np.array([[0]]),
        w,
    )
    # by hand: wl+wr=[1,1]; single candidate -> att=1 -> agg=[.5,.5] each,
    # agg_l+agg_r=[1,1]; concat=[1,1,1,1] @ ones(4,2) = [4,4]; tanh -> ~[.9993,.9993]
    # l2-normalized -> [0.7071, 0.7071]
    assert np.allclose(pv[0], [0.70710678, 0.70710678], atol=1e-6)


def test_l2_normalize_zero_row_safe():
    out = l2_normalize(np.zeros((1, 4), dtype=np.float32))
    assert not np.isnan(out).any()


def test_model_weights_npz_roundtrip(tmp_path):
    """H5-weights-scan analog (≙ predict_nilinker.py:27-33): the scorer
    fixture persists and reloads bit-identically."""
    import numpy as np

    from nilinker_spark.fixtures.kb import make_kb
    from nilinker_spark.functions.model import ModelWeights

    kb = make_kb(seed=42, n_concepts=50)
    path = str(tmp_path / "best.npz")
    np.savez(path, **kb.weights.to_npz_dict())
    loaded = ModelWeights.from_npz(path)
    for key, arr in kb.weights.to_npz_dict().items():
        assert (getattr(loaded, key) == arr).all(), key


def test_jaro_winkler_known_values():
    """Classic published Jaro-Winkler examples (Winkler 1990 / SoftTF-IDF
    literature) + boundary cases."""
    import pytest

    from nilinker_spark.functions.similarity import jaro, jaro_winkler

    assert jaro("martha", "marhta") == pytest.approx(0.9444444444444445)
    assert jaro_winkler("martha", "marhta") == pytest.approx(0.9611111111111111)
    assert jaro("dwayne", "duane") == pytest.approx(0.8222222222222223)
    assert jaro_winkler("dwayne", "duane") == pytest.approx(0.8400000000000001)
    assert jaro_winkler("same", "same") == 1.0
    assert jaro_winkler("", "abc") == 0.0
    assert jaro_winkler("abc", "") == 0.0
    # matching window = max(len)//2 - 1 = 0 for 2-char strings: no
    # cross-position matches (standard Jaro semantics, same as jellyfish)
    assert jaro("ab", "ba") == 0.0
    assert jaro("dixon", "dicksonx") == pytest.approx(0.7666666666666666)
    assert jaro_winkler("dixon", "dicksonx") == pytest.approx(0.8133333333333332)


def test_jaro_winkler_prefix_cap():
    """Prefix boost caps at 4 chars (standard parameterization)."""
    from nilinker_spark.functions.similarity import jaro, jaro_winkler

    a, b = "abcdefgh", "abcdefxy"
    j = jaro(a, b)
    assert jaro_winkler(a, b) == j + 4 * 0.1 * (1 - j)


def test_fuzzy_cache_scoped_by_kb_fingerprint(spark):
    """Two KBs with different vocabularies in ONE session must resolve
    independently — the per-worker fuzzy memo is keyed by the KB
    fingerprint (a shared memo would poison the second pipeline)."""
    from nilinker_spark.fixtures.kb import make_kb
    from nilinker_spark.operators.blocking import phrase_vectors_df

    kb1 = make_kb(seed=42, n_concepts=60)
    kb2 = make_kb(seed=43, n_concepts=60)
    assert kb1.fingerprint != kb2.fingerprint

    forms = spark.createDataFrame([("zzqx",)], "norm string")  # OOV everywhere
    pv1 = phrase_vectors_df(spark, forms, kb1).collect()[0]["pv"]
    pv2 = phrase_vectors_df(spark, forms, kb2).collect()[0]["pv"]
    # same OOV token, different vocab -> different fuzzy resolution target
    # (would be identical if the memo leaked across KBs)
    import math

    d = sum((x - y) ** 2 for x, y in zip(pv1, pv2))
    assert not math.isclose(d, 0.0), "phrase vectors identical across different KBs"

    # and re-running kb1 is stable (memo correctness, not just isolation)
    pv1b = phrase_vectors_df(spark, forms, kb1).collect()[0]["pv"]
    assert pv1 == pv1b


def test_h60_spark_column_equals_python_scalar(spark):
    """The Spark ``h60`` column and the Python ``h60_value`` are one hash:
    equal on random strings (empty and non-ASCII included) and on the
    ``str(int)`` keys the snapshot bucket transform hashes, checked in
    one Spark job."""
    import random

    from nilinker_spark.functions.hashing import h60, h60_value

    rng = random.Random(7)
    alphabet = "abcXYZ019 #|-_ éßøΩж中文🙂\t"
    texts = ["", " ", "é", "中文", "🙂"] + [
        "".join(rng.choice(alphabet) for _ in range(rng.randint(1, 24))) for _ in range(300)
    ]
    texts += [str(rng.randint(-(2**63), 2**63 - 1)) for _ in range(100)] + ["0", "-1", "42"]
    df = spark.createDataFrame([(t,) for t in texts], "x string")
    got = {r["x"]: r["h"] for r in df.select("x", h60(F.col("x")).alias("h")).collect()}
    assert len(got) == len(set(texts))
    for t in texts:
        assert got[t] == h60_value(t), t
        assert 0 <= got[t] < 2**60


def _engine_sources() -> tuple[str, list[str]]:
    """(repo root, every .py file of the engine and the entry point)."""
    import os

    root = os.path.dirname(os.path.dirname(os.path.abspath(__file__)))
    files = [os.path.join(root, "__spark_entry__.py")] + [
        os.path.join(d, f)
        for d, _, names in os.walk(os.path.join(root, "nilinker_spark"))
        for f in names
        if f.endswith(".py")
    ]
    return root, files


def test_every_double_round_is_round_double():
    """The cross-engine rounding rule lives in functions/rounding.py only:
    no ``F.round``/``F.bround`` call and no SQL ``round(`` inside an
    ``F.expr``/``selectExpr`` string anywhere else in the engine or the
    entry point.  ``oracle_sql()`` holds the DuckDB twins and is exempt.
    Spark-free: a scan of the source."""
    import ast
    import os
    import re

    root, files = _engine_sources()
    sql_round = re.compile(r"\bround\s*\(", re.IGNORECASE)
    bad = []
    for path in files:
        if path.endswith(os.path.join("functions", "rounding.py")):
            continue
        tree = ast.parse(open(path).read())
        exempt = {
            id(n)
            for fn in ast.walk(tree)
            if isinstance(fn, ast.FunctionDef) and fn.name == "oracle_sql"
            for n in ast.walk(fn)
        }
        for node in ast.walk(tree):
            if not isinstance(node, ast.Call) or id(node) in exempt:
                continue
            f = node.func
            if not isinstance(f, ast.Attribute):
                continue
            is_f = isinstance(f.value, ast.Name) and f.value.id == "F"
            if is_f and f.attr in ("round", "bround"):
                bad.append(f"{os.path.relpath(path, root)}:{node.lineno} F.{f.attr}")
            elif (is_f and f.attr == "expr") or f.attr == "selectExpr":
                text = " ".join(
                    n.value
                    for a in node.args
                    for n in ast.walk(a)
                    if isinstance(n, ast.Constant) and isinstance(n.value, str)
                )
                if sql_round.search(text):
                    bad.append(f"{os.path.relpath(path, root)}:{node.lineno} SQL round")
    assert not bad, bad


def test_every_driver_frame_is_local_frame():
    """Driver rows enter Spark through ``config.local_frame`` only: no
    ``createDataFrame(`` call anywhere else in the engine or the entry
    point (a list or an empty pandas frame would parallelize through
    Python-worker tasks).  Spark-free: a scan of the source."""
    import ast
    import os

    root, files = _engine_sources()
    bad = []
    for path in files:
        tree = ast.parse(open(path).read())
        exempt = set()
        if path.endswith(os.path.join("nilinker_spark", "config.py")):
            exempt = {
                id(n)
                for fn in ast.walk(tree)
                if isinstance(fn, ast.FunctionDef) and fn.name == "local_frame"
                for n in ast.walk(fn)
            }
        bad += [
            f"{os.path.relpath(path, root)}:{node.lineno}"
            for node in ast.walk(tree)
            if isinstance(node, ast.Call)
            and isinstance(node.func, ast.Attribute)
            and node.func.attr == "createDataFrame"
            and id(node) not in exempt
        ]
    assert not bad, bad


# Every definition of the engine that only tests call, with the reason it
# stays.  The last group is the EvaNIL corpus/KB readers and the npz
# round trip: the webtext pipeline never calls them, and they stay only
# as long as the tier-1 tests that cover them do.
_TEST_ONLY_KEPT = {
    "run_oracle": "the single-process reference the e2e parity tests compare against",
    "similarity_edge_list": "the unblocked edge reference the blocking recall test compares against",
    "minhash_signatures": "the reference the wide band keys are checked against",
    "extract_text_df": "the only check of byte-identical extracted text per url",
    "Pipeline.lineage": "observability API: per-stage lineage read from the manifests",
    "Pipeline.stage_history": "observability API: a stage's snapshot history",
    "Pipeline.read_stage_changes": "observability API: the incremental scan of a stage",
    "write_webtext_parquet": "writes a webtext table for driving the pipeline by hand",
    "make_media_fixture": "the media fixture; moved under tests/ it would be the same code",
    **dict.fromkeys(
        [
            "ModelWeights.to_npz_dict",
            "ModelWeights.from_npz",
            "training_examples",
            "candidates_ir",
            "read_jsonl_corpus",
            "read_pubtator_corpus",
            "read_xml_corpus",
            "read_gsc_corpus",
            "read_phaedra_corpus",
            "read_chebi_patents_corpus",
            "read_chebi_3star_kb",
            "read_obo_umls_xrefs",
            "medmentions_umls_to_hp",
            "read_ctd_tsv_kb",
            "write_corpus_fixtures",
            "write_pubtator",
            "read_obo_kb",
            "write_obo_fixture",
        ],
        "covered by tier-1 tests that stay; it goes when they do",
    ),
}


def test_test_only_definitions_are_declared():
    """``tools/test_only_defs.py`` over the engine lists exactly the
    definitions of ``_TEST_ONLY_KEPT``: a new definition that only tests
    call fails here until it is deleted or given its reason, and a kept
    one that gains a caller (or goes) must leave the list.  Spark-free."""
    import importlib.util
    import os

    root, _files = _engine_sources()
    spec = importlib.util.spec_from_file_location(
        "test_only_defs", os.path.join(root, "tools", "test_only_defs.py")
    )
    tool = importlib.util.module_from_spec(spec)
    spec.loader.exec_module(tool)
    found = sorted(q for _p, _l, q in tool.test_only_defs(os.path.join(root, "nilinker_spark")))
    assert found == sorted(_TEST_ONLY_KEPT)


def test_singularize_col_equals_singularize(spark):
    """The Spark plural rule is :func:`singularize`, token for token."""
    from nilinker_spark.functions.normalize import singularize_col

    toks = ["cells", "glass", "abs", "bus", "buss", "s", "", "nodes", "ss"]
    df = spark.range(1).select(F.explode(F.array(*map(F.lit, toks))).alias("t"))
    got = {r["t"]: r["s"] for r in df.select("t", singularize_col(F.col("t")).alias("s")).collect()}
    assert got == {t: singularize(t) for t in toks}


def test_word_id_memo_lives_per_worker(tmp_path):
    """The fuzzy OOV memo is the worker module's own dict, not a copy
    pickled into each task: after phrase_vectors_df over OOV forms, a
    later task in the same Python worker (``local[1]``, reused worker)
    reads the memo filled.  A fresh process, since its session differs
    from the shared test session."""
    import os
    import subprocess
    import sys

    root, _files = _engine_sources()
    script = """
import pandas as pd
from pyspark.sql import functions as F
from nilinker_spark.config import get_spark
from nilinker_spark.fixtures.kb import make_kb
from nilinker_spark.operators.blocking import phrase_vectors_df

spark = get_spark(master="local[1]", shuffle_partitions=1)
kb = make_kb(seed=42)
fp = kb.fingerprint
forms = spark.range(20).select(F.concat(F.lit("zzq"), F.col("id"), F.lit("x")).alias("norm"))
phrase_vectors_df(spark, forms, kb).collect()


def probe(batches):
    from nilinker_spark.functions import similarity

    for _ in batches:
        pass
    yield pd.DataFrame({"n": [len(similarity._FUZZY_CACHE.get(fp, {}))]})


print("MEMO", spark.range(1, numPartitions=1).mapInPandas(probe, "n long").first()["n"])
"""
    env = dict(
        os.environ,
        PYTHONPATH=os.pathsep.join([root, os.environ.get("PYTHONPATH", "")]),
        SPARK_GRAFT_DRIVER_MEM="1g",
    )
    proc = subprocess.run(
        [sys.executable, "-c", script], cwd=tmp_path, env=env, capture_output=True, text=True,
        timeout=600,
    )
    assert proc.returncode == 0, proc.stderr[-3000:]
    memo = [line for line in proc.stdout.splitlines() if line.startswith("MEMO ")]
    # 20 single-token forms: 20 distinct OOV tokens, each memoized once
    assert memo == ["MEMO 20"], proc.stdout[-2000:]
