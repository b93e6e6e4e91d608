"""Property tests for the pure scalar layer (no Spark)."""

from __future__ import annotations

import os

import pytest
from hypothesis import given, settings
from hypothesis import strategies as st

from nilinker_spark.functions.normalize import extract_text, norm_form, tokenize_entity
from nilinker_spark.functions.similarity import lev_ratio, levenshtein, token_sort_ratio

text_st = st.text(max_size=60)
word_st = st.text(alphabet="abcdefghijklmnopqrstuvwxyz", min_size=0, max_size=12)


@settings(max_examples=200, deadline=None)
@given(st.binary(max_size=200))
def test_extract_text_total_and_idempotent(b):
    out = extract_text(b)
    assert isinstance(out, str)
    # extraction of already-extracted text is stable (no tags remain)
    assert extract_text(out.encode("utf-8")) == out


@settings(max_examples=200, deadline=None)
@given(text_st)
def test_norm_form_idempotent(s):
    assert norm_form(norm_form(s)) == norm_form(s)


@settings(max_examples=200, deadline=None)
@given(text_st)
def test_tokenize_always_two(s):
    tl, tr = tokenize_entity(s)
    assert isinstance(tl, str) and isinstance(tr, str)
    if s.strip(" "):
        toks = [t for t in s.split(" ") if t]
        assert tl == toks[0]


@settings(max_examples=150, deadline=None)
@given(word_st, word_st)
def test_levenshtein_metric_properties(a, b):
    d = levenshtein(a, b)
    assert d == levenshtein(b, a)  # symmetry
    assert (d == 0) == (a == b)  # identity
    assert d <= max(len(a), len(b))  # upper bound
    assert d >= abs(len(a) - len(b))  # lower bound


@settings(max_examples=100, deadline=None)
@given(word_st, word_st, word_st)
def test_levenshtein_triangle(a, b, c):
    assert levenshtein(a, c) <= levenshtein(a, b) + levenshtein(b, c)


@settings(max_examples=150, deadline=None)
@given(word_st, word_st)
def test_ratios_bounded(a, b):
    assert 0.0 <= lev_ratio(a, b) <= 1.0
    assert 0.0 <= token_sort_ratio(a, b) <= 1.0


@settings(max_examples=100, deadline=None)
@given(st.lists(word_st.filter(bool), min_size=1, max_size=4))
def test_token_sort_order_invariant(tokens):
    import itertools

    s1 = " ".join(tokens)
    for perm in itertools.permutations(tokens):
        assert token_sort_ratio(s1, " ".join(perm)) == 1.0
        break


def _naive_extract(url, text, gazetteer):
    """Round-1 greedy scan, no memo, no probe gates — the semantics the
    optimized extract_mentions must reproduce exactly."""
    from nilinker_spark.oracle import MAX_MENTION_TOKENS, mention_id

    toks = text.split(" ")
    norm_toks = [norm_form(t) for t in toks]
    out = []
    i, n = 0, len(toks)
    while i < n:
        matched = False
        for length in range(min(MAX_MENTION_TOKENS, n - i), 0, -1):
            if " ".join(norm_toks[i : i + length]) in gazetteer:
                cand = " ".join(toks[i : i + length])
                out.append((mention_id(url, i, cand), cand, i))
                i += length
                matched = True
                break
        if not matched:
            i += 1
    return out


# adversarial alphabet: punctuation that normalizes away, ':' (maps to
# '_' then to space -> multi-word tokens), digits, hyphens
_adv_word = st.text(alphabet="ab1-.,':x ", min_size=1, max_size=8)


@settings(max_examples=200, deadline=None)
@given(
    st.lists(_adv_word, min_size=0, max_size=30),
    st.lists(_adv_word, min_size=1, max_size=8),
)
def test_extract_mentions_gates_are_exact(doc_words, gaz_surfaces):
    """The memo + first-word + word-count probe gates only skip probes
    that provably cannot match: output identical to the naive greedy scan
    for ANY text and ANY normalized gazetteer — including tokens that
    normalize to several words or to nothing."""
    from nilinker_spark.oracle import extract_mentions

    text = " ".join(doc_words)
    gazetteer = {norm_form(s) for s in gaz_surfaces}
    gazetteer.discard("")
    want = _naive_extract("u", text, gazetteer)
    got = extract_mentions("u", text, gazetteer, {}, None)
    assert got == want


@given(
    st.lists(
        st.tuples(
            st.text(alphabet="abcdefg üé日\x00", max_size=14),
            st.text(alphabet="abcdefg üé日\x00", max_size=14),
        ),
        max_size=40,
    )
)
@settings(max_examples=150, deadline=None)
def test_jaro_winkler_batch_bit_exact_vs_scalar(pairs):
    """The numpy-vectorized scoring hot path must equal the pure-Python
    oracle twin bit-for-bit on arbitrary unicode inputs — including NUL
    characters, which the padded matrix must not mistake for padding
    (ADVICE r3: codepoints are stored +1 so 0 uniquely means pad)."""
    import numpy as np

    from nilinker_spark.functions.similarity import jaro_winkler, jaro_winkler_batch

    a = [p[0] for p in pairs]
    b = [p[1] for p in pairs]
    got = jaro_winkler_batch(a, b)
    want = np.array([jaro_winkler(x, y) for x, y in pairs], dtype=np.float64)
    assert got.shape == want.shape and (got == want).all()


def _even_offset_mentions(text, gazetteer):
    """The two-word-gazetteer reduction of the greedy scan that the DuckDB
    er_extract_mentions twin computes: a position matches when its
    normalized token bigram is in the gazetteer, and within each maximal
    run of consecutive matching positions only the even offsets from the
    run start are kept -> [(surface, pos)]."""
    toks = text.split(" ")
    ntoks = [norm_form(t) for t in toks]
    hits = [i for i in range(len(toks) - 1) if f"{ntoks[i]} {ntoks[i + 1]}" in gazetteer]
    out, run_start = [], None
    for k, i in enumerate(hits):
        if k == 0 or i != hits[k - 1] + 1:
            run_start = i
        if (i - run_start) % 2 == 0:
            out.append((f"{toks[i]} {toks[i + 1]}", i))
    return out


def _scan_mentions(text, gazetteer):
    from nilinker_spark.oracle import extract_mentions

    return [(surface, pos) for _mid, surface, pos in extract_mentions("u", text, gazetteer)]


def test_even_offset_reduction_random_two_word_gazetteers():
    """Random token sequences over a small alphabet (long overlapping
    match runs; 'A' and 'b,' normalize to the one word 'a' and 'b') with
    random two-word gazetteers: the reduction equals the greedy scan."""
    import random

    rng = random.Random(20)
    alphabet = ["a", "b", "c", "A", "b,"]
    words = ["a", "b", "c"]
    for _ in range(5_000):
        text = " ".join(rng.choice(alphabet) for _ in range(rng.randint(1, 30)))
        gazetteer = {
            f"{rng.choice(words)} {rng.choice(words)}" for _ in range(rng.randint(1, 5))
        }
        assert _even_offset_mentions(text, gazetteer) == _scan_mentions(text, gazetteer)


@pytest.mark.parametrize("sf", ["sf0.01", "sf0.1"])
def test_even_offset_reduction_on_documents(sf):
    """On the testdata ``documents`` text with the top-100 bigram
    gazetteer (count desc, surface asc: the gazetteer of
    sources.webtext.gazetteer_from_documents and of the DuckDB twin), the
    reduction equals the greedy scan on every document, and the corpus
    meets its precondition: every token normalizes to one word."""
    from collections import Counter

    import pyarrow.parquet as pq

    from nilinker_spark.functions.normalize import extract_text

    path = f"/root/testdata/{sf}/documents.parquet"
    if not os.path.exists(path):
        pytest.skip(f"no testdata at {path}")
    texts = pq.read_table(path, columns=["text"]).column("text").to_pylist()
    counts = Counter()
    for t in texts:
        toks = t.split(" ")
        counts.update(f"{a} {b}" for a, b in zip(toks, toks[1:]))
    gazetteer = {s for s, _ in sorted(counts.items(), key=lambda kv: (-kv[1], kv[0]))[:100]}
    n_mentions = 0
    for t in texts:
        text = extract_text(t.encode())
        assert all(" " not in norm_form(tok) for tok in text.split(" "))
        want = _scan_mentions(text, gazetteer)
        assert _even_offset_mentions(text, gazetteer) == want
        n_mentions += len(want)
    assert n_mentions > len(texts)


def test_even_offset_reduction_needs_one_word_tokens():
    """The precondition is real: 'foo.bar' normalizes to two words, so the
    scan matches it alone as 'foo bar' while no token bigram does."""
    assert _scan_mentions("foo.bar baz", {"foo bar"}) == [("foo.bar", 0)]
    assert _even_offset_mentions("foo.bar baz", {"foo bar"}) == []


def test_norm_cache_eviction_keeps_zipf_head():
    """Overflow eviction drops the newest (tail) half and keeps the
    oldest (head) half — insertion order is the Zipf-frequency proxy."""
    from nilinker_spark.operators import extract as E

    saved = dict(E._NORM_CACHE)
    try:
        E._NORM_CACHE.clear()
        for i in range(100):
            E._NORM_CACHE[f"tok{i:03d}"] = (f"tok{i:03d}", 1)
        E._evict_norm_cache()
        assert len(E._NORM_CACHE) == 50
        assert "tok000" in E._NORM_CACHE and "tok049" in E._NORM_CACHE
        assert "tok050" not in E._NORM_CACHE and "tok099" not in E._NORM_CACHE
    finally:
        E._NORM_CACHE.clear()
        E._NORM_CACHE.update(saved)
