"""Seeded input generation for the benchmark workloads.

Every input is a pure function of (seed, size): the program under test
only ever receives the parquet tables written here.  Documents follow the
shape of the repo's synthetic ``documents`` table (doc_id, text, lang,
source, n_chars): 10-100 tokens drawn uniformly from a 30-word vocabulary,
so the top word bigrams make a realistic multi-token gazetteer.

``template_share`` > 0 turns a share of the pages into near-duplicates of
a few boilerplate templates (a handful of substituted tokens each): their
shingles have document frequencies in the hundreds, which gives the
corpus operators' shingle postings and df counts a hot key.
"""

from __future__ import annotations

import hashlib
import os

import numpy as np
import pyarrow as pa
import pyarrow.parquet as pq

VOCAB = [
    "spark", "window", "merge", "table", "column", "vector", "stream",
    "value", "data", "small", "join", "filter", "big", "group", "hash",
    "customer", "sort", "order", "slow", "line", "part", "fast", "row",
    "the", "agg", "key", "query", "a", "scan", "batch",
]
LANGS = ["en", "zh", "es", "fr", "de"]
LANG_W = [0.41, 0.15, 0.15, 0.15, 0.14]
N_SOURCES = 20
N_TEMPLATES = 4
TEMPLATE_LEN = 80
TEMPLATE_EDITS = 3
N_FILLER = 400


def documents(
    seed: int,
    n: int,
    first_id: int = 0,
    template_share: float = 0.0,
    langs: bool = True,
) -> pa.Table:
    """``n`` documents with ids ``first_id .. first_id + n - 1``.

    ``langs=False`` makes every page English (the ER workloads extract
    from English pages only, so this keeps their work per doc fixed)."""
    rng = np.random.default_rng([seed, first_id])
    vocab = np.array(VOCAB)
    lens = rng.integers(10, 101, n)
    toks = vocab[rng.integers(0, len(VOCAB), int(lens.sum()))]
    bounds = np.concatenate(([0], np.cumsum(lens)))
    texts = [" ".join(toks[bounds[i] : bounds[i + 1]]) for i in range(n)]
    if template_share > 0:
        trng = np.random.default_rng([seed, 7])
        templates = vocab[trng.integers(0, len(VOCAB), (N_TEMPLATES, TEMPLATE_LEN))]
        for i in np.flatnonzero(rng.random(n) < template_share):
            page = templates[rng.integers(0, N_TEMPLATES)].copy()
            at = rng.integers(0, TEMPLATE_LEN, TEMPLATE_EDITS)
            page[at] = vocab[rng.integers(0, len(VOCAB), TEMPLATE_EDITS)]
            texts[i] = " ".join(page)
    lang = (
        np.array(LANGS)[rng.choice(len(LANGS), n, p=LANG_W)]
        if langs
        else np.full(n, "en")
    )
    return pa.table(
        {
            "doc_id": pa.array(np.arange(first_id, first_id + n), pa.int64()),
            "text": pa.array(texts, pa.string()),
            "lang": pa.array(lang, pa.string()),
            "source": pa.array(
                [f"src{i}" for i in rng.integers(0, N_SOURCES, n)], pa.string()
            ),
            "n_chars": pa.array([len(t) for t in texts], pa.int64()),
        }
    )


def planted_phrases(n: int) -> list[str]:
    """``n`` fixed word bigrams (the same for every seed)."""
    rng = np.random.default_rng(0)
    pairs = [(a, b) for a in VOCAB for b in VOCAB if a != b]
    return [" ".join(pairs[i]) for i in rng.permutation(len(pairs))[:n]]


def filler_words(n: int) -> list[str]:
    """``n`` fixed two-syllable filler words, none of them in ``VOCAB``."""
    syllables = [c + v for c in "bdfgklmnprstvz" for v in "aeiou"]
    words = [a + b for a in syllables for b in syllables]
    rng = np.random.default_rng(1)
    return [w for w in (words[i] for i in rng.permutation(len(words))) if w not in VOCAB][:n]


def phrase_documents(seed: int, n: int, phrases: list[str], share: float) -> pa.Table:
    """English documents of uniform filler words (from a vocabulary large
    enough that no filler bigram recurs much) in which about ``share`` of
    the token slots start one of the recurring ``phrases``.  The top word
    bigrams of any seed's pages are exactly the phrases, so the vocabulary
    a gazetteer draws from them does not change with the seed while the
    pages do."""
    rng = np.random.default_rng([seed, 13])
    filler = np.array(filler_words(N_FILLER))
    # phrases are placed round-robin in a seeded order, so each recurs
    # about equally often however small the slice
    plist = [phrases[i].split(" ") for i in rng.permutation(len(phrases))]
    placed = 0
    texts = []
    for length in rng.integers(10, 101, n):
        toks = list(filler[rng.integers(0, len(filler), length)])
        i = 0
        while i + 1 < length:
            if rng.random() < share:
                toks[i : i + 2] = plist[placed % len(plist)]
                placed += 1
                i += 3  # a filler word between two phrases
            else:
                i += 1
        texts.append(" ".join(toks))
    return pa.table(
        {
            "doc_id": pa.array(np.arange(n), pa.int64()),
            "text": pa.array(texts, pa.string()),
            "lang": pa.array(["en"] * n, pa.string()),
            "source": pa.array(
                [f"src{i}" for i in rng.integers(0, N_SOURCES, n)], pa.string()
            ),
            "n_chars": pa.array([len(t) for t in texts], pa.int64()),
        }
    )


def tag_tokens(docs: pa.Table, tag: str) -> pa.Table:
    """Append ``tag`` to every token of every text: a vocabulary no earlier
    repetition has seen, with the same bigram structure."""
    texts = [
        " ".join(t + tag for t in s.split(" ")) for s in docs.column("text").to_pylist()
    ]
    return docs.set_column(
        docs.schema.get_field_index("text"), "text", pa.array(texts, pa.string())
    ).set_column(
        docs.schema.get_field_index("n_chars"),
        "n_chars",
        pa.array([len(t) for t in texts], pa.int64()),
    )


def write(table: pa.Table, path: str) -> None:
    os.makedirs(os.path.dirname(path), exist_ok=True)
    pq.write_table(table, path)


def checksum(table: pa.Table) -> str:
    """Content hash of a table (column names, types and values)."""
    h = hashlib.md5(str(table.schema.remove_metadata()).encode())
    for col in table.columns:
        for chunk in col.chunks:
            for buf in chunk.buffers():
                if buf is not None:
                    h.update(buf)
    return h.hexdigest()
