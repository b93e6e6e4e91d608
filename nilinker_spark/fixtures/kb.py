"""Synthetic knowledge base + word-concept dict + model weights (F2/F3/F4/F5).

Mirrors the reference's KB dicts (/root/reference/src/utils/kbs.py:13-17,
135-140) and the Word-Concept inverted index
(/root/reference/src/utils/word_concept.py:48-86), built from a seeded
synthetic concept vocabulary instead of MEDIC/CHEBI OBO files.
"""

from __future__ import annotations

from dataclasses import dataclass, field

import numpy as np

from nilinker_spark.functions.model import ModelWeights, l2_normalize
from nilinker_spark.functions.normalize import norm_form

_SYLLABLES = [
    "ba", "do", "ki", "lu", "mer", "non", "pra", "sto", "tri", "vel",
    "zor", "qua", "fen", "gal", "hix", "jom", "ced", "wub", "ryn", "tav",
]

EMB_DIM = 16


@dataclass
class KBFixture:
    """Everything the scorer needs, in driver memory (KB ≪ data → broadcast)."""

    concepts: list[tuple[str, str, bool]]  # (kb_id, name, is_root)
    aliases: list[tuple[str, str, bool]]  # (alias, kb_id, is_synonym)
    edges: list[tuple[str, str]]  # (child_id, parent_id)
    wc: dict[str, list[int]]  # word -> sorted concept ints (blocking index)
    word2id: dict[str, int]  # sorted vocab -> contiguous ids
    weights: ModelWeights
    surface_forms: list[tuple[str, str, str]] = field(default_factory=list)
    # (surface, gold_kb_id, kind) where kind in {exact, typo, plural, nil}

    @property
    def gazetteer(self) -> set[str]:
        """The default extraction gazetteer: every surface form, normalized."""
        return {norm_form(s) for s, _, _ in self.surface_forms}

    @property
    def vocab_sorted(self) -> list[str]:
        return sorted(self.word2id)

    @property
    def fingerprint(self) -> str:
        """Identity of the fuzzy-resolution function: fuzzy_best_match is a
        pure function of (token, vocab), so the vocab hash keys any
        per-worker memo — two KBs in one session must never share one."""
        import hashlib

        return hashlib.md5("\x00".join(sorted(self.word2id)).encode()).hexdigest()


def _make_words(rng: np.random.Generator, n: int) -> list[str]:
    words: list[str] = []
    seen: set[str] = set()
    while len(words) < n:
        k = int(rng.integers(2, 4))
        w = "".join(rng.choice(_SYLLABLES) for _ in range(k))
        if w not in seen and len(w) >= 3:
            seen.add(w)
            words.append(w)
    return words


def _typo(rng: np.random.Generator, word: str) -> str:
    """One deterministic character substitution (edit distance 1)."""
    i = int(rng.integers(0, len(word)))
    repl = "abcdefghijklmnopqrstuvwxyz"[int(rng.integers(0, 26))]
    while repl == word[i]:
        repl = "abcdefghijklmnopqrstuvwxyz"[int(rng.integers(0, 26))]
    return word[:i] + repl + word[i + 1 :]


def make_kb(seed: int = 42, n_concepts: int = 300, n_surfaces: int = 175) -> KBFixture:
    """Build the full KB fixture as a pure function of the seed."""
    rng = np.random.default_rng(seed)
    words = _make_words(rng, 160)

    # --- concepts (≙ name_to_id / root_dict, kbs.py:13-26) ---
    concepts: list[tuple[str, str, bool]] = [("KB:0000", "root", True)]
    used_names = {"root"}
    for i in range(1, n_concepts):
        while True:
            k = int(rng.integers(1, 4))
            name = " ".join(rng.choice(words, size=k, replace=False))
            if name not in used_names:
                used_names.add(name)
                break
        concepts.append((f"KB:{i:04d}", name, False))

    # --- aliases: canonical name + 0-3 synonyms (≙ synonym_to_id) ---
    aliases: list[tuple[str, str, bool]] = []
    for kb_id, name, is_root in concepts:
        aliases.append((name, kb_id, False))
        if is_root:
            continue
        toks = name.split(" ")
        n_syn = int(rng.integers(0, 4))
        for s in range(n_syn):
            if s == 0 and len(toks) > 1:
                syn = " ".join(reversed(toks))  # token permutation
            else:
                extra = str(rng.choice(words))
                syn = f"{name} {extra}" if s % 2 else f"{extra} {name}"
            aliases.append((syn, kb_id, True))

    # --- edges: a tree (parent has a smaller index) + ~10% extra edges ---
    edges: list[tuple[str, str]] = []
    for i in range(1, n_concepts):
        parent = int(rng.integers(0, i))
        edges.append((f"KB:{i:04d}", f"KB:{parent:04d}"))
    for _ in range(n_concepts // 10):
        c = int(rng.integers(1, n_concepts))
        p = int(rng.integers(0, n_concepts))
        if p != c:
            edges.append((f"KB:{c:04d}", f"KB:{p:04d}"))

    # --- word-concept inverted index (≙ word_concept.py:48-86):
    # every >=3-char normalized token of every alias -> concept ints ---
    wc: dict[str, set[int]] = {}
    for alias, kb_id, _ in aliases:
        cint = int(kb_id.split(":")[1])
        for tok in norm_form(alias).split(" "):
            if len(tok) >= 3:
                wc.setdefault(tok, set()).add(cint)
    wc_sorted = {w: sorted(cands) for w, cands in wc.items()}
    word2id = {w: i for i, w in enumerate(sorted(wc_sorted))}

    # --- embeddings + scorer weights (F5; dims shrunk 200 -> 16) ---
    wrng = np.random.default_rng(seed + 1)
    word_embeds = l2_normalize(wrng.normal(size=(len(word2id), EMB_DIM)).astype(np.float32))
    cand_embeds = l2_normalize(wrng.normal(size=(n_concepts, EMB_DIM)).astype(np.float32))
    weights = ModelWeights(
        W_a=(wrng.normal(size=(EMB_DIM, EMB_DIM)) * 0.5).astype(np.float32),
        b_a=(wrng.normal(size=(1, EMB_DIM)) * 0.1).astype(np.float32),
        W_c=(wrng.normal(size=(2 * EMB_DIM, EMB_DIM)) * 0.5).astype(np.float32),
        b_c=(wrng.normal(size=(1, EMB_DIM)) * 0.1).astype(np.float32),
        word_embeds=word_embeds,
        cand_embeds=cand_embeds,
    )

    # --- surface forms + gold labels (F4) ---
    srng = np.random.default_rng(seed + 2)
    surface_forms: list[tuple[str, str, str]] = []
    chosen = srng.choice(np.arange(1, n_concepts), size=min(100, n_concepts - 1), replace=False)
    seen_surfaces: set[str] = set()

    def _add(surface: str, kb_id: str, kind: str) -> None:
        if surface and surface not in seen_surfaces:
            seen_surfaces.add(surface)
            surface_forms.append((surface, kb_id, kind))

    for idx in chosen:
        kb_id, name, _ = concepts[int(idx)]
        _add(name, kb_id, "exact")
    # typo variants: 1-char edit in the first token (OOV -> fuzzy fallback path)
    for idx in chosen[:40]:
        kb_id, name, _ = concepts[int(idx)]
        toks = name.split(" ")
        toks[0] = _typo(srng, toks[0])
        _add(" ".join(toks), kb_id, "typo")
    # plural variants (≙ suffix-s probe, REEL/candidates.py:39-41)
    for idx in chosen[40:60]:
        kb_id, name, _ = concepts[int(idx)]
        _add(name + "s", kb_id, "plural")
    # true-NIL forms: share one token with a concept (so they block with it)
    # but add a novel word; gold = that concept's direct ancestor
    # (≙ EvaNIL link-to-ancestor target, src/utils/annotations.py:69-81)
    parent_of = {c: p for c, p in edges[: n_concepts - 1]}
    nil_words = _make_words(srng, 20)
    for j, idx in enumerate(chosen[60:75]):
        kb_id, name, _ = concepts[int(idx)]
        anchor = name.split(" ")[0]
        _add(f"{anchor} {nil_words[j]}", parent_of.get(kb_id, "KB:0000"), "nil")

    surface_forms = surface_forms[:n_surfaces]
    return KBFixture(concepts, aliases, edges, wc_sorted, word2id, weights, surface_forms)
