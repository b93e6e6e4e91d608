"""NILINKER-style two-tower attention forward pass, in numpy float32.

Re-derives the model math of the reference
(/root/reference/src/NILINKER/nilinker.py:80-153):

    h        = tanh(word_embed @ W_a + b_a)          (attention projection)
    att      = softmax(cand_embeds_opposite @ h)      (cross attention: the
               left word attends over the *right* word's candidate block
               and vice versa, nilinker.py:80-110)
    agg      = att @ cand_embeds_opposite             (weighted sum)
    phrase   = tanh([w_l + w_r ; agg_l + agg_r] @ W_c + b_c)
               (PhraseVec.call, nilinker.py:126-140)

The reference then multiplies ``phrase`` against *all* concept embeddings
to rank KB candidates.  The graft scores **mention pairs**, so the phrase
vector itself is the mention representation: pair score =
cosine(phrase_a, phrase_b), blended with string features downstream.

Everything is float32 and batch-vectorized: one call handles B mentions
with ragged candidate blocks (padded + masked), which is exactly the
shape an Arrow record batch hands the pandas UDF.  The same function runs
in the single-process oracle — parity is exact, not approximate.

Each row's vector is a function of that row alone, bit for bit: the
projections go through :func:`_rows_matmul`, not BLAS, whose float32
sgemm rounds a row differently with its position in the batch and the
batch's size.  So a form gets the same vector in any Arrow batch, on
any partitioning, and on the driver.
"""

from __future__ import annotations

import numpy as np

F32 = np.float32


class ModelWeights:
    """Container for the scorer fixture (≙ best.h5, predict_nilinker.py:27-33)."""

    __slots__ = ("W_a", "b_a", "W_c", "b_c", "word_embeds", "cand_embeds", "dim")

    def __init__(
        self,
        W_a: np.ndarray,
        b_a: np.ndarray,
        W_c: np.ndarray,
        b_c: np.ndarray,
        word_embeds: np.ndarray,
        cand_embeds: np.ndarray,
    ) -> None:
        self.W_a = W_a.astype(F32)
        self.b_a = b_a.astype(F32)
        self.W_c = W_c.astype(F32)
        self.b_c = b_c.astype(F32)
        self.word_embeds = word_embeds.astype(F32)
        self.cand_embeds = cand_embeds.astype(F32)
        self.dim = word_embeds.shape[1]

    def to_npz_dict(self) -> dict[str, np.ndarray]:
        return {
            "W_a": self.W_a,
            "b_a": self.b_a,
            "W_c": self.W_c,
            "b_c": self.b_c,
            "word_embeds": self.word_embeds,
            "cand_embeds": self.cand_embeds,
        }

    @classmethod
    def from_npz(cls, path: str) -> "ModelWeights":
        z = np.load(path)
        return cls(z["W_a"], z["b_a"], z["W_c"], z["b_c"], z["word_embeds"], z["cand_embeds"])


def l2_normalize(mat: np.ndarray) -> np.ndarray:
    """Row-wise L2 normalization (≙ src/utils/utils.py:143-144,177-178)."""
    mat = mat.astype(F32)
    norms = np.sqrt((mat * mat).sum(axis=1, keepdims=True))
    norms = np.where(norms == 0, F32(1.0), norms).astype(F32)
    return (mat / norms).astype(F32)


def _rows_matmul(x: np.ndarray, m: np.ndarray) -> np.ndarray:
    """``x @ m`` for x [B, D], m [D, E], summed over D in a fixed order
    with elementwise ops only — every output row is independent of the
    other rows (see the module docstring)."""
    out = x[:, 0:1] * m[0]
    for d in range(1, m.shape[0]):
        out = out + x[:, d : d + 1] * m[d]
    return out.astype(F32)


def _masked_softmax(scores: np.ndarray, mask: np.ndarray) -> np.ndarray:
    """Softmax over axis 1 with a 0/1 mask; all-masked rows → zeros."""
    scores = np.where(mask, scores, F32(-1e9))
    scores = scores - scores.max(axis=1, keepdims=True)
    e = np.exp(scores, dtype=F32) * mask
    denom = e.sum(axis=1, keepdims=True)
    denom = np.where(denom == 0, F32(1.0), denom)
    return (e / denom).astype(F32)


def _attend(
    word_vecs: np.ndarray,  # [B, D] embeddings of the attending word
    cand_mat: np.ndarray,  # [B, K, D] padded candidate embeddings (opposite word)
    cand_mask: np.ndarray,  # [B, K] 1.0 where a real candidate
    w: "ModelWeights",
) -> np.ndarray:
    """Batched cross-attention aggregate (≙ determine_attention, nilinker.py:80-110)."""
    h = np.tanh(_rows_matmul(word_vecs, w.W_a) + w.b_a).astype(F32)  # [B, D]
    scores = np.einsum("bkd,bd->bk", cand_mat, h).astype(F32)  # [B, K]
    att = _masked_softmax(scores, cand_mask)  # [B, K]
    return np.einsum("bk,bkd->bd", att, cand_mat).astype(F32)  # [B, D]


def phrase_vectors(
    wl_ids: np.ndarray,  # [B] int word ids, left token
    wr_ids: np.ndarray,  # [B] int word ids, right token
    cand_l: np.ndarray,  # [B, K] int candidate ids for the left token (-1 pad)
    cand_r: np.ndarray,  # [B, K] int candidate ids for the right token (-1 pad)
    w: ModelWeights,
) -> np.ndarray:
    """Batch of L2-normalized phrase vectors, one per mention.

    ≙ the eager per-entity loop at nilinker.py:196 — vectorized across the
    Arrow batch instead of batch-size-1 TF calls (SURVEY.md §4).
    """
    wl = w.word_embeds[wl_ids]  # [B, D]
    wr = w.word_embeds[wr_ids]

    mask_l = (cand_l >= 0).astype(F32)
    mask_r = (cand_r >= 0).astype(F32)
    safe_l = np.where(cand_l >= 0, cand_l, 0)
    safe_r = np.where(cand_r >= 0, cand_r, 0)
    cl = w.cand_embeds[safe_l] * mask_l[..., None]  # [B, K, D]
    cr = w.cand_embeds[safe_r] * mask_r[..., None]

    # cross attention: left word attends over right word's candidates & v.v.
    agg_l = _attend(wl, cr, mask_r, w)
    agg_r = _attend(wr, cl, mask_l, w)

    concat = np.concatenate([wl + wr, agg_l + agg_r], axis=1).astype(F32)  # [B, 2D]
    phrase = np.tanh(_rows_matmul(concat, w.W_c) + w.b_c).astype(F32)  # [B, D]
    return l2_normalize(phrase)
