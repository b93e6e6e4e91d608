"""String-similarity primitives.

The pipeline keeps similarity **JVM-side** wherever Spark has a native
function (``F.levenshtein``); these pure-Python twins exist so the
oracle computes the identical quantity, and for the fuzzy OOV fallback
(≙ rapidfuzz process.extract at /root/reference/src/utils/utils.py:321-327)
where a deterministic tie-break is required for cluster stability.
"""

from __future__ import annotations


def levenshtein(a: str, b: str) -> int:
    """Classic DP edit distance — same semantics as Spark's F.levenshtein."""
    if a == b:
        return 0
    if not a:
        return len(b)
    if not b:
        return len(a)
    prev = list(range(len(b) + 1))
    for i, ca in enumerate(a, 1):
        cur = [i]
        for j, cb in enumerate(b, 1):
            cur.append(min(prev[j] + 1, cur[j - 1] + 1, prev[j - 1] + (ca != cb)))
        prev = cur
    return prev[-1]


def lev_ratio(a: str, b: str) -> float:
    """1 - lev/max(len) in [0,1]; 1.0 for two empty strings."""
    m = max(len(a), len(b))
    if m == 0:
        return 1.0
    return 1.0 - levenshtein(a, b) / m


def jaro(a: str, b: str) -> float:
    """Jaro similarity in [0,1] — the classic public algorithm (matching
    window = max(len)/2 - 1, transposition count over matched chars)."""
    if a == b:
        return 1.0
    la, lb = len(a), len(b)
    if not la or not lb:
        return 0.0
    window = max(la, lb) // 2 - 1
    if window < 0:
        window = 0
    match_a = [False] * la
    match_b = [False] * lb
    m = 0
    for i, ca in enumerate(a):
        lo = max(0, i - window)
        hi = min(lb, i + window + 1)
        for j in range(lo, hi):
            if not match_b[j] and b[j] == ca:
                match_a[i] = match_b[j] = True
                m += 1
                break
    if m == 0:
        return 0.0
    t = 0
    k = 0
    for i in range(la):
        if match_a[i]:
            while not match_b[k]:
                k += 1
            if a[i] != b[k]:
                t += 1
            k += 1
    t //= 2
    return (m / la + m / lb + (m - t) / m) / 3.0


def jaro_winkler(a: str, b: str, p: float = 0.1, max_prefix: int = 4) -> float:
    """Jaro-Winkler: Jaro boosted by the common prefix (<= ``max_prefix``).

    The second string feature of the scoring blend (north_star:
    "Jaro-Winkler/Levenshtein string features"; reference's fuzzy family
    = rapidfuzz/jellyfish, requirements.txt:4-5).  Pure Python on BOTH
    sides (pipeline pandas UDF + oracle), so parity is by construction.
    """
    j = jaro(a, b)
    l = 0
    for ca, cb in zip(a, b):
        if ca != cb or l >= max_prefix:
            break
        l += 1
    return j + l * p * (1.0 - j)


def token_sort_ratio(a: str, b: str) -> float:
    """rapidfuzz-style token_sort_ratio in [0,1]: sort tokens, join, ratio.

    ≙ scorer used for the reference's fuzzy candidate joins
    (/root/reference/src/utils/utils.py:322-325).
    """
    sa = " ".join(sorted(a.split()))
    sb = " ".join(sorted(b.split()))
    return lev_ratio(sa, sb)


def fuzzy_best_match(word: str, vocab: list[str]) -> str:
    """Deterministic nearest vocab word for an OOV token.

    Tie-break: (score desc, word asc) — required so cluster output is
    identical under any partitioning (SURVEY.md §4 item 3).  ``vocab``
    must be pre-sorted ascending by the caller for the tie-break to be
    order-free.
    """
    best_word = ""
    best_score = -1.0
    for w in vocab:  # vocab sorted asc → first max wins ties
        s = token_sort_ratio(word, w)
        if s > best_score:
            best_score = s
            best_word = w
    return best_word


# per-process fuzzy-resolution memo, keyed by KB vocab fingerprint:
# {kb_fingerprint: {token: word_id}}.  fuzzy_best_match is a pure function
# of (token, vocab), so entries are valid for exactly one vocab — scoping
# by fingerprint keeps two pipelines with different KBs in one long-lived
# worker from poisoning each other.
_FUZZY_CACHE: dict[str, dict[str, int]] = {}


def word_id_resolver(
    w2i: dict[str, int], vocab: list[str], fingerprint: str, pre: dict[str, int] | None = None
):
    """token -> word id, the one word-id rule of the driver and the Spark
    workers: the exact vocab hit, else the pre-resolved ``pre`` map, else
    :func:`fuzzy_best_match` over the sorted ``vocab``, memoized in this
    process's :data:`_FUZZY_CACHE` under the KB ``fingerprint``.  A UDF
    must call this module-level function inside its task (so the memo is
    the worker module's own dict), never capture the memo itself."""
    memo = _FUZZY_CACHE.setdefault(fingerprint, {})
    pre = pre or {}

    def wid(tok: str) -> int:
        hit = w2i.get(tok)
        if hit is None:
            hit = pre.get(tok)
        if hit is None:
            hit = memo.get(tok)
            if hit is None:
                hit = memo[tok] = w2i[fuzzy_best_match(tok, vocab)]
        return hit

    return wid


def jaro_winkler_batch(a_list, b_list, p: float = 0.1, max_prefix: int = 4):
    """Vectorized Jaro-Winkler over two string sequences -> float64 ndarray.

    Bit-for-bit identical to the scalar :func:`jaro_winkler` (property-
    tested): the greedy match loop runs over character POSITIONS (padded
    max length, ~tens for entity forms) with all pairs advanced per step
    in numpy — O(La*Lb) boolean work per pair like the scalar, but the
    batch axis is C-speed.  This is the scoring UDF's hot path; the
    scalar twin remains the oracle's.
    """
    import numpy as np

    n = len(a_list)
    out = np.zeros(n, dtype=np.float64)
    if n == 0:
        return out

    def _mat(strs, lens, width):
        # one flat utf-32 encode for the whole batch, scattered into the
        # padded matrix in row-major order (mask assignment order ==
        # concatenation order).  Codepoints are stored OFFSET BY +1 so 0
        # uniquely means padding: U+0000 in a real string must still count
        # toward the common-prefix bonus (ADVICE r3 — the un-offset matrix
        # treated NUL chars as pads, shortening the prefix vs the scalar).
        m = np.zeros((len(strs), width), dtype=np.uint32)
        flat = np.frombuffer("".join(strs).encode("utf-32-le"), dtype=np.uint32)
        mask = np.arange(width, dtype=np.int64)[None, :] < lens[:, None]
        m[mask] = flat + 1
        return m

    la = np.fromiter((len(s) for s in a_list), dtype=np.int64, count=n)
    lb = np.fromiter((len(s) for s in b_list), dtype=np.int64, count=n)
    eq = np.fromiter((x == y for x, y in zip(a_list, b_list)), dtype=bool, count=n)
    out[eq] = 1.0
    live = ~eq & (la > 0) & (lb > 0)
    if not live.any():
        return out
    idx = np.nonzero(live)[0]
    la_, lb_ = la[idx], lb[idx]
    # rows sorted by len(a) DESC: at loop step i only the first k_i rows
    # still have an i-th character, so every mask shrinks as i grows —
    # total boolean work tracks sum(la*lb), not n*max(la)*max(lb)
    order = np.argsort(-la_, kind="stable")
    idx, la_, lb_ = idx[order], la_[order], lb_[order]
    A = [a_list[i] for i in idx]
    B = [b_list[i] for i in idx]
    wa, wb = int(la_.max()), int(lb_.max())
    am, bm = _mat(A, la_, wa), _mat(B, lb_, wb)

    window = np.maximum(np.maximum(la_, lb_) // 2 - 1, 0)
    match_a = np.zeros_like(am, dtype=bool)
    match_b = np.zeros_like(bm, dtype=bool)
    cols_b = np.arange(wb, dtype=np.int64)
    valid_b = cols_b[None, :] < lb_[:, None]
    la_asc = np.sort(la_)
    for i in range(wa):
        k = len(la_) - np.searchsorted(la_asc, i, side="right")  # rows with la > i
        if k == 0:
            break
        # |col - i| <= window fuses the lo/hi bounds into one comparison
        elig = (
            (bm[:k] == am[:k, i : i + 1])
            & ~match_b[:k]
            & (np.abs(cols_b - i) <= window[:k, None])
            & valid_b[:k]
        )
        any_row = elig.any(axis=1)
        j_star = elig.argmax(axis=1)
        r = np.nonzero(any_row)[0]
        match_b[r, j_star[r]] = True
        match_a[r, i] = True

    m = match_a.sum(axis=1).astype(np.int64)
    # compact matched chars left, order preserved (stable sort on ~match)
    oa = np.argsort(~match_a, axis=1, kind="stable")
    ob = np.argsort(~match_b, axis=1, kind="stable")
    seq_a = np.take_along_axis(am, oa, axis=1)
    seq_b = np.take_along_axis(bm, ob, axis=1)
    w = min(wa, wb)
    colmask = np.arange(w, dtype=np.int64)[None, :] < m[:, None]
    t = (((seq_a[:, :w] != seq_b[:, :w]) & colmask).sum(axis=1).astype(np.int64)) // 2

    safe_m = np.where(m > 0, m, 1)
    j = np.where(
        m > 0,
        (m / la_ + m / lb_ + (m - t) / safe_m) / 3.0,
        0.0,
    )
    # common-prefix length (<= max_prefix), pads excluded
    k = min(max_prefix, wa, wb)
    if k > 0:
        pre_eq = (am[:, :k] == bm[:, :k]) & (am[:, :k] != 0) & (bm[:, :k] != 0)
        l = np.cumprod(pre_eq, axis=1).sum(axis=1).astype(np.int64)
    else:
        l = np.zeros(len(idx), dtype=np.int64)
    out[idx] = j + l * p * (1.0 - j)
    return out
