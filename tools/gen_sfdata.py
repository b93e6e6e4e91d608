"""Generate a statistical twin of the driver's synthetic testdata at a
larger scale factor, for LOCAL performance measurement only.

The driver's round-end bench may run at sf1.0 (BENCH_r05.json records
"sf": 1.0) but only sf{0.001,0.01,0.1} ship under /root/testdata (and are
read-only).  This writes /root/sfgen/sf<SF>/ with the same schemas,
single-file single-row-group parquet (matching the shipped layout — that
layout is load-bearing: one row group means one scan task), and
distributions measured from sf0.1:

- documents: doc_id 0..N-1, text = 10-100 uniform words over the 30-word
  vocab (+ rare 'dup' token, p~0.001), ~0.16% exact duplicate docs,
  lang {en:41%, others ~15%}, source uniform over 20, n_chars=len(text).
- embeddings: vec_id 0..M-1, 64-dim float32 ~N(0, 0.125), label 0..9.
- events: E rows over 30 days, users 10x per sf decade, 5 uniform types.

Row counts per sf decade (measured 0.01 -> 0.1): documents x10,
events x10, embeddings x4, users x10.

``python tools/gen_sfdata.py [SF] [--seed N] [--out DIR]``: ``--out``
replaces that directory and ``--seed`` the default seed 42.

NEVER used by bench.py or any contract query — measurement harness only.
"""

from __future__ import annotations

import argparse
import os
import random

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
SOURCES = [f"src{i}" for i in range(20)]
TYPES = ["signup", "purchase", "view", "click", "error"]


def gen_documents(n: int, rng: random.Random) -> pa.Table:
    texts: list[str] = []
    for i in range(n):
        if i > 0 and rng.random() < 0.0016:
            texts.append(texts[rng.randrange(i)])
            continue
        ln = rng.randint(10, 100)
        words = rng.choices(VOCAB, k=ln)
        for j in range(ln):
            if rng.random() < 0.00094:
                words[j] = "dup"
        texts.append(" ".join(words))
    return pa.table(
        {
            "doc_id": pa.array(range(n), pa.int64()),
            "text": pa.array(texts),
            "lang": pa.array(rng.choices(LANGS, weights=LANG_W, k=n)),
            "source": pa.array([SOURCES[rng.randrange(20)] for _ in range(n)]),
            "n_chars": pa.array([len(t) for t in texts], pa.int64()),
        }
    )


def gen_embeddings(m: int, seed: int) -> pa.Table:
    nprng = np.random.default_rng(seed)
    vecs = (nprng.standard_normal((m, 64)) * 0.125).astype(np.float32)
    return pa.table(
        {
            "vec_id": pa.array(range(m), pa.int64()),
            "embedding": pa.array(list(vecs), pa.list_(pa.float32())),
            "label": pa.array(nprng.integers(0, 10, m), pa.int32()),
        }
    )


def gen_events(e: int, users: int, rng: random.Random) -> pa.Table:
    base = 1704067200_000000  # 2024-01-01 UTC in us
    span = 30 * 86400 * 1_000_000
    ts = sorted(base + int(rng.random() * span) for _ in range(e))
    return pa.table(
        {
            "event_id": pa.array(range(e), pa.int64()),
            "ts": pa.array(ts, pa.timestamp("us")),
            "user_id": pa.array([rng.randrange(users) for _ in range(e)], pa.int64()),
            "event_type": pa.array([TYPES[rng.randrange(5)] for _ in range(e)]),
            "value": pa.array([round(rng.expovariate(1 / 80.0), 2) for _ in range(e)]),
            "props": pa.array(['{"k": %d}' % rng.randrange(100) for _ in range(e)]),
        }
    )


def write_tables(sf: float, seed: int, out: str) -> dict[str, int]:
    """Write documents, embeddings and events at scale factor ``sf`` from
    ``seed`` into ``out``; returns the row count of each table."""
    os.makedirs(out, exist_ok=True)
    rng = random.Random(seed)
    n_docs = int(50_000 * sf)
    # embeddings scale x4 per sf decade (measured 0.01 -> 0.1)
    n_emb = {1.0: 8000, 0.1: 2000, 0.01: 500}.get(sf, max(500, int(8000 * sf)))
    n_events = int(1_000_000 * sf)
    n_users = int(15_000 * sf)
    # one row group per file, like the shipped testdata (load-bearing)
    pq.write_table(gen_documents(n_docs, rng), f"{out}/documents.parquet", row_group_size=max(n_docs, 1))
    pq.write_table(gen_embeddings(n_emb, seed), f"{out}/embeddings.parquet", row_group_size=max(n_emb, 1))
    pq.write_table(gen_events(n_events, n_users, rng), f"{out}/events.parquet", row_group_size=max(n_events, 1))
    return {"documents": n_docs, "embeddings": n_emb, "events": n_events}


def main() -> None:
    ap = argparse.ArgumentParser(description=__doc__.split("\n")[0])
    ap.add_argument("sf", nargs="?", type=float, default=1.0)
    ap.add_argument("--seed", type=int, default=42)
    ap.add_argument("--out", default=None)
    args = ap.parse_args()
    out = args.out or f"/root/sfgen/sf{args.sf:g}"
    rows = write_tables(args.sf, args.seed, out)
    print(f"wrote {out}: " + " ".join(f"{t}={n}" for t, n in rows.items()))


if __name__ == "__main__":
    main()
