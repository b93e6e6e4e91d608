"""Run the Spark-vs-DuckDB oracle gate over many generated input sets.

    python tools/oracle_sweep.py --tpch SF001_DIR [--gen-seeds 1-10]
        [--perf-seeds 1-10] [--out DIR] [query ...]

Each input set is one directory under ``--out`` (default
``<tmp>/oracle_sweep``), outside the repo:

- ``gen<seed>``: ``tools/gen_sfdata.py`` documents, embeddings and events
  at sf0.01 size from that seed;
- ``perf<seed>``: the same tables, with ``documents`` replaced by
  ``perfbench/gen.documents(seed, PERF_DOCS, template_share=TEMPLATE_SHARE)``
  (5,000 pages, a quarter of them near-duplicate boilerplate templates);
- in both, the TPC-H tables (region ... lineitem) are symlinks into
  ``--tpch``, the shipped sf0.01 test data directory.

``tools/check_oracle.py`` runs on each set, restricted to the named
queries (all of ``queries()`` when none is named); its output, one line
per query, follows a header line naming the set.  The exit status is
non-zero when any query fails on any set.  Seed ranges are ``a-b`` or
comma lists.
"""

from __future__ import annotations

import argparse
import os
import subprocess
import sys
import tempfile

import pyarrow.parquet as pq

ROOT = os.path.dirname(os.path.dirname(os.path.abspath(__file__)))
sys.path[:0] = [os.path.join(ROOT, "tools"), os.path.join(ROOT, "perfbench")]

import gen  # noqa: E402  (perfbench/gen.py)
import gen_sfdata  # noqa: E402

TPCH = ["region", "nation", "customer", "supplier", "part", "orders", "lineitem"]
SF = 0.01
PERF_DOCS = 5000
TEMPLATE_SHARE = 0.25


def seeds(spec: str) -> list[int]:
    out: list[int] = []
    for part in filter(None, spec.split(",")):
        lo, _, hi = part.partition("-")
        out += range(int(lo), int(hi or lo) + 1)
    return out


def write_set(out: str, seed: int, tpch: str, perf: bool) -> None:
    """One input set in ``out``; ``perf`` swaps in perfbench documents."""
    gen_sfdata.write_tables(SF, seed, out)
    if perf:
        docs = gen.documents(seed, PERF_DOCS, template_share=TEMPLATE_SHARE)
        pq.write_table(docs, f"{out}/documents.parquet", row_group_size=PERF_DOCS)
    for t in TPCH:
        link = f"{out}/{t}.parquet"
        if os.path.lexists(link):
            os.remove(link)
        os.symlink(os.path.abspath(f"{tpch}/{t}.parquet"), link)


def check(name: str, sf_dir: str, queries: list[str]) -> bool:
    """Run check_oracle.py on one set, its output passed straight through."""
    print(f"== {name} ({sf_dir})", flush=True)
    cmd = [sys.executable, os.path.join(ROOT, "tools", "check_oracle.py"), sf_dir, *queries]
    return subprocess.run(cmd, cwd=ROOT).returncode == 0


def main() -> int:
    ap = argparse.ArgumentParser(description=__doc__.split("\n")[0])
    ap.add_argument("queries", nargs="*")
    ap.add_argument("--gen-seeds", default="1-10")
    ap.add_argument("--perf-seeds", default="1-10")
    ap.add_argument("--tpch", required=True, help="shipped sf0.01 test data directory")
    ap.add_argument("--out", default=os.path.join(tempfile.gettempdir(), "oracle_sweep"))
    args = ap.parse_args()

    sets = [(f"gen{s}", s, False) for s in seeds(args.gen_seeds)]
    sets += [(f"perf{s}", s, True) for s in seeds(args.perf_seeds)]
    failed = []
    for name, seed, perf in sets:
        sf_dir = os.path.join(args.out, name)
        write_set(sf_dir, seed, args.tpch, perf)
        if not check(name, sf_dir, args.queries):
            failed.append(name)
    print(f"\n{len(sets) - len(failed)}/{len(sets)} sets OK" + (f"; failed: {', '.join(failed)}" if failed else ""))
    return 1 if failed else 0


if __name__ == "__main__":
    raise SystemExit(main())
