"""Round-6 measurement harness (guide §1): times battery queries with the
same methodology as bench.py (fresh local[N] session, python-worker warm,
untimed er_resolve warm pass, best-of-K `.count()`), but pointable at any
SF dir (including the tools/gen_sfdata.py twins) and restrictable to a query
subset.
Plans come from tools/plan_dump.py.

bench.py itself is FROZEN for driver measurement; this file exists so the
optimization loop can isolate queries without touching it.

Usage:
  python bench_extra.py [--sf DIR] [--reps K] [--cpus N] [q ...]

``--cpus`` defaults to $SPARK_GRAFT_CPUS, else the host's core count.
"""

from __future__ import annotations

import argparse
import json
import os
import sys
import time

sys.path.insert(0, os.path.dirname(os.path.abspath(__file__)))

HEADLINE = [
    "er_resolve",
    "mention_dedup",
    "dedup_minhash_lsh",
    "dedup_ngram_jaccard",
    "dedup_simhash",
    "ann_topk",
    "text_quality",
    "fingerprint",
    "windowed_agg",
    "sessionization",
    "decontaminate",
    "importance_resample",
    "pack_sequences",
]


def main() -> None:
    ap = argparse.ArgumentParser()
    ap.add_argument("--sf", default=os.environ.get("SPARK_GRAFT_SF_DIR", "/root/testdata/sf0.1"))
    ap.add_argument("--reps", type=int, default=2)
    ap.add_argument(
        "--cpus", type=int, default=int(os.environ.get("SPARK_GRAFT_CPUS") or os.cpu_count() or 1)
    )
    ap.add_argument("--no-warm", action="store_true")
    ap.add_argument("queries", nargs="*", default=None)
    args = ap.parse_args()
    names = args.queries or HEADLINE

    import __spark_entry__ as entrymod

    from nilinker_spark.config import get_spark
    from pyspark.sql import SparkSession

    active = SparkSession.getActiveSession()
    if active is not None:
        active.stop()
    spark = get_spark(
        master=f"local[{args.cpus}]", app_name="bench_extra", shuffle_partitions=args.cpus
    )

    def _warm(batches):
        import nilinker_spark.functions.model  # noqa: F401
        import nilinker_spark.oracle  # noqa: F401

        yield from batches

    spark.range(spark.sparkContext.defaultParallelism * 4).repartition(
        spark.sparkContext.defaultParallelism
    ).mapInPandas(_warm, "id long").count()

    qs = entrymod.queries()
    if not args.no_warm:
        qs["er_resolve"](spark, "/root/testdata/sf0.001").count()
        spark.catalog.clearCache()

    timings: dict[str, float] = {}
    for name in names:
        spark.sparkContext.setJobDescription(f"bench_extra: {name}")
        best = float("inf")
        for _ in range(args.reps):
            t0 = time.monotonic()
            qs[name](spark, args.sf).count()
            best = min(best, time.monotonic() - t0)
            spark.catalog.clearCache()
        timings[name] = round(best, 3)
        print(f"  {name}: {timings[name]}", file=sys.stderr)
    spark.sparkContext.setJobDescription(None)

    print(json.dumps({"sf_dir": args.sf, "total": round(sum(timings.values()), 3), "queries": timings}))
    spark.stop()


if __name__ == "__main__":
    main()
