"""Write the formatted physical plan of each battery query to a file.

    python tools/plan_dump.py <sf_dir> <out_dir> [query ...]

One file per ``queries()`` entry (or per named query), ``<out_dir>/<name>.txt``,
holding that entry's ``explain("formatted")`` text.  Expression ids, plan
ids, RDD ids and the random part of scratch-directory names change from
run to run, or with the work the session did before, and are masked, so
two dumps of the same code compare equal and a code change that should
not move any plan is checked with

    diff -r <dump_before> <dump_after>

The session is fixed (``local[4]``, 8 shuffle partitions): the partition
count appears in every exchange.  Queries that produce their result while
being built (streaming drains, Pipeline runs) do that work here too.
``tools/explain_audit.py`` (PLANS.md) takes its plans from the same
:func:`plans` loop.
"""

from __future__ import annotations

import os
import re
import sys
import tempfile

sys.path.insert(0, os.path.dirname(os.path.dirname(os.path.abspath(__file__))))

_MASKS = [
    # attribute / expression ids: doc_id#12L -> doc_id#N
    (re.compile(r"#\d+L?\b"), "#N"),
    (re.compile(r"plan_id=\d+"), "plan_id=N"),
    # RDD ids count every RDD the session built before: MapPartitionsRDD[1425]
    (re.compile(r"RDD\[\d+\]"), "RDD[N]"),
    # higher-order-function variables are numbered per session: x_291
    (re.compile(r"(lambda [A-Za-z]+)_\d+"), r"\1_N"),
    # scratch directories of the rows whose result lives on disk
    (re.compile(re.escape(tempfile.gettempdir()) + r"/[^/\s,\]\)]+"), "<tmp>/<scratch>"),
]


def mask(plan: str) -> str:
    for pat, repl in _MASKS:
        plan = pat.sub(repl, plan)
    return plan


def session():
    """The fixed plan-dump session: ``local[4]``, 8 shuffle partitions."""
    from nilinker_spark.config import get_spark

    spark = get_spark(master="local[4]", shuffle_partitions=8)
    spark.sparkContext.setLogLevel("ERROR")
    return spark


def plans(spark, sf_dir: str, names=None):
    """Yield ``(name, df, masked formatted plan)`` for each ``queries()``
    entry, or for each of ``names`` in that order.  Caches a query
    persisted are released once the consumer moves on: they would show
    up as an InMemoryRelation in a later query's plan."""
    # the er_resolve oracle dim reads the sf dir it is pointed at
    os.environ["SPARK_GRAFT_ORACLE_SF_DIR"] = sf_dir

    import __spark_entry__ as entrymod
    from nilinker_spark.operators.corpus import release_caches
    from nilinker_spark.plans import explain_str

    qs = entrymod.queries()
    for name in names or qs:
        try:
            df = qs[name](spark, sf_dir)
            yield name, df, mask(explain_str(df, "formatted"))
        finally:
            release_caches()


def main() -> int:
    if len(sys.argv) < 3:
        print(__doc__)
        return 2
    sf_dir, out_dir, only = sys.argv[1], sys.argv[2], sys.argv[3:]
    import __spark_entry__ as entrymod

    unknown = set(only) - set(entrymod.queries())
    if unknown:
        print(f"unknown queries: {sorted(unknown)}")
        return 2
    spark = session()
    os.makedirs(out_dir, exist_ok=True)
    for name, _, plan in plans(spark, sf_dir, only):
        with open(os.path.join(out_dir, f"{name}.txt"), "w") as fh:
            fh.write(plan.rstrip() + "\n")
        print(name)
    spark.stop()
    return 0


if __name__ == "__main__":
    raise SystemExit(main())
