"""Bytes, Spark jobs and tasks of each stage of a checkpointed delta batch.

    python tools/io_by_stage.py [--deltas 3] [--seed 1] [--cores N] [--base-mult M]
                                [--delta-docs N]

Builds the ``er_incremental`` benchmark input (perfbench/gen.py: a base
corpus of 500 English documents per core and deltas of 1/8 of it), runs
``Pipeline.run`` on the base, then ``run_incremental`` on each delta.
During the deltas every ``SnapshotLog.commit`` takes a reading of
``rchar`` + ``wchar`` (``/proc/<pid>/io``) for the three kinds of process
a local-mode job runs in: this Python driver, the JVM, and the Python
daemon and workers the JVM forks (reaped workers count in the daemon).
The bytes between two consecutive commits are charged to the stage table
the second one commits.  So are the Spark jobs run between them, and the
tasks of their stages (``sc.statusTracker()``; each commit starts a new
job group, and a stage that several jobs share counts once, in the first
of them).  It prints one table per delta, MB per stage and kind plus jobs
and tasks and the wall time between the two commits, and their median
over the deltas.

The driver's own ``/proc`` walk for a reading is measured before the
deltas and subtracted from each driver figure.

``--base-mult M`` makes the base M times larger and keeps the delta
size, so runs at 1, 4 and 16 show which stages' per-delta cost follows
the corpus and which the delta.  ``--delta-docs N`` sets the delta size
(default 1/8 of the unmultiplied base, as ``er_incremental``), e.g. to
put the deltas on either side of the document count below which S1
runs on the driver.
"""

from __future__ import annotations

import argparse
import os
import shutil
import statistics
import sys
import tempfile
import time

ROOT = os.path.dirname(os.path.dirname(os.path.abspath(__file__)))
sys.path[:0] = [os.path.join(ROOT, "perfbench"), ROOT]

import gen  # noqa: E402
import procstat  # noqa: E402
from harness import start_spark  # noqa: E402

from nilinker_spark.fixtures.kb import make_kb  # noqa: E402
from nilinker_spark.pipeline import Pipeline  # noqa: E402
from nilinker_spark.snapshots import SnapshotLog  # noqa: E402
from nilinker_spark.sources.webtext import (  # noqa: E402
    gazetteer_from_documents,
    load_table,
    webtext_from_documents,
)

KINDS = ("driver", "jvm", "python_workers")
MB = 1024 * 1024


def _io(pid: int) -> int:
    try:
        with open(f"/proc/{pid}/io") as fh:
            fields = dict(line.split(":", 1) for line in fh)
    except OSError:  # the process exited between listing and reading
        return 0
    return int(fields["rchar"]) + int(fields["wchar"])


def reading() -> dict[str, float]:
    """rchar + wchar per process kind, and the monotonic clock (``s``).
    The driver is read first, so the walk over /proc below lands in its
    next reading."""
    out = {"s": time.monotonic(), "driver": _io(os.getpid()), "jvm": 0, "python_workers": 0}
    for pid in procstat.tree_pids()[1:]:
        try:
            with open(f"/proc/{pid}/comm") as fh:
                name = fh.read().strip()
        except OSError:
            continue
        out["jvm" if name == "java" else "python_workers"] += _io(pid)
    return out


def probe_cost() -> int:
    """Driver bytes of one reading's own /proc walk (median of 5)."""
    costs = []
    for _ in range(5):
        a = reading()["driver"]
        costs.append(reading()["driver"] - a)
    return int(statistics.median(costs))


class CommitReadings:
    """While active, each SnapshotLog.commit appends (table, reading) and
    puts the jobs that follow it in a new job group, ``<tag>-<k>`` for
    the stretch that ends at mark k."""

    def __init__(self, sc, tag: str):
        self.sc, self.tag = sc, tag
        self.marks: list[tuple[str, dict[str, int]]] = []

    def group(self, k: int | None = None) -> str:
        return f"io_by_stage-{self.tag}-{len(self.marks) if k is None else k}"

    def __enter__(self):
        self.real = real = SnapshotLog.commit
        marks = self.marks

        def commit(log, *args, **kwargs):
            try:
                return real(log, *args, **kwargs)
            finally:
                marks.append((os.path.basename(log.table_dir), reading()))
                self.sc.setJobGroup(self.group(), "io_by_stage")

        SnapshotLog.commit = commit
        self.marks.append(("start", reading()))
        self.sc.setJobGroup(self.group(), "io_by_stage")
        return self

    def __exit__(self, *exc):
        SnapshotLog.commit = self.real
        self.marks.append(("(after the last commit)", reading()))
        self.sc.setLocalProperty("spark.jobGroup.id", None)
        return False

    def job_counts(self) -> list[tuple[int, int]]:
        """(jobs, tasks) of each stretch between two marks, once the status
        store has seen every job end (its listener runs behind the driver)."""
        st = self.sc.statusTracker()
        groups = [self.group(k) for k in range(1, len(self.marks))]
        while True:
            jobs = [sorted(st.getJobIdsForGroup(g)) for g in groups]
            infos = [st.getJobInfo(j) for ids in jobs for j in ids]
            if all(i is not None and i.status != "RUNNING" for i in infos):
                break
            time.sleep(0.1)
        seen: set[int] = set()
        out = []
        for ids in jobs:
            tasks = 0
            for j in ids:
                for stage in set(st.getJobInfo(j).stageIds) - seen:
                    seen.add(stage)
                    info = st.getStageInfo(stage)
                    tasks += info.numCompletedTasks if info is not None else 0
            out.append((len(ids), tasks))
        return out


def per_stage(marks, probe: int, counts) -> list[tuple[str, dict[str, float]]]:
    rows = []
    for (_, a), (table, b), (jobs, tasks) in zip(marks, marks[1:], counts):
        d = {k: b[k] - a[k] for k in KINDS}
        d["driver"] = max(0, d["driver"] - probe)
        row = {k: v / MB for k, v in d.items()}
        row.update(wall_s=b["s"] - a["s"], jobs=jobs, tasks=tasks)
        rows.append((table, row))
    return rows


def show(title: str, rows) -> None:
    print(f"\n{title}")
    print(
        f"{'stage':<26}" + "".join(f"{k:>16}" for k in KINDS) + f"{'total':>10}{'wall_s':>8}{'jobs':>7}{'tasks':>7}"
    )

    def line(table: str, row: dict) -> None:
        print(
            f"{table:<26}"
            + "".join(f"{row[k]:>16.2f}" for k in KINDS)
            + f"{sum(row[k] for k in KINDS):>10.2f}{row['wall_s']:>8.2f}{row['jobs']:>7g}{row['tasks']:>7g}"
        )

    sums = dict.fromkeys((*KINDS, "wall_s", "jobs", "tasks"), 0.0)
    for table, row in rows:
        for k in sums:
            sums[k] += row[k]
        line(table, row)
    line("all", sums)


def main() -> None:
    ap = argparse.ArgumentParser(description=__doc__.split("\n\n")[0])
    ap.add_argument("--deltas", type=int, default=3)
    ap.add_argument("--seed", type=int, default=1)
    ap.add_argument("--cores", type=int, default=os.cpu_count() or 4)
    ap.add_argument("--base-mult", type=int, default=1)
    ap.add_argument("--delta-docs", type=int, default=None)
    args = ap.parse_args()

    work = tempfile.mkdtemp(prefix="io_by_stage_")
    try:
        spark = start_spark(args.cores, work)
        n_delta = args.delta_docs or 500 * args.cores // 8
        n_base = 500 * args.cores * args.base_mult

        def webtext(name: str, n: int, first: int):
            path = os.path.join(work, name, "documents.parquet")
            gen.write(gen.documents(args.seed, n, first_id=first, langs=False), path)
            docs = load_table(spark, os.path.join(work, name), "documents")
            return docs, webtext_from_documents(docs).select("url", "html", "lang")

        docs, base = webtext("base", n_base, 0)
        pipe = Pipeline(
            spark, make_kb(seed=42), os.path.join(work, "ckpt"), gazetteer=gazetteer_from_documents(docs)
        )
        pipe.run(base.localCheckpoint(eager=True))
        probe = probe_cost()
        print(f"cores={args.cores} base={n_base} docs delta={n_delta} docs; probe={probe} B/reading")
        tables = []
        for i in range(args.deltas):
            wt = webtext(f"delta{i}", n_delta, n_base + i * n_delta)[1].localCheckpoint(eager=True)
            spark.catalog.clearCache()
            with CommitReadings(spark.sparkContext, f"delta{i}") as cr:
                pipe.run_incremental(wt)
            tables.append(per_stage(cr.marks, probe, cr.job_counts()))
            show(f"delta {i + 1}: MB read + written, Spark jobs and tasks", tables[-1])
        med = [
            (table, {k: statistics.median(t[j][1][k] for t in tables) for k in row})
            for j, (table, row) in enumerate(tables[0])
        ]
        show(f"median of {args.deltas} deltas: MB read + written, Spark jobs and tasks", med)
        spark.stop()
    finally:
        shutil.rmtree(work, ignore_errors=True)


if __name__ == "__main__":
    main()
