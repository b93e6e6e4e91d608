"""Session set-up, the closed loop and the summary statistics."""

from __future__ import annotations

import math
import os
import platform
import statistics
import time
import traceback
from contextlib import contextmanager
from dataclasses import dataclass, field

from procstat import cpu_seconds_by_name, io_bytes

# A percentile is reported only when at least this many samples lie
# beyond it; below that the sample cannot support it.
TAIL_SAMPLES = 10
# the JVM's young generation: collections stay frequent and short, and
# it is fully touched (resident) from the warm pass on
YOUNG_GEN_MB = 256


def nproc() -> int:
    """Cores this process may run on (what ``nproc`` prints)."""
    return len(os.sched_getaffinity(0))


def cpu_model() -> str:
    try:
        with open("/proc/cpuinfo") as fh:
            for line in fh:
                if line.startswith("model name"):
                    return line.split(":", 1)[1].strip()
    except OSError:
        pass
    return platform.processor() or "unknown"


def start_spark(cores: int, work: str, event_log: str | None = None):
    """A local[cores] session through the engine's own ``get_spark``, with
    every file it writes kept under ``work``."""
    from nilinker_spark.config import get_spark

    conf = {
        "spark.ui.showConsoleProgress": "false",
        "spark.sql.warehouse.dir": os.path.join(work, "warehouse"),
        # C1 only: a run is a fresh JVM that lives under a minute, too
        # short for C2 to settle.  With C2 (4-core Xeon VM) the repetitions
        # after the warm pass kept speeding up, the first ones ~30% slower
        # than the fourth, and its compiler threads took cores from the
        # job; with C1 they were level from the first.
        # Serial GC with a fixed young generation: G1's parallel and
        # concurrent GC threads spin when the host takes CPU from this VM,
        # and its adaptive sizing moved the JVM's resident high-water mark
        # by +-30% between runs of one workload.
        "spark.driver.extraJavaOptions": (
            f"-Djava.io.tmpdir={os.path.join(work, 'tmp')} -XX:TieredStopAtLevel=1"
            f" -XX:+UseSerialGC -Xmn{YOUNG_GEN_MB}m"
        ),
    }
    if event_log:
        os.makedirs(event_log, exist_ok=True)
        # Spark 4 compresses event logs with zstd by default, which the
        # standard library cannot read; one plain file per application
        conf.update(
            {
                "spark.eventLog.enabled": "true",
                "spark.eventLog.dir": event_log,
                "spark.eventLog.compress": "false",
                "spark.eventLog.rolling.enabled": "false",
            }
        )
    spark = get_spark(
        master=f"local[{cores}]",
        app_name="perfbench",
        shuffle_partitions=max(cores, 8),
        extra_conf=conf,
    )
    spark.sparkContext.setLogLevel("ERROR")
    return spark


@dataclass
class Sample:
    wall_s: float
    cpu_s: float
    io_mb: float
    extra: dict = field(default_factory=dict)


def closed_loop(
    step, seconds: float, min_reps: int = 1, settle=None
) -> tuple[list[Sample], int]:
    """Run ``step(i, timed)`` for i = 0, 1, ... with one caller, each
    repetition issued after the previous one finished, until ``seconds``
    of wall time have passed and at least ``min_reps`` were issued.

    ``step`` wraps its timed section in ``with timed() as extra:`` and may
    store per-repetition values in ``extra``; work outside that block
    (input preparation, clean-up) is not timed, and ``settle()`` runs
    just before the timer starts.  Returns the samples of the
    repetitions that completed and the number that raised."""
    samples: list[Sample] = []
    failures = 0
    deadline = time.monotonic() + seconds
    i = 0
    while i < min_reps or time.monotonic() < deadline:
        done: list[Sample] = []

        @contextmanager
        def timed():
            extra: dict = {}
            if settle is not None:
                settle()
            c0, io0 = cpu_seconds_by_name(), io_bytes()
            t0 = time.monotonic()
            yield extra
            wall = time.monotonic() - t0
            c1, io1 = cpu_seconds_by_name(), io_bytes()
            extra["cpu_by_process"] = {k: v - c0.get(k, 0) for k, v in c1.items()}
            cpu = sum(c1.values()) - sum(c0.values())
            done.append(Sample(wall, cpu, (io1 - io0) / 1e6, extra))

        try:
            step(i, timed)
        except Exception:  # a failed repetition is counted, not fatal
            traceback.print_exc()
            failures += 1
        else:
            samples.extend(done)
        i += 1
    return samples, failures


def tail_percentile(values: list[float]) -> tuple[str, float] | None:
    """The highest of p90/p99/p99.9 with >= TAIL_SAMPLES samples beyond it,
    as (label, value); None when the sample is too small for any."""
    n = len(values)
    best = None
    for p in (90, 99, 99.9):
        k = max(0, math.ceil(round(p * n / 100, 9)) - 1)  # nearest-rank index
        if n - 1 - k >= TAIL_SAMPLES:
            best = (f"p{p:g}", sorted(values)[k])
    return best


def summarize(samples: list[Sample], key=lambda s: s.wall_s) -> dict:
    vals = [key(s) for s in samples]
    out = {"median": statistics.median(vals), "n": len(vals), "all": vals}
    tail = tail_percentile(vals)
    if tail:
        out[tail[0]] = tail[1]
    return out


def versions() -> dict:
    import pyarrow
    import pyspark

    return {
        "nproc": nproc(),
        "cpu_model": cpu_model(),
        "spark": pyspark.__version__,
        "pyarrow": pyarrow.__version__,
        "python": platform.python_version(),
    }
