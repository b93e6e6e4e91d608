from __future__ import annotations

import pytest

from nilinker_spark.config import get_spark
from nilinker_spark.fixtures.kb import make_kb
from nilinker_spark.fixtures.webtext import make_webtext


@pytest.fixture(scope="session")
def spark():
    s = get_spark(master="local[4]", app_name="nilinker_spark_tests", shuffle_partitions=8)
    yield s
    s.stop()


@pytest.fixture(scope="session")
def kb():
    return make_kb(seed=42)


@pytest.fixture(scope="session")
def webtext_rows(kb):
    return make_webtext(kb, seed=42, n_rows=400)


@pytest.fixture(scope="session")
def webtext_frame(spark):
    """rows -> webtext DataFrame (url, warc_ts, html, text, lang)."""
    from nilinker_spark.sources.webtext import WEBTEXT_SCHEMA

    return lambda rows: spark.createDataFrame(list(rows), WEBTEXT_SCHEMA)


@pytest.fixture(scope="session")
def webtext_df(webtext_frame, webtext_rows):
    return webtext_frame(webtext_rows).cache()


@pytest.fixture
def crash_commit():
    """Crash injection at the one commit mechanism: ``with
    crash_commit(n=k):`` makes the k-th ``SnapshotLog.commit`` (counting
    only commits to the stage table ``table``, if given) raise
    RuntimeError("simulated crash ...") — right after the manifest is
    published, or with ``publish=False`` in its place, so the stage's
    files are written but never committed."""
    import os
    from contextlib import contextmanager

    from nilinker_spark.snapshots import SnapshotLog

    @contextmanager
    def crash(n: int = 1, table: str | None = None, publish: bool = True):
        real = SnapshotLog.commit
        seen = {"n": 0}

        def commit(log, *args, **kwargs):
            if table is None or os.path.basename(log.table_dir) == table:
                seen["n"] += 1
                if seen["n"] == n:
                    if publish:
                        real(log, *args, **kwargs)
                    raise RuntimeError(f"simulated crash at commit {n} of {log.table_dir}")
            return real(log, *args, **kwargs)

        SnapshotLog.commit = commit
        try:
            yield
        finally:
            SnapshotLog.commit = real

    return crash
