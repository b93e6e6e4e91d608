"""The 60-bit md5 hash every deterministic id, salt and bucket is built on.

``h60(x)`` = the first 15 hex digits of ``md5(x)`` read as an integer,
which fits a signed 64-bit long in every engine.  It is written here once
in each spelling the repo needs, and every site calls one of these:

- :func:`h60` — the Spark column, ``conv(substr(md5(x),1,15),16,10)``;
- :func:`h60_value` — the Python scalar over the utf-8 bytes of a str;
- :data:`H60_SQL` — the DuckDB twin, ``('0x'||substr(md5(x),1,15))``
  cast to bigint.

The three agree bit for bit on the same text, which is what makes salted
blocks, partition buckets, hyperplane constants and the oracle checks
exact across the engines.

:func:`frame_signature` is the Spark-only order-free content signature,
``(count, bit_xor(xxhash64(cols)))`` in one job: the pipeline's batch id,
its compaction check and the connected-components convergence test.
:func:`signature_aggs` are its two aggregates, which a pipeline commit
observes during its write.
"""

from __future__ import annotations

import hashlib

from pyspark.sql import functions as F

H60_SQL = "cast(('0x' || substr(md5({x}), 1, 15)) as bigint)"


def h60(col) -> F.Column:
    """Spark column: the 60-bit md5 hash of the string column ``col``."""
    return F.conv(F.substring(F.md5(col), 1, 15), 16, 10).cast("long")


def h60_value(text: str) -> int:
    """Python twin of :func:`h60` for one string."""
    return int(hashlib.md5(text.encode()).hexdigest()[:15], 16)


def signature_aggs(*cols: str) -> tuple[F.Column, F.Column]:
    """The two aggregates of :func:`frame_signature`, named ``rows`` and
    ``checksum``: for ``df.agg`` or a ``df.observe`` during a write."""
    return (
        F.count("*").alias("rows"),
        F.coalesce(F.bit_xor(F.xxhash64(*cols)), F.lit(0)).alias("checksum"),
    )


def frame_signature(df, *cols: str) -> tuple[int, int]:
    """``(rows, checksum)`` of ``df`` in one job: the row count and the
    bit_xor of ``xxhash64(*cols)`` over the rows (0 for none).  Row order
    and partitioning do not change it; two different row multisets
    collide with probability ~2^-64 at equal count."""
    row = df.agg(*signature_aggs(*cols)).first()
    return int(row["rows"]), int(row["checksum"])
