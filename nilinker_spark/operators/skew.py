"""Explicit skew handling: key salting (SURVEY.md §4 item 1).

AQE's skew-join splitting is the runtime backstop; these helpers are the
*planned* mitigation for known-Zipf keys (one hot surface form can carry
a double-digit percentage of a web corpus):

- ``salted_count``: two-stage aggregation — groupBy(key, salt) partial,
  then groupBy(key) final — so no single reducer owns a hot key.  (Spark's
  hash aggregate already map-side-combines; the explicit salt matters when
  the per-key state is large or the agg is not combinable, and it
  documents the pattern the pipeline uses for mention-frequency metrics.)
- ``with_salt``: a random-but-deterministic salt from a row hash, the
  salt column ``salted_count`` groups by.
"""

from __future__ import annotations

from pyspark.sql import DataFrame
from pyspark.sql import functions as F


def with_salt(df: DataFrame, cols: list[str], n_salt: int = 16, salt_col: str = "salt") -> DataFrame:
    """Deterministic salt in [0, n_salt) from a row hash (never random():
    resume and retry must reproduce the same salt)."""
    return df.withColumn(salt_col, F.pmod(F.xxhash64(*cols), F.lit(n_salt)).cast("int"))


def salted_count(df: DataFrame, key: str, n_salt: int = 16) -> DataFrame:
    """groupBy(key).count() that never funnels a hot key into one task:
    partial counts per (key, salt), then a tiny final combine per key."""
    salted = with_salt(df, [key], n_salt=n_salt)
    partial = salted.groupBy(key, "salt").agg(F.count("*").alias("c"))
    return partial.groupBy(key).agg(F.sum("c").alias("count"))
