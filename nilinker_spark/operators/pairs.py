"""S3 — candidate pair generation: within-block self-join over distinct forms.

≙ the reference's per-document candidate-candidate O(n²) loop
(/root/reference/src/REEL/candidates.py:388-417), re-expressed as a
block-key self-join over *distinct normalized forms* so pair count is
vocabulary-bounded, not corpus-bounded.

Skew guard (north rule: "salted hash keys", SURVEY.md §4 item 1): a
stop-word-like token would create a quadratic block (the reference dodges
this only via its fuzzy limit=10, /root/reference/src/REEL/candidates.py:
50-52).  Blocks over ``max_block`` members are SALTED, not silently
truncated:

- members split into ``ceil(n / max_block)`` sub-blocks by a
  deterministic salt, ``h60(norm) mod n_salts`` (the oracle's
  ``block_pairs`` salts with the Python ``h60_value`` — never a
  partitioner-dependent value, so resume/retry reproduce it);
- the lexicographically-first ``n_anchors`` members are REPLICATED into
  every pair's reach by an anchor×members join, so any two sub-blocks
  remain transitively connectable through the anchors (a hot surface
  form still resolves to ONE cluster);
- pair count per hot block is bounded by
  n_sub · C(max_block, 2) + n_anchors · n  — linear in n, not quadratic;
- a metrics DataFrame reports every salted block (key, members, n_salts)
  so nothing is truncated silently.
"""

from __future__ import annotations

from pyspark.sql import DataFrame
from pyspark.sql import functions as F
from pyspark.sql import Window

from nilinker_spark.functions.hashing import h60
from nilinker_spark.operators.corpus import top_k
from nilinker_spark.oracle import MAX_BLOCK_FORMS, N_ANCHORS


def candidate_pairs(
    blocked: DataFrame,
    max_block: int = MAX_BLOCK_FORMS,
    n_anchors: int = N_ANCHORS,
) -> tuple[DataFrame, DataFrame]:
    """(norm, block_key) -> (norm_a, norm_b) candidate MULTISET with
    norm_a < norm_b.

    Returns (pairs, salt_metrics).  The output is NOT pair-distinct
    (ADVICE r4): a form pair sharing several block keys appears once per
    key (~10-30% duplicate rows) — scoring is deterministic per pair and
    the edge set dedups one stage later in CC (see the no-pair-dedup note
    below).  Consumers that COUNT pairs (including the Pipeline's
    checkpointed ``pairs`` stage table) must aggregate over distinct
    (norm_a, norm_b) themselves.  The driver middle's ``pairs`` table
    (oracle.block_pairs, below pipeline.DRIVER_VOCAB_MAX) is
    pair-distinct: the same pair set, without the duplicates."""
    # block sizes via an unbounded window, not groupBy+self-join: one
    # exchange on block_key instead of two plus a join — this sits on the
    # flagship's fixed-latency path (vocabulary-sized, every run).
    # Lazily checkpointed: the (block_key, norm, members) table feeds SIX
    # plan branches (cold/sub-block/anchor x both join sides) and Spark
    # does not reuse the exchange across them (per-branch projections
    # defeat canonicalization — the audited fused plan showed the window
    # sort running 6x).  One materialization of a vocabulary-bounded
    # table replaces five recomputations; lineage truncates like the
    # other middle checkpoints.
    b = blocked.withColumn(
        "members", F.count("*").over(Window.partitionBy("block_key"))
    ).localCheckpoint(eager=False)

    cold = b.filter(F.col("members") <= max_block).select("block_key", "norm")
    hot = b.filter(F.col("members") > max_block).select("block_key", "norm", "members")

    # --- cold blocks: plain within-block self-join -------------------------
    ca = cold.select("block_key", F.col("norm").alias("norm_a"))
    cb = cold.select("block_key", F.col("norm").alias("norm_b"))
    cold_pairs = ca.join(cb, "block_key").filter(F.col("norm_a") < F.col("norm_b"))

    # --- hot blocks: salted sub-blocks + replicated anchors -----------------
    n_salts = F.ceil(F.col("members") / F.lit(max_block)).cast("int")
    salted = hot.withColumn("salt", F.pmod(h60(F.col("norm")), n_salts).cast("int")).withColumn(
        "sub_key", F.concat_ws("#", "block_key", "salt")
    )
    sa = salted.select("sub_key", F.col("norm").alias("norm_a"))
    sb = salted.select("sub_key", F.col("norm").alias("norm_b"))
    sub_pairs = sa.join(sb, "sub_key").filter(F.col("norm_a") < F.col("norm_b"))

    anchors = top_k(hot, "block_key", [F.col("norm")], n_anchors).select(
        "block_key", F.col("norm").alias("anchor")
    )
    anchor_pairs = (
        anchors.join(hot.select("block_key", "norm"), "block_key")
        .filter(F.col("anchor") != F.col("norm"))
        .select(
            F.least("anchor", "norm").alias("norm_a"),
            F.greatest("anchor", "norm").alias("norm_b"),
        )
    )

    # NO pair-level dedup: a (norm_a, norm_b) duplicate (two shared block
    # keys, or an anchor pair repeating a sub-block pair — ~10-30% of
    # rows) just re-scores deterministically to the same value, and the
    # edge set is deduplicated for free one stage later (driver union-find
    # is idempotent; the distributed CC loop's first step is distinct()
    # over the ~16x-smaller THRESHOLDED edge table).  A dropDuplicates
    # here was the single largest shuffle of the vocabulary middle —
    # hash-exchanging every candidate pair to save a fraction of
    # deterministic rescoring is a net loss at any scale.
    pairs = (
        cold_pairs.select("norm_a", "norm_b")
        .unionByName(sub_pairs.select("norm_a", "norm_b"))
        .unionByName(anchor_pairs)
    )
    metrics = hot.select("block_key", "members").distinct().withColumn(
        "n_salts", F.ceil(F.col("members") / F.lit(max_block)).cast("int")
    )
    return pairs, metrics
