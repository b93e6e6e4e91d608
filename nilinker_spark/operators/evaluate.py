"""Evaluation operators: micro/macro precision-recall-F1 and accuracy.

≙ the reference's evaluation protocols: tp/fp/fn accumulators
(/root/reference/evaluation_evanil.py:95-135,
/root/reference/src/evanil/evaluation.py:11-19) and REEL's accuracy stats
(/root/reference/src/REEL/utils.py:52-99) — expressed as aggregations
over a judgments DataFrame instead of Python counters.
"""

from __future__ import annotations

from pyspark.sql import DataFrame
from pyspark.sql import functions as F

from nilinker_spark.functions.rounding import round_double


def micro_prf(judgments: DataFrame, pred: str = "pred", gold: str = "gold") -> DataFrame:
    """One-row (tp, fp, fn, precision, recall, f1) micro-averaged over all
    (pred, gold) label pairs: a prediction is tp when it equals gold."""
    j = judgments.select(
        F.when(F.col(pred) == F.col(gold), 1).otherwise(0).alias("is_tp")
    )
    agg = j.agg(
        F.sum("is_tp").alias("tp"),
        F.sum(1 - F.col("is_tp")).alias("fp"),
        F.sum(1 - F.col("is_tp")).alias("fn"),
    )
    return agg.select(
        "tp",
        "fp",
        "fn",
        round_double(F.col("tp") / (F.col("tp") + F.col("fp")), 6).alias("precision"),
        round_double(F.col("tp") / (F.col("tp") + F.col("fn")), 6).alias("recall"),
        round_double(
            2 * F.col("tp") / (2 * F.col("tp") + F.col("fp") + F.col("fn")), 6
        ).alias("f1"),
    )


def per_class_prf(judgments: DataFrame, pred: str = "pred", gold: str = "gold") -> DataFrame:
    """(label, tp, fp, fn, precision, recall, f1) per gold label — the rows
    a macro average is taken over (≙ per-KB accuracy rows in the REEL
    stats files, ppr_for_ned_all.java:183-191)."""
    tp = (
        judgments.filter(F.col(pred) == F.col(gold))
        .groupBy(F.col(gold).alias("label"))
        .agg(F.count("*").alias("tp"))
    )
    fp = (
        judgments.filter(F.col(pred) != F.col(gold))
        .groupBy(F.col(pred).alias("label"))
        .agg(F.count("*").alias("fp"))
    )
    fn = (
        judgments.filter(F.col(pred) != F.col(gold))
        .groupBy(F.col(gold).alias("label"))
        .agg(F.count("*").alias("fn"))
    )
    base = tp.join(fp, "label", "full").join(fn, "label", "full").select(
        "label",
        F.coalesce("tp", F.lit(0)).alias("tp"),
        F.coalesce("fp", F.lit(0)).alias("fp"),
        F.coalesce("fn", F.lit(0)).alias("fn"),
    )
    p = F.when(F.col("tp") + F.col("fp") > 0, F.col("tp") / (F.col("tp") + F.col("fp"))).otherwise(0.0)
    r = F.when(F.col("tp") + F.col("fn") > 0, F.col("tp") / (F.col("tp") + F.col("fn"))).otherwise(0.0)
    return base.select(
        "label",
        "tp",
        "fp",
        "fn",
        round_double(p, 6).alias("precision"),
        round_double(r, 6).alias("recall"),
        round_double(F.when(p + r > 0, 2 * p * r / (p + r)).otherwise(0.0), 6).alias("f1"),
    )


def pairwise_f1(pred_clusters: DataFrame, gold_pairs: DataFrame) -> DataFrame:
    """The north-rule gate as an operator: given (item, cluster_id)
    predictions and labeled pairs (a, b, is_match), compute pairwise
    precision/recall/F1 on those pairs."""
    pa = pred_clusters.select(F.col("item").alias("a"), F.col("cluster_id").alias("ca"))
    pb = pred_clusters.select(F.col("item").alias("b"), F.col("cluster_id").alias("cb"))
    judged = (
        gold_pairs.join(pa, "a")
        .join(pb, "b")
        .select(
            (F.col("ca") == F.col("cb")).alias("pred_match"),
            F.col("is_match").alias("gold_match"),
        )
    )
    agg = judged.agg(
        F.sum(F.when(F.col("pred_match") & F.col("gold_match"), 1).otherwise(0)).alias("tp"),
        F.sum(F.when(F.col("pred_match") & ~F.col("gold_match"), 1).otherwise(0)).alias("fp"),
        F.sum(F.when(~F.col("pred_match") & F.col("gold_match"), 1).otherwise(0)).alias("fn"),
    )
    p = F.when(F.col("tp") + F.col("fp") > 0, F.col("tp") / (F.col("tp") + F.col("fp"))).otherwise(F.lit(1.0))
    r = F.when(F.col("tp") + F.col("fn") > 0, F.col("tp") / (F.col("tp") + F.col("fn"))).otherwise(F.lit(1.0))
    return agg.select(
        "tp", "fp", "fn",
        round_double(p, 6).alias("precision"),
        round_double(r, 6).alias("recall"),
        round_double(F.when(p + r > 0, 2 * p * r / (p + r)).otherwise(0.0), 6).alias("f1"),
    )
