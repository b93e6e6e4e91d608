"""Candidate-generation IR + training-example builder + eval protocol.

The remaining NILINKER/REEL dataflow shapes (SURVEY.md §1.1 #7/#8, §2.8):

- ``training_examples``: entity string -> the 5-int training row
  ``[wc_l, wc_r, emb_l, emb_r, label]``
  (≙ /root/reference/src/utils/annotations.py:17-83) — tokenization and
  two-phase word-id resolution done relationally + the fuzzy UDF.
- ``candidates_ir``: the REEL candidates-file content as a DataFrame
  (≙ write_candidates_file, /root/reference/src/REEL/candidates.py:348-424):
  per (doc, mention) the candidate list with in/out degree and the links
  column — an edge list from a within-doc relatedness self-join
  (candidates.py:388-417) — with no file round-trip.
- ``filter_top_pred``: the EvaNIL eval protocol (drop predictions equal
  to the held-out true concept, first remaining is the answer,
  ≙ /root/reference/evaluation_evanil.py:19-36) as array ops.
"""

from __future__ import annotations

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F

from nilinker_spark.fixtures.kb import KBFixture
from nilinker_spark.operators.blocking import _tokens_lr, resolve_tokens


def training_examples(
    spark: SparkSession, labeled: DataFrame, kb: KBFixture
) -> DataFrame:
    """labeled(entity string, label_kb_id string) ->
    (entity, wc_l, wc_r, emb_l, emb_r, label).

    In this engine the WC vocab and embedding vocab share ids (one
    fixture), so wc/emb ids coincide — both columns are kept to preserve
    the reference's 5-int row shape (utils/annotations.py:17-27)."""
    forms = labeled.select(F.col("entity").alias("norm"), "label_kb_id")
    token_map = resolve_tokens(spark, forms.select("norm"), kb)
    tl_map = token_map.select(F.col("token").alias("tl"), F.col("word_id").alias("wc_l"))
    tr_map = token_map.select(F.col("token").alias("tr"), F.col("word_id").alias("wc_r"))
    label_col = F.regexp_extract("label_kb_id", "([0-9]+)$", 1).cast("int")
    return (
        _tokens_lr(forms)
        .join(F.broadcast(tl_map), "tl")
        .join(F.broadcast(tr_map), "tr")
        .select(
            F.col("norm").alias("entity"),
            "wc_l",
            "wc_r",
            F.col("wc_l").alias("emb_l"),
            F.col("wc_r").alias("emb_r"),
            label_col.alias("label"),
        )
    )


def candidates_ir(
    mentions: DataFrame,  # (doc_id, mention, kb_id)
    edges: DataFrame,  # (child_id, parent_id) KB is-a edges
) -> DataFrame:
    """(doc_id, mention, kb_id, in_count, out_count, links array<string>).

    links = other candidates of the SAME document related through a KB
    edge in either direction (≙ check_if_related,
    /root/reference/src/REEL/candidates.py:275-345, memoized per doc there
    — free here: the self-join computes each pair once).
    """
    sym = edges.select(
        F.col("child_id").alias("src"), F.col("parent_id").alias("dst")
    ).unionByName(
        edges.select(F.col("parent_id").alias("src"), F.col("child_id").alias("dst"))
    ).distinct()

    in_deg = edges.groupBy(F.col("parent_id").alias("kb_id")).agg(F.count("*").alias("in_count"))
    out_deg = edges.groupBy(F.col("child_id").alias("kb_id")).agg(F.count("*").alias("out_count"))

    a = mentions.select("doc_id", F.col("mention").alias("mention_a"), F.col("kb_id").alias("ka"))
    b = mentions.select("doc_id", F.col("mention").alias("mention_b"), F.col("kb_id").alias("kb"))
    related = (
        a.join(b, "doc_id")
        .filter(F.col("mention_a") != F.col("mention_b"))
        .join(F.broadcast(sym), (F.col("ka") == F.col("src")) & (F.col("kb") == F.col("dst")))
        .groupBy("doc_id", F.col("mention_a").alias("mention"))
        .agg(F.sort_array(F.collect_set("kb")).alias("links"))
    )
    return (
        mentions.join(F.broadcast(in_deg), "kb_id", "left")
        .join(F.broadcast(out_deg), "kb_id", "left")
        .join(related, ["doc_id", "mention"], "left")
        .select(
            "doc_id",
            "mention",
            "kb_id",
            F.coalesce("in_count", F.lit(0)).alias("in_count"),
            F.coalesce("out_count", F.lit(0)).alias("out_count"),
            F.coalesce("links", F.array().cast("array<string>")).alias("links"),
        )
    )


def filter_top_pred(preds: DataFrame) -> DataFrame:
    """preds(query_id, ranked array<string>, true_id, gold_id) ->
    (query_id, answer, is_correct): drop the held-out true concept from
    the ranking, take the first remaining, judge vs the gold (direct
    ancestor in EvaNIL; ≙ evaluation_evanil.py:19-36)."""
    remaining = F.array_remove(F.col("ranked"), F.col("true_id"))
    answer = F.try_element_at(remaining, F.lit(1))
    return preds.select(
        "query_id",
        answer.alias("answer"),
        (answer == F.col("gold_id")).alias("is_correct"),
    )
