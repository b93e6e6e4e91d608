"""Graph operators beyond connected components (SURVEY.md §2.9).

- ``degrees``: in/out degree lookup (≙ kb_graph.in_degree/out_degree,
  /root/reference/src/REEL/candidates.py:200-201) — a groupBy, no graph
  library.
- ``bfs_depths``: shortest-path depth from a root over an edge DataFrame
  (≙ nx.shortest_path_length to the ontology root,
  /root/reference/src/analysis/ancestors.py:65-72) — iterative frontier
  joins with localCheckpoint per level, the standard DataFrame BFS.
- ``single_parent``: nodes with exactly one parent (≙ the child_to_parent
  predicate, /root/reference/src/utils/kbs.py:84-90) — also the corpora
  readers' broadcastable single-parent dim over KB edges.
"""

from __future__ import annotations

from pyspark.sql import DataFrame
from pyspark.sql import functions as F

from nilinker_spark.config import local_frame


def degrees(edges: DataFrame) -> DataFrame:
    """edges(src, dst) -> (node, out_degree, in_degree)."""
    out_d = edges.groupBy(F.col("src").alias("node")).agg(F.count("*").alias("out_degree"))
    in_d = edges.groupBy(F.col("dst").alias("node")).agg(F.count("*").alias("in_degree"))
    return (
        out_d.join(in_d, "node", "full")
        .select(
            "node",
            F.coalesce("out_degree", F.lit(0)).alias("out_degree"),
            F.coalesce("in_degree", F.lit(0)).alias("in_degree"),
        )
    )


def single_parent(edges: DataFrame) -> DataFrame:
    """The edges whose child has exactly one parent edge.  ``edges`` is
    (child, parent) by position — ``(src, dst)`` graph edges or
    ``(child_id, parent_id)`` KB edges — and the result keeps its names."""
    child, parent = edges.columns[:2]
    counts = edges.groupBy(child).agg(F.count("*").alias("n"))
    only = counts.filter(F.col("n") == 1).select(child)
    return edges.join(only, child).select(child, parent)


def bfs_depths(edges: DataFrame, root: str, max_depth: int = 20) -> DataFrame:
    """(node, depth) for every node reachable from ``root`` following
    src->dst edges upward-agnostically (treat edges as directed src->dst
    reversed: we walk dst->src so 'depth below the root')."""
    spark = edges.sparkSession
    visited = local_frame(spark, "node string, depth int", [(root, 0)]).localCheckpoint(eager=True)
    frontier = visited
    for d in range(1, max_depth + 1):
        nxt = (
            edges.join(frontier, edges.dst == frontier.node)
            .select(F.col("src").alias("node"), F.lit(d).alias("depth"))
            .distinct()
            .join(visited.select("node"), "node", "left_anti")
            .localCheckpoint(eager=True)
        )
        if nxt.isEmpty():
            break
        visited = visited.unionByName(nxt).localCheckpoint(eager=True)
        frontier = nxt
    # a node reached at several depths keeps the minimum (first visit wins
    # by construction, but group for safety)
    return visited.groupBy("node").agg(F.min("depth").alias("depth"))
