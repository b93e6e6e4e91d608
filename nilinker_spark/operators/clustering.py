"""S6 — transitive clustering: large-star / small-star connected components.

Replaces the reference's per-document Monte-Carlo Personalized PageRank
(/root/reference/src/REEL/ppr_for_ned_all.java:338-439) as the collective
resolution step, per the north rule: the similarity-edge DataFrame is
contracted to stars whose centers are the component minima, in O(log n)
alternating rounds (Kiveris et al., "Connected Components in MapReduce
and Beyond" — public algorithm).

Scale notes:
- each round is two shuffles (groupBy min + join back); rounds are
  O(log n) in the worst case, 2-3 in practice for ER graphs;
- ``localCheckpoint`` per round truncates the lineage so the plan does
  not grow exponentially (the classic iterative-DataFrame failure mode);
- node ids are the normalized surface forms themselves; the component
  representative is the lexicographic min — deterministic under any
  partitioning, which the resume test relies on.
"""

from __future__ import annotations

from pyspark.sql import DataFrame
from pyspark.sql import functions as F

from nilinker_spark.config import local_frame
from nilinker_spark.functions.hashing import frame_signature

# Below this edge count the component structure is driver-trivial: collect
# the (src, dst) list and run union-find in-process instead of paying
# O(rounds) scheduler latency on a vocabulary-sized frame (~1.9 s of pure
# round-trips for a 100-form graph; measured).  Round 5 raises the
# threshold 500k -> 2M: the collect is Arrow now (2M string-pair rows ~
# 160 MB on a 32 g driver, union-find ~3 s), and the measured crossover
# strongly favors the driver — at 660k edges the alternating-star loop
# cost ~54 s of round-trip latency at 8 cores where driver union-find
# took 1.2 s (round-5 V=250 measurement, BASELINE.md).  Above the
# threshold (10^7-form vocabularies at 100 TB, where the edge table
# genuinely exceeds driver memory) the distributed loop runs unchanged.
CC_DRIVER_MAX_EDGES = 2_000_000
# Round cap of the distributed star loop; it converges in O(log n) rounds.
_MAX_ROUNDS = 50


def _sym(edges: DataFrame) -> DataFrame:
    """Undirected closure: both orientations, no self-loops.

    No ``distinct`` here: duplicate edges change neither the per-node min
    nor the star output (each caller dedups once at its end), and the
    extra shuffle per iteration is pure fixed latency — measured ~0.5 s/
    round on small graphs, a real shuffle on big ones."""
    rev = edges.select(F.col("dst").alias("src"), F.col("src").alias("dst"))
    return edges.unionByName(rev).filter(F.col("src") != F.col("dst"))


def _large_star(edges: DataFrame) -> DataFrame:
    """For each node u: connect every strictly-larger neighbor to
    min(N(u) ∪ {u})."""
    nbrs = _sym(edges)
    mins = nbrs.groupBy("src").agg(F.min("dst").alias("mn")).select(
        "src", F.least("mn", "src").alias("m")
    )
    # no output distinct: _small_star (the only consumer) dedups at its
    # end, so dupes are bounded within one iteration — one less exchange
    # per round
    return (
        nbrs.join(mins, "src")
        .filter(F.col("dst") > F.col("src"))
        .select(F.col("dst").alias("src"), F.col("m").alias("dst"))
        .filter(F.col("src") != F.col("dst"))
    )


def _small_star(edges: DataFrame) -> DataFrame:
    """Orient edges high->low; connect each node and its smaller neighbors
    to the minimum of the neighborhood."""
    # no input distinct: duplicates cannot change groupBy-min results and
    # the output is dedup'd below (input is _large_star output, already
    # bounded by its own distinct)
    e = edges.select(
        F.greatest("src", "dst").alias("src"), F.least("src", "dst").alias("dst")
    ).filter(F.col("src") != F.col("dst"))
    mins = e.groupBy("src").agg(F.min("dst").alias("m"))
    to_small = e.join(mins, "src").select(F.col("dst").alias("src"), F.col("m").alias("dst"))
    to_center = mins.select(F.col("src"), F.col("m").alias("dst"))
    return (
        to_small.unionByName(to_center)
        .filter(F.col("src") != F.col("dst"))
        .distinct()
    )


def connected_components(edges: DataFrame, walls_out: dict | None = None) -> DataFrame:
    """edges(src, dst) -> labels(node, label) for every node in the graph.

    ``walls_out``: pass a dict to receive wall-clock seconds of the
    driver fast path's two sections — "cc_collect_s" (the probe's
    distinct+limit+toPandas; NOTE this is the first action on a lazily
    checkpointed edge table, so it includes evaluating the upstream
    scoring plan — distributed compute, not floor) and "cc_driver_s"
    (union-find + label-frame build: pure single-threaded driver work,
    the scale-INVARIANT part the bench subtracts as floor).

    label = lexicographic min of the component.  Nodes absent from the
    edge set are the caller's to label (coalesce with self).  Self-loops
    contribute no label (a node with only self-edges is a singleton and
    labels itself via the caller's coalesce) — identical on both paths.

    Two physical strategies, identical results (parity-tested on random
    graphs):

    - ``distinct edges <= CC_DRIVER_MAX_EDGES``: collect the DISTINCT edge
      list via Arrow and run the oracle's min-representative union-find
      (``oracle.components``) on the driver — one Spark job instead of
      O(rounds) shuffles, which on vocabulary-sized graphs is pure
      scheduler latency.  The probe is
      TIERED so a 10^9-edge graph never pays a throwaway distinct
      shuffle: first a plain count() (no shuffle; it also materializes
      the caller's lazy checkpoint, which every path needs) — raw count
      within the threshold proves the distinct fits, so collect it all;
      raw count within 4x leaves room for duplicate inflation (upstream
      pairs are a MULTISET, ADVICE r4 — dup rows must not push a small
      graph off the fast path), so probe ``distinct().limit(t+1)`` over
      the now-cached bounded table; beyond 4x go straight to the star
      loop.  Collects are Arrow ``toPandas`` — java-row collect() was
      ~3.3 s of the middle's scale-invariant floor at 300k edges
      (VERDICT r4 #4); Arrow is ~10x cheaper.
    - otherwise: alternating large-star/small-star rounds (the 10^7-node
      path).
    """
    import time

    spark = edges.sparkSession
    t0 = time.monotonic()
    e2 = edges.select("src", "dst")
    n_raw = edges.count()
    if n_raw <= CC_DRIVER_MAX_EDGES:
        head = e2.distinct().toPandas()
    elif n_raw <= 4 * CC_DRIVER_MAX_EDGES:
        head = e2.distinct().limit(CC_DRIVER_MAX_EDGES + 1).toPandas()
    else:
        head = None
    if walls_out is not None:
        walls_out["cc_collect_s"] = time.monotonic() - t0
    if head is not None and len(head) <= CC_DRIVER_MAX_EDGES:
        from nilinker_spark.oracle import components

        t1 = time.monotonic()
        labels = components(
            (), [(s, d) for s, d in zip(head["src"].values, head["dst"].values) if s != d]
        )
        # an Arrow local frame: the java-row conversion of a 500k-label
        # list was the other half of the driver-CC floor
        out = local_frame(spark, "node string, label string", labels.items())
        if walls_out is not None:
            walls_out["cc_driver_s"] = time.monotonic() - t1
        return out

    # lazy checkpoint + signature in ONE job per round: the signature is
    # the first materialization, so it both truncates the lineage (plan
    # growth is the iterative-DataFrame failure mode) and returns the
    # convergence signature — half the scheduler round-trips of an eager
    # checkpoint followed by a separate agg job.
    cur = edges.select("src", "dst").distinct().localCheckpoint(eager=False)
    cur_sig = frame_signature(cur, "src", "dst")
    for _ in range(_MAX_ROUNDS):
        nxt = _small_star(_large_star(cur)).localCheckpoint(eager=False)
        nxt_sig = frame_signature(nxt, "src", "dst")
        cur = nxt
        if nxt_sig == cur_sig:
            break
        cur_sig = nxt_sig

    # fixpoint is a star graph src(high) -> dst(label); centers label themselves
    members = cur.select(F.col("src").alias("node"), F.col("dst").alias("label"))
    centers = cur.select(F.col("dst").alias("node"), F.col("dst").alias("label"))
    return members.unionByName(centers).groupBy("node").agg(F.min("label").alias("label"))


def assign_clusters(forms: DataFrame, labels: DataFrame, n_forms: int | None = None) -> DataFrame:
    """(norm) + labels -> (norm, cluster_id); singletons label themselves.

    The label table is bounded by the form count: broadcast only while
    that provably fits (see scoring.BROADCAST_MAX_FORMS)."""
    from nilinker_spark.operators.scoring import _maybe_broadcast

    lab = labels.select(F.col("node").alias("norm"), F.col("label"))
    return forms.join(_maybe_broadcast(lab, n_forms), "norm", "left").select(
        "norm", F.coalesce("label", "norm").alias("cluster_id")
    )
