"""End-to-end resolution pipeline: one stage graph, run two ways.

Stage graph (SURVEY.md §7.1), defined once in ``_STAGE_GRAPH``:

    webtext --S1--> mentions (+ mention_metrics) --S2--> phrase_vecs
            --S3--> pairs (+ block_salt_metrics) --S4/S5--> edges
            --S6--> clusters --S7--> resolved

:func:`resolve` composes the stages into one lazy plan.  :class:`Pipeline`
writes each stage to ``<ckpt_dir>/<stage>`` and publishes it through that
table's :class:`SnapshotLog`, its only commit mechanism.

Both take the same middle (S2-S6).  While the batch's form count is
within ``DRIVER_VOCAB_MAX`` it runs on the driver: phrase vectors,
candidate pairs with salt rows, scored edges and union-find clusters come
from the oracle's shared helpers, once per batch, and reach Spark as
Arrow-backed local frames — no Python-worker task between extraction and
the final join.  Above it the distributed operators run.  Either way
Pipeline commits the same tables:

- a stage write lands as new part files beside the committed ones, then
  publishes a manifest listing its files — an overwrite lists only the
  new files (the superseded ones are deleted after the commit), an
  append lists the head's files plus the new ones (an append of no rows
  keeps no file);
- every manifest carries the batch id (an order-free checksum of the
  batch's urls) and the stage's lineage: rows, checksum, wall_ms.  The
  rows and checksum are observed during the stage's write, so a commit
  re-reads nothing (compact() alone re-reads, to verify its rewrite);
- S1 of a batch of at most ``_DOCS_PER_EXTRACT_TASK`` documents runs on
  the driver: the English pages' (url, html) arrive as one Arrow collect
  and go through the scan the Python workers run, so a small delta starts
  no Python worker.  A larger batch extracts in one Python-worker task
  per ``_DOCS_PER_EXTRACT_TASK`` documents.  The driver's forms then
  give S2's new-form test as a set difference;
- a frame built on the driver (S1's mentions, the driver middle's
  tables) is committed as one part file;
- an incremental batch pays for what it touches.  S2 looks for new forms
  among the mentions it appended only (the ``mentions`` files added
  since the version the last committed ``resolved`` records), and keeps
  the ``phrase_vecs`` head when there is none.  S3-S6 record a digest
  of the phrase_vecs file list and the parameters they were built from;
  a head built from the current ones is committed again by reference
  (no job, no part file).  ``resolved`` records the mentions version and clusters
  files it joined, and appends the new mentions' rows while the
  clusters files are the same and the recorded mentions files are all
  still listed (a compaction rewrites them); otherwise it is rewritten;
- a stage is done for a batch when its head manifest carries that batch
  id and is readable, so a relaunch skips it;
- a batch is committed when its ``resolved`` manifest is published;
- on entry, an append table whose head comes from an uncommitted other
  batch is rolled back to its last committed file list, and data files
  no head manifest references are deleted — a crashed batch never leaks
  into the next one.

The checkpointed runs are the scaled-up version of the reference's
read-modify-write candidate cache (≙ src/REEL/pre_process.py:250-307)
and the substrate of the north rule's mid-pipeline resume.
"""

from __future__ import annotations

import math
import os
import time
from contextlib import contextmanager

from pyspark.sql import DataFrame, Observation, SparkSession
from pyspark.sql import functions as F

from nilinker_spark import oracle
from nilinker_spark.config import local_frame
from nilinker_spark.fixtures.kb import KBFixture
from nilinker_spark.functions.hashing import frame_signature, h60_value, signature_aggs
from nilinker_spark.operators import blocking, clustering, scoring
from nilinker_spark.operators.extract import MENTIONS_SCHEMA, extract_mentions_df, mention_rows
from nilinker_spark.operators.pairs import candidate_pairs
from nilinker_spark.oracle import ALPHA, MAX_BLOCK_FORMS, TAU
from nilinker_spark.snapshots import SnapshotLog, list_data_files

# Adaptive small-vocabulary execution of the middle (S2-S6: phrase
# vectors -> pairs -> scoring -> CC -> clusters), in resolve() and in
# both Pipeline runs.  Those stages are vocabulary-bounded; below this
# form count they are pure scheduler latency as distributed jobs (~3.6 s
# at 2 cores, measured), and every Python-worker task among them reads
# ~2.5 MB before its UDF gets control.  So they run on the driver through
# the SAME shared pure functions the oracle uses (oracle.kb_form_vectors,
# oracle.middle) and reach Spark as Arrow-backed local frames
# (config.local_frame) — results identical by construction and by forced-path
# parity tests.  The form count is the committed phrase_vecs rows plus
# the batch's new forms (a bounded collect finds them).  Above the
# threshold (real corpora: 10^6-10^7 forms at 100 TB) the distributed
# path runs unchanged.  Same decision rule as a broadcast-join
# threshold: execute the provably-tiny side locally.
DRIVER_VOCAB_MAX = 2000
# compact() sizes its rewrite at about this many rows per part file
_COMPACT_ROWS_PER_FILE = 1_000_000
# A checkpointed batch extracts (S1) in ceil(docs / this) tasks, never
# more than its webtext's partitions: each Python-worker task pays ~2.5 MB
# of io before its first row, and one task of up to this many documents
# wrote the mentions no slower than one per core (local[4]: 250/500 docs
# won in each of 3 windows, min of 3; 750 and 1,000 lost in 2 of 3).
# A batch that fits one task runs S1 on the driver instead, which matched
# or beat that one task in io and wall at 250 to 4,000 docs, and the two
# tasks of 501 and 1,000 docs too: this bounds the html the driver holds
# (at most this many pages) rather than marking a crossover
_DOCS_PER_EXTRACT_TASK = 500

RESOLVED_COLS = ("url", "mention_id", "surface", "pos", "norm", "cluster_id")


class _Batch:
    """One batch's inputs and the stage outputs built so far — what the
    stage build functions read.  ``forms``/``n_forms`` size the middle;
    ``middle`` holds the driver middle's results; ``walls`` receives
    resolve()'s stage walls.  A checkpointed batch also keeps each
    stage's head manifest (``heads``) and, when it appends, the
    ``mentions`` files it added (``added``; None when not known) and
    their rows (``new_mentions``).  ``docs`` is a checkpointed batch's
    document count (None in resolve()); ``mention_forms`` the distinct
    forms of the mentions S1 found on the driver (None otherwise)."""

    def __init__(self, spark, kb, webtext, gazetteer, alpha, tau, max_block, walls=None, docs=None):
        self.spark, self.kb, self.webtext, self.gazetteer = spark, kb, webtext, gazetteer
        self.alpha, self.tau, self.max_block, self.walls = alpha, tau, max_block, walls
        self.docs, self.mention_forms = docs, None
        self.forms = self.n_forms = self.candidates = self.middle = None
        self.heads, self.since, self.added, self.new_mentions = {}, None, None, None
        for name in STAGES:
            setattr(self, name, None)


# schemas of the stage tables built on the driver: those of the
# distributed builds (nullability aside, which parquet drops anyway)
_LOCAL_SCHEMAS = {
    "mentions": MENTIONS_SCHEMA,
    "phrase_vecs": "norm string, pv array<float>",
    "block_salt_metrics": "block_key string, members long, n_salts int",
    "pairs": "norm_a string, norm_b string",
    "edges": "src string, dst string",
    "clusters": "norm string, cluster_id string",
}


def _local_frame(b: _Batch, stage: str, rows) -> DataFrame:
    # a LocalTableScan is split into defaultParallelism slices; a
    # checkpointed batch commits it as one part file (resolve()'s plan
    # keeps the slices)
    df = local_frame(b.spark, _LOCAL_SCHEMAS[stage], rows)
    return df if b.docs is None else df.coalesce(1)


def _mentions(b: _Batch) -> DataFrame:
    # S1 on the driver for a checkpointed batch that fits one extraction
    # task (see _DOCS_PER_EXTRACT_TASK); resolve() and larger batches scan
    # in Python workers
    if b.docs is None or b.docs > _DOCS_PER_EXTRACT_TASK:
        return extract_mentions_df(b.spark, b.webtext, b.gazetteer)
    rows = mention_rows(b.webtext, b.gazetteer)
    b.mention_forms = {norm for *_, norm in rows}
    return _local_frame(b, "mentions", rows)


def _on_driver(b: _Batch) -> bool:
    return b.n_forms <= DRIVER_VOCAB_MAX


def _driver_middle(b: _Batch):
    """S3-S6 on the driver (:func:`oracle.middle`), once per batch.  The
    vectors are the phrase_vecs table's, or resolve()'s forms vectorized
    here."""
    if b.middle is None:
        if b.phrase_vecs is None:
            pvs = oracle.kb_form_vectors(sorted(b.forms.toPandas()["norm"]), b.kb)
        else:
            pdf = b.phrase_vecs.toPandas()
            pvs = dict(zip(pdf["norm"], pdf["pv"]))
        b.middle = oracle.middle(pvs, b.alpha, b.tau, b.max_block)
    return b.middle


def _phrase_vecs(b: _Batch) -> DataFrame | None:
    # resolve() sets the form table; a checkpointed batch vectorizes the
    # forms of its mentions that no committed vector covers yet.  During
    # an append ``b.phrase_vecs`` is the committed table, ``b.n_forms``
    # its rows, and only the mentions the batch added can bring a new
    # form: every committed mention's form is committed (a rollback
    # restores both tables).  No new form returns None, so the head is
    # kept.  If they keep the form count within DRIVER_VOCAB_MAX they
    # are vectorized on the driver: when S1 ran there its forms are in
    # hand, less the committed ones; else a bounded collect finds them.
    # Otherwise they are checkpointed: prefuzz and the vectors read them,
    # and the read-append cycle on phrase_vecs breaks.
    forms = b.forms
    if forms is None:
        appending = b.phrase_vecs is not None
        if appending and b.added == []:
            return None
        forms = (b.mentions if b.added is None else b.new_mentions).select("norm").distinct()
        if appending:
            forms = forms.join(b.phrase_vecs.select("norm"), "norm", "left_anti")
        room = DRIVER_VOCAB_MAX - (b.n_forms or 0)
        if room >= 0:
            if b.mention_forms is None:
                new = set(forms.limit(room + 1).toPandas()["norm"])
            else:
                new = b.mention_forms
                if appending:
                    new = new - set(b.phrase_vecs.select("norm").toArrow()["norm"].to_pylist())
            if appending and not new:
                return None
            if len(new) <= room:
                pvs = oracle.kb_form_vectors(sorted(new), b.kb)
                return _local_frame(b, "phrase_vecs", pvs.items())
        forms = forms.localCheckpoint(eager=True)
        if appending and room < 0 and forms.isEmpty():
            return None
    # distinct OOV tokens fuzzy-resolve once cluster-wide: the per-worker
    # memo cannot de-duplicate across workers (at 10^5 forms the
    # duplicated fuzzy scans made pvs wall flat from 2 to 8 cores)
    t0 = time.monotonic()
    fmap = blocking.prefuzz_map(b.spark, forms, b.kb)
    if b.walls is not None:
        b.walls["prefuzz_s"] = time.monotonic() - t0
    return blocking.phrase_vectors_df(b.spark, forms, b.kb, fuzzy_map=fmap)


def _candidates(b: _Batch) -> tuple[DataFrame, DataFrame]:
    """S3 (pairs, block_salt_metrics), built once for both tables."""
    if b.candidates is None:
        if _on_driver(b):
            pairs, salt_rows, _edges, _clusters = _driver_middle(b)
            b.candidates = (
                _local_frame(b, "pairs", pairs),
                _local_frame(b, "block_salt_metrics", salt_rows),
            )
        else:
            blocked = blocking.block_keys_df(b.phrase_vecs.select("norm"))
            b.candidates = candidate_pairs(blocked, b.max_block)
    return b.candidates


def _edges(b: _Batch) -> DataFrame:
    if _on_driver(b):
        return _local_frame(b, "edges", _driver_middle(b)[2])
    # S4+S5 fused with the exact embedding-score prefilter: only the
    # plausible pair fraction pays string features / the Arrow JW
    # crossing; edges equal oracle.score_edges over the same vectors
    return scoring.fused_similarity_edges(b.pairs, b.phrase_vecs, b.alpha, b.tau, n_forms=b.n_forms)


def _clusters(b: _Batch) -> DataFrame:
    if _on_driver(b):
        return _local_frame(b, "clusters", _driver_middle(b)[3].items())
    labels = clustering.connected_components(b.edges, walls_out=b.walls)
    return clustering.assign_clusters(b.phrase_vecs.select("norm"), labels, n_forms=b.n_forms)


def _resolved(b: _Batch) -> DataFrame | None:
    # during an append ``b.resolved`` is the committed table, joined with
    # these same clusters: only the mentions the batch added join them
    # (None when it added none, so the head is kept)
    mentions = b.mentions
    if b.resolved is not None:
        if not b.added:
            return None
        mentions = b.new_mentions
    clusters = scoring._maybe_broadcast(b.clusters, b.n_forms)
    return mentions.join(clusters, "norm").select(*RESOLVED_COLS)


def _resolved_mode(b: _Batch, head: dict) -> str:
    """``resolved`` appends while its head was joined with the clusters
    table the batch committed (same files) and the mentions added since
    are known; otherwise it is rewritten whole."""
    joined = head.get("inputs", {}).get("clusters") == b.heads["clusters"]["files"]
    return "append" if joined and b.added is not None else "overwrite"


# S3-S6: their tables depend only on the phrase_vecs table and the
# (alpha, tau, max_block) of the Pipeline, on either middle
_MIDDLE = ("block_salt_metrics", "pairs", "edges", "clusters")


def _inputs(b: _Batch, name: str) -> dict | None:
    """What a checkpointed stage table is built from, recorded in its
    manifest: a middle table's phrase_vecs file list (part files are
    immutable and uniquely named; as an md5-60 digest, so the manifest
    does not grow with the list) and parameters; for ``resolved`` the
    ``mentions`` version and the ``clusters`` files it joined."""
    if name in _MIDDLE:
        return {
            "phrase_vecs": h60_value("\n".join(b.heads["phrase_vecs"]["files"])),
            "params": [b.alpha, b.tau, b.max_block],
        }
    if name == "resolved":
        return {
            "mentions": b.heads["mentions"]["version"],
            "clusters": b.heads["clusters"]["files"],
        }
    return None


# (name, build, mode): the S1-S7 stage graph, in order.  ``mode`` is how a
# checkpointed incremental batch commits the stage (a function of the
# batch and the stage's head where that decides it); a first run() writes
# every stage as an overwrite.  A build that returns None keeps the head.
_STAGE_GRAPH = [
    ("mentions", _mentions, "append"),
    # per-form mention frequencies (≙ the IC term counts,
    # information_content.py:17-27).  The count combines map-side
    # (partial_count below the one exchange), so the Zipf-head form
    # reaches its reducer as one partial row per map task
    (
        "mention_metrics",
        lambda b: b.mentions.groupBy("norm").agg(F.count("*").alias("count")),
        "overwrite",
    ),
    ("phrase_vecs", _phrase_vecs, "append"),
    ("block_salt_metrics", lambda b: _candidates(b)[1], "overwrite"),
    ("pairs", lambda b: _candidates(b)[0], "overwrite"),
    ("edges", _edges, "overwrite"),
    ("clusters", _clusters, "overwrite"),
    ("resolved", _resolved, _resolved_mode),
]
STAGES = [name for name, _build, _mode in _STAGE_GRAPH]

# How resolve() keeps a stage (the others stay lazy).  Mentions persist
# columnar — NOT localCheckpoint, whose deserialized java rows cost ~2x
# the extraction itself at 10^7 rows — and serve both the distinct forms
# and the final join.  Edges checkpoint lazily so connected_components'
# driver-size probe and the star-contraction loop share ONE
# materialization of the scoring subtree (VERDICT r3 #1).
_RESOLVE_KEEP = {
    "mentions": lambda df: df.persist(),
    "phrase_vecs": lambda df: df.localCheckpoint(eager=True),
    "edges": lambda df: df.localCheckpoint(eager=False),
    "clusters": lambda df: df.localCheckpoint(eager=True),
}


def _build_lazy(b: _Batch, names: set[str]) -> None:
    for name, build, _mode in _STAGE_GRAPH:
        if name in names:
            setattr(b, name, _RESOLVE_KEEP.get(name, lambda df: df)(build(b)))


@contextmanager
def _form_scope(spark: SparkSession, n_forms: int):
    """Session confs for the vocabulary-sized middle, restored on exit.

    Form-level shuffles are sized by the DATA with a COMPUTE-aware floor:
    ~2k forms per partition.  The old 50k-per-partition rule treated the
    middle as shuffle-bound, but its rows are compute-heavy (attention
    math, fuzzy resolution, pair scoring) — at 20k forms it serialized
    S3-S6 into ONE task (measured 2->8 efficiency 0.27; ~0.9 after).  At
    10^6+ forms the cap is the session's shuffle.partitions.  AQE
    re-plans every shuffle stage; on these often-1-partition stages that
    is pure per-stage latency, so it is off below 10^6 forms (the
    corpus-level stages keep AQE for skew/coalescing)."""
    old_parts = spark.conf.get("spark.sql.shuffle.partitions")
    old_aqe = spark.conf.get("spark.sql.adaptive.enabled")
    spark.conf.set(
        "spark.sql.shuffle.partitions", str(max(1, min(int(old_parts), n_forms // 2_000 + 1)))
    )
    if n_forms < 1_000_000:
        spark.conf.set("spark.sql.adaptive.enabled", "false")
    try:
        yield
    finally:
        spark.conf.set("spark.sql.shuffle.partitions", old_parts)
        spark.conf.set("spark.sql.adaptive.enabled", old_aqe)


def resolve(
    spark: SparkSession,
    webtext: DataFrame,
    kb: KBFixture,
    gazetteer: set[str] | None = None,
    alpha: float = ALPHA,
    tau: float = TAU,
    max_block: int = MAX_BLOCK_FORMS,
    metrics_out: dict | None = None,
    cache_out: list | None = None,
    stage_walls_out: dict | None = None,
    stage_hook=None,
) -> DataFrame:
    """Checkpoint-free run of the stage graph (entry/bench path).

    ``stage_walls_out``: pass a dict to receive wall-clock seconds of the
    sections this function ALREADY materializes eagerly — "extract_s"
    (S1 scan + distinct-forms count) and "middle_s" (S2-S6: phrase
    vectors → pairs → scoring → CC → cluster table; both localCheckpoints
    are eager on the distributed path).  Pure timestamps around existing
    actions — the plan and its laziness are unchanged — so the bench can
    report the vocabulary middle's own throughput, plus "n_forms" and
    "middle_path" ("driver" or "distributed").  On the distributed path
    the middle's scale-invariant FLOOR is broken out too: "prefuzz_s"
    (the one-shot OOV resolution job) and "cc_driver_s" /"cc_collect_s"
    (see connected_components.walls_out) — the bench subtracts
    prefuzz_s + cc_driver_s to report the middle's compute-only scaling
    (VERDICT r4 #3).

    ``stage_hook``: optional callable invoked driver-side with
    ``"extract_done"`` after the extraction/forms materialization and
    before the middle timer starts — the bench's paired-concurrent rounds
    use it as a second barrier so both levels' MIDDLE sections overlap
    (host noise then cancels in the middle-wall ratio).  Time spent
    inside the hook is excluded from every stage wall.

    Same stages as :class:`Pipeline`, no materialization between them
    beyond the small checkpoints of ``_RESOLVE_KEEP`` — Catalyst sees the
    whole plan and AQE sizes the shuffles.

    ``metrics_out``: pass a dict to receive the no-silent-truncation
    metrics frames ({"mention_metrics", "block_salt_metrics"}, lazy) —
    the functional twin of the checkpointed Pipeline's metrics tables.

    ``cache_out``: the mentions frame stays ``.persist()``-ed when this
    returns (the returned plan still reads it; unpersisting earlier would
    recompute the corpus scan on the caller's first action).  Pass a list
    to receive that frame and own its lifetime — ``.unpersist()`` each
    entry once done with the result (bench does).  Without a handle,
    callers that loop resolve() in one session must
    ``spark.catalog.clearCache()`` between runs or the block manager
    accumulates a cached mentions copy per call.

    CONCURRENCY: the vocabulary-sized middle section temporarily rewrites
    two session confs (``spark.sql.shuffle.partitions``, AQE) and restores
    them before returning.  Any query COMPILED concurrently on the same
    SparkSession during that window would pick the overridden values —
    resolve() is single-flight per session by contract (the serial bench/
    oracle/entry callers all are).  Concurrent callers should compile
    their plans on their own SparkSession.
    """
    if gazetteer is None:
        gazetteer = kb.gazetteer
    walls = stage_walls_out
    b = _Batch(spark, kb, webtext, gazetteer, alpha, tau, max_block, walls)
    t0 = time.monotonic()
    _build_lazy(b, {"mentions"})
    if cache_out is not None:
        cache_out.append(b.mentions)
    # lazy checkpoint + count in ONE job (the count is the materializing
    # action — same trick as connected_components' frame_signature); the
    # distinct-form table is vocabulary-bounded, so the middle is sized by
    # its count
    b.forms = b.mentions.select("norm").distinct().localCheckpoint(eager=False)
    b.n_forms = b.forms.count()
    on_driver = b.n_forms <= DRIVER_VOCAB_MAX
    if walls is not None:
        walls["extract_s"] = time.monotonic() - t0
        walls["n_forms"] = b.n_forms
        walls["middle_path"] = "driver" if on_driver else "distributed"
    if stage_hook is not None:
        stage_hook("extract_done")
    t1 = time.monotonic()
    if on_driver:
        # tiny-vocabulary fast path: the whole middle on the driver (see
        # DRIVER_VOCAB_MAX); its local frames need no checkpoint
        b.block_salt_metrics = _candidates(b)[1]
        b.clusters = _clusters(b)
    else:
        with _form_scope(spark, b.n_forms):
            _build_lazy(b, {"phrase_vecs", "block_salt_metrics", "pairs", "edges", "clusters"})
    if walls is not None:
        walls["middle_s"] = time.monotonic() - t1
    _build_lazy(b, {"mention_metrics", "resolved"})
    if metrics_out is not None:
        metrics_out["mention_metrics"] = b.mention_metrics
        metrics_out["block_salt_metrics"] = b.block_salt_metrics
    return b.resolved


def _head(log: SnapshotLog) -> dict | None:
    """The log's latest manifest, or None before its first commit."""
    v = log.latest_version()
    return None if v is None else log.snapshot(v)


def _delete(table_dir: str, files: list[str]) -> None:
    """Remove data files and the checksum files Spark writes beside them."""
    for rel in files:
        path = os.path.join(table_dir, rel)
        crc = os.path.join(os.path.dirname(path), f".{os.path.basename(path)}.crc")
        for p in (path, crc):
            if os.path.exists(p):
                os.remove(p)


class Pipeline:
    def __init__(
        self,
        spark: SparkSession,
        kb: KBFixture,
        ckpt_dir: str,
        alpha: float = ALPHA,
        tau: float = TAU,
        max_block: int = MAX_BLOCK_FORMS,
        gazetteer: set[str] | None = None,
    ) -> None:
        self.spark = spark
        self.kb = kb
        self.ckpt_dir = ckpt_dir
        self.alpha = alpha
        self.tau = tau
        self.max_block = max_block
        # explicit extraction gazetteer (same contract as resolve()'s
        # keyword arg); None derives it from the KB surface forms
        self.gazetteer = gazetteer
        # one log per stage for the pipeline's lifetime: its manifest
        # cache then carries from recovery to the stage loop and reads
        self._logs: dict[str, SnapshotLog] = {}

    def _path(self, stage: str) -> str:
        return os.path.join(self.ckpt_dir, stage)

    def _log(self, stage: str) -> SnapshotLog:
        log = self._logs.get(stage)
        if log is None:
            log = self._logs[stage] = SnapshotLog(self._path(stage))
        return log

    # --- batches -------------------------------------------------------------
    def run(self, webtext: DataFrame, stop_after: str | None = None) -> DataFrame | None:
        """Run (or resume) the pipeline; returns the resolved mentions frame.

        ``stop_after`` (a name in :data:`STAGES`) returns None once that
        stage is committed — the resume tests kill the job there.  On a
        checkpoint that already holds a committed batch, run() returns the
        committed ``resolved`` table; new documents go through
        :meth:`run_incremental`.
        """
        return self._run_batch(webtext, append=False, stop_after=stop_after)

    def run_incremental(self, new_webtext: DataFrame) -> DataFrame:
        """Append new documents to a COMPLETED run; only never-seen
        normalized forms pay the model math.

        The batch twin of the streaming first-seen dedup
        (streaming/stateful.py) and the reference's read-modify-write
        candidate cache (≙ src/REEL/pre_process.py:250-307) — the same
        stage graph as :meth:`run`, with the append stages appending:

        - ``mentions`` grows by exactly the new documents' mentions;
        - ``phrase_vecs`` grows by exactly the forms of those mentions
          absent from the committed table (left_anti) — only new forms
          cross the Arrow scoring UDF;
        - with no new form, the vocabulary-sized middle (pairs → edges →
          clusters, and block_salt_metrics) keeps its committed files by
          reference and ``resolved`` appends the new mentions' rows;
        - with new forms, the middle is recomputed over the full form set
          — corpus-free work — and ``resolved`` is rewritten, so the final
          clusters are IDENTICAL to a from-scratch run on the full corpus
          (new edges may legitimately re-cluster old forms; tested).

        Caller contract: ``new_webtext`` urls are disjoint from all prior
        runs (same as any append-only ingest); one writer at a time
        (single-flight, like run()).  A batch that crashed resumes from
        its committed stages when retried, and is rolled back when any
        other batch (or run()/compact()) comes first; re-running a
        committed batch returns ``resolved`` unchanged.
        """
        return self._run_batch(new_webtext, append=True)

    def _run_batch(
        self, webtext: DataFrame, append: bool, stop_after: str | None = None
    ) -> DataFrame | None:
        if stop_after is not None and stop_after not in STAGES:
            raise ValueError(f"stop_after={stop_after!r} is not a stage: {STAGES}")
        n, sig = frame_signature(webtext, "url")
        batch = f"b{n}_{sig & 0xFFFFFFFFFFFFFFFF:016x}"
        committed = self._recover(batch)
        if append and not committed:
            raise RuntimeError("run() must complete before run_incremental()")
        if committed and (batch in committed or not append):
            return self.read_stage("resolved")
        gaz = self.kb.gazetteer if self.gazetteer is None else self.gazetteer
        # S1 on the driver or in ceil(n / _DOCS_PER_EXTRACT_TASK) tasks;
        # coalesce adds no shuffle and never raises a partition count, so
        # a batch of at least partitions x that many docs keeps one task
        # per partition
        webtext = webtext.coalesce(max(1, math.ceil(n / _DOCS_PER_EXTRACT_TASK)))
        b = _Batch(self.spark, self.kb, webtext, gaz, self.alpha, self.tau, self.max_block, docs=n)
        if append:
            # the mentions version the last committed batch resolved: the
            # mentions files added since are this batch's
            b.since = _head(self._log("resolved")).get("inputs", {}).get("mentions")
        for name, build, mode in _STAGE_GRAPH:
            log = self._log(name)
            head = _head(log)
            intact = head is not None and all(
                os.path.exists(os.path.join(log.table_dir, f)) for f in head["files"]
            )
            if not (intact and head.get("batch") == batch):
                mode = mode if append else "overwrite"
                if callable(mode):
                    mode = mode(b, head)
                if mode == "append":
                    self._load(b, name, log, head)  # the table appended to
                # a head built from what this stage reads now is kept by
                # reference: no job, no part file, no footer read
                inputs = _inputs(b, name)
                kept = intact and inputs is not None and head.get("inputs") == inputs
                df = None if kept else build(b)
                head = self._commit(log, df, mode, batch, head, inputs=inputs)
            self._load(b, name, log, head)
            if name == stop_after:
                return None
        return b.resolved

    def _load(self, b: _Batch, name: str, log: SnapshotLog, head: dict) -> None:
        setattr(b, name, log.read(self.spark))
        b.heads[name] = head
        if name == "phrase_vecs":
            # from the manifest: sizes the middle (driver or distributed)
            # and powers the conditional broadcast hints
            b.n_forms = head["lineage"]["rows"]
        if name == "mentions" and b.since is not None:
            b.added = log.added_since(b.since, head["version"])
            if b.added:
                b.new_mentions = log.read(self.spark, head["version"], files=b.added)

    def _commit(
        self,
        log: SnapshotLog,
        df: DataFrame | None,
        mode: str,
        batch: str,
        head: dict | None,
        operation: str | None = None,
        expect: tuple[int, int] | None = None,
        inputs: dict | None = None,
    ) -> dict:
        """Write ``df`` as new part files beside the committed ones and
        publish them; returns the new head manifest.

        An append lists the head's files plus the new ones, an overwrite
        only the new ones (the files it supersedes are deleted once the
        commit is published); an append of no rows deletes its new files
        and commits the head's file list.  ``df=None`` commits the head's
        file list as an append of nothing, with no write.  The manifest's
        lineage (rows, order-free checksum, wall_ms) covers the whole
        table: an append combines the head's with its new rows' (bit_xor
        is associative).  The new rows' (rows, checksum) are observed
        during the write, in its result stage (no exchange lies between
        the observation and the file writer, so a retried task is counted
        once); nothing is re-read.  With ``expect`` the new files are
        re-read instead and must hold exactly that (rows, checksum), or
        they are deleted unpublished.  ``inputs`` (what the table was
        built from) is recorded in the manifest.
        """
        t0 = time.monotonic()
        if df is None:
            mode, new, rows, checksum = "append", [], 0, 0
        elif expect is None:
            obs = Observation()
            new = log.write(df.observe(obs, *signature_aggs(*df.columns)))
            rows, checksum = obs.get["rows"], obs.get["checksum"]
        else:
            new = log.write(df)
            out = self.spark.read.parquet(*[os.path.join(log.table_dir, f) for f in new])
            rows, checksum = frame_signature(out, *out.columns)
            if (rows, checksum) != expect:
                _delete(log.table_dir, new)
                raise RuntimeError(f"{operation} of {log.table_dir} changed content; aborted")
        old = head["files"] if head is not None else []
        if mode == "append" and head is not None:
            if rows == 0:
                # Spark writes a schema-only part file for an empty frame;
                # kept, every batch without new rows would add one
                _delete(log.table_dir, new)
                new = []
            rows += head["lineage"]["rows"]
            checksum ^= head["lineage"]["checksum"]
        version = log.commit(
            operation or mode,
            files=old + new if mode == "append" else new,
            expect_latest=None if head is None else head["version"],
            _extra={
                "batch": batch,
                "lineage": {
                    "rows": rows,
                    "checksum": checksum,
                    "wall_ms": int((time.monotonic() - t0) * 1000),
                },
                **({"inputs": inputs} if inputs else {}),
            },
        )
        if mode == "overwrite":
            _delete(log.table_dir, sorted(set(old) - set(new)))
        return log.snapshot(version)

    def _recover(self, batch: str | None = None) -> set[str]:
        """Undo what crashed batches left behind; returns the committed
        batch ids (those with a published ``resolved`` manifest).

        An append table whose head comes from an uncommitted batch other
        than ``batch`` gets a ``rollback`` commit to its last committed
        file list — otherwise the partial append would be baked into the
        next batch (mention rows whose forms never reached phrase_vecs,
        silently dropped by the resolved join).  Overwrite tables need no
        rollback: a head from another batch is not done, so it is
        recomputed.  Then every data file no head manifest references (a
        write whose commit never happened, files a commit superseded or
        rolled back) is deleted."""
        res = self._log("resolved")
        committed = {res.snapshot(v).get("batch") for v in res.versions()}
        for name, _build, mode in _STAGE_GRAPH:
            log = self._log(name)
            head = _head(log)
            if (
                mode == "append"
                and committed
                and head is not None
                and head.get("batch") not in committed | {batch}
            ):
                last = next(
                    m
                    for m in map(log.snapshot, reversed(log.versions()))
                    if m.get("batch") in committed
                )
                log.commit(
                    "rollback",
                    files=last["files"],
                    expect_latest=head["version"],
                    _extra={"batch": last["batch"], "lineage": last["lineage"]},
                )
                head = last
            keep = set(head["files"]) if head is not None else set()
            _delete(log.table_dir, [f for f in list_data_files(log.table_dir) if f not in keep])
        return committed

    # --- snapshot surface (lineage / time travel / history) ---------------
    def lineage(self) -> DataFrame:
        """(stage, rows, checksum, wall_ms): one row per stage commit,
        oldest first — a view over the manifests.  Compactions show as
        ``compact:<stage>``; rollbacks restore a committed state and add
        no row."""
        rows = []
        for name in STAGES:
            log = self._log(name)
            for m in map(log.snapshot, log.versions()):
                if "lineage" in m and m["operation"] != "rollback":
                    stage = f"compact:{name}" if m["operation"] == "compact" else name
                    lin = m["lineage"]
                    rows.append((m["ts"], stage, lin["rows"], lin["checksum"], lin["wall_ms"]))
        return local_frame(
            self.spark,
            "stage string, rows long, checksum long, wall_ms long",
            [r[1:] for r in sorted(rows)],
        )

    def read_stage(self, stage: str, version: int | None = None) -> DataFrame:
        """Snapshot-isolated read of a stage table.

        ``version=None`` reads the LATEST COMMITTED version — a concurrent
        append can never tear the read.  An explicit ``version``
        time-travels a table to any state before later appends
        (``mentions``, ``phrase_vecs``, and ``resolved`` or a middle table
        across the batches that kept their files); versions an
        overwrite/compact replaced raise ``SnapshotExpired``
        (snapshots.py module docs)."""
        return self._log(stage).read(self.spark, version)

    def stage_history(self, stage: str) -> list[dict]:
        """Committed versions of a stage table, oldest first."""
        return self._log(stage).history()

    def read_stage_changes(
        self, stage: str, from_version: int, to_version: int | None = None
    ) -> DataFrame:
        """Incremental consumption of an append stage table: exactly the
        rows ``run_incremental`` batches added after ``from_version`` —
        what a downstream index/serving updater reads per batch instead
        of rescanning the table (raises if the range is not
        append-only; snapshots.read_changes).  ``resolved`` is append-only
        across batches that do not re-cluster, so there it is the
        resolved rows of those batches' new mentions."""
        return self._log(stage).read_changes(self.spark, from_version, to_version)

    # --- table maintenance ---------------------------------------------------
    def compact(self, stage: str) -> int:
        """Rewrite a stage table's many small part files into few sized ones.

        The maintenance half of the Iceberg stand-in story: incremental
        appends (run_incremental) accrete one part-file set per batch; at
        100 TB that read-amplifies every downstream scan.  Semantics:

        - content-preserving: the rewrite's rows and order-free checksum
          must equal the head's lineage before it is published, else the
          compaction aborts and the original table stays (verified, not
          assumed);
        - atomic: the same overwrite commit as a stage write — a crash
          before the commit leaves the original head, and the unpublished
          files are deleted on the next entry;
        - audited: the manifest keeps the head's batch id (the stage stays
          done) and shows in :meth:`lineage` as ``compact:<stage>``.

        Returns the number of part files after compaction.  An unknown
        stage raises ValueError, a stage with no commit FileNotFoundError.
        """
        if stage not in STAGES:
            raise ValueError(f"compact({stage!r}): not a stage: {STAGES}")
        self._recover()  # never compact a partial append into the table
        log = self._log(stage)
        head = log.snapshot()
        lin = head["lineage"]
        n_files = max(1, lin["rows"] // _COMPACT_ROWS_PER_FILE + 1)
        head = self._commit(
            log,
            log.read(self.spark).repartition(n_files),
            "overwrite",
            head["batch"],
            head,
            operation="compact",
            expect=(lin["rows"], lin["checksum"]),
            inputs=head.get("inputs"),  # the same rows, built from the same inputs
        )
        return len(head["files"])
