"""The benchmark's workloads.

Each workload builds its inputs from the seed, warms the session, then
runs a closed loop of repetitions (``timed``) or the same loop with every
layer call inside a span (``traced``), and finally checks the output.
BENCHMARK.json gates er_incremental and corpus_dedup, which between them
reach every layer; the others run by name.  On a 4-core VM a run of
er_incremental costs 50-70 s, corpus_dedup 30-53 s, er_corpus ~35 s and
er_vocab 46-82 s, and the gated runs' time budget holds two of them.
The engine is driven only through the public functions of its modules:
``pipeline.resolve``, ``pipeline.Pipeline.run``/``run_incremental``/
``read_stage``, the operators ``resolve()`` composes, the shared pure
functions in ``oracle``, ``snapshots.SnapshotLog.commit`` and the
``__spark_entry__`` contract.

Why these (each is dominated by a different layer):

- ``er_corpus``: ``resolve()`` over sf0.1-shaped documents tiled per core
  with the top-100-bigram gazetteer.  About 100 distinct forms, so the
  middle (S2-S6) runs on the driver; extraction and the final join do the
  work.  The output is checked mention by mention against the shared
  pure functions.  ``er_corpus_scaling`` adds the same input per core at
  local[nproc/4] for the N-vs-4N ``scaling_eff``.
- ``er_vocab``: ``resolve()`` over a small document slice times 22 token
  variants, 2.2k forms: above ``DRIVER_VOCAB_MAX``, so the distributed
  middle (prefuzz, phrase vectors, blocking, pairs, fused scoring, CC)
  does the work and extraction does little.  Every repetition gets a
  vocabulary no earlier repetition (nor the warm pass) has seen, so the
  per-worker fuzzy and normalisation memos start cold, as on a new crawl.
- ``er_incremental``: checkpointed ``Pipeline.run`` on a base corpus (the
  warm pass), then each repetition resolves one new disjoint delta batch
  with ``run_incremental``, as a crawl would feed it: the committed path
  with its writes, snapshot commits and checkpoint re-reads, and the
  distributed middle that ``Pipeline`` always runs.  Its traced
  repetitions charge each stretch between two snapshot commits to the
  layer of the stage table committed at its end.
- ``corpus_dedup``: four ``operators.corpus`` battery leaves through
  ``__spark_entry__.queries()`` on a corpus with a seeded share of
  near-duplicate template pages (a hot key in the shingle postings); no ER
  workload reaches ``operators.corpus``.
"""

from __future__ import annotations

import gc
import os
import shutil
import statistics
import time
from collections import Counter
from concurrent.futures import ThreadPoolExecutor
from contextlib import nullcontext
from functools import partial

import gen
from harness import closed_loop, start_spark, summarize
from procstat import peak_rss_by_process, steal_seconds
from pyspark.sql import functions as F
from spans import Segments, Tracer

from nilinker_spark.fixtures.kb import make_kb
from nilinker_spark.oracle import ALPHA, MAX_BLOCK_FORMS, TAU, cluster_forms
from nilinker_spark.pipeline import DRIVER_VOCAB_MAX, Pipeline, resolve
from nilinker_spark.snapshots import SnapshotLog
from nilinker_spark.sources.webtext import (
    gazetteer_from_documents,
    load_table,
    webtext_from_documents,
)
from tools.check_oracle import value_hash

RESOLVED_COLS = ["url", "mention_id", "surface", "pos", "norm", "cluster_id"]
# Two more leaves, text_quality and ann_topk_ivf_trained, are left out:
# on some seeds their Spark output differs from their DuckDB twin in the
# 4th decimal (a value on a rounding boundary, e.g. quality 0.4862 vs
# 0.4863 for seed 2 doc 1414 of 5,000 template-share-0.25 docs; cos 0.311
# vs 0.3109 for seed 1 with 2,000 embeddings), so they cannot pass a
# hash-exact check yet.
CORPUS_LEAVES = [
    "dedup_minhash_lsh",
    "dedup_ngram_jaccard",
    "decontaminate",
    "importance_resample",
]
KB_SEED = 42

# er_corpus: sf0.1 `documents` size, tiled once per core (a few 10^3
# English docs per core after the language filter)
CORPUS_BASE_DOCS = 5000
# er_corpus_scaling: share of the timed seconds spent at local[nproc];
# the rest measures local[nproc/4] for the scaling ratio
HI_SHARE = 0.6
# er_vocab: VOCAB_BASE top bigrams x VOCAB_VARIANTS variants = 2,200
# forms, just above DRIVER_VOCAB_MAX (2,000) so the middle is
# distributed while the pure-Python reference check stays affordable.
# The pages plant VOCAB_BASE fixed phrases in filler text, so the top
# bigrams, hence the middle's work, are the same for every seed.
VOCAB_DOCS_PER_CORE = 20
VOCAB_BASE = 100
VOCAB_VARIANTS = 22
VOCAB_PHRASE_SHARE = 0.5
# er_incremental: base corpus per core; each delta batch is 1/8 of it.
# A delta costs ~12 s on a 4-core VM at any size up to this one (its
# Spark jobs and commits, not its documents, take the time)
INCR_DOCS_PER_CORE = 500
INCR_DELTA_FRACTION = 8
# at least this many delta batches per run (the metrics are medians)
INCR_MIN_REPS = 2
# the Pipeline stage tables, by the layer that builds them: a traced
# delta charges the stretch up to a table's commit to that layer
STAGE_LAYER = {
    "mentions": "extract",
    "phrase_vecs": "blocking",
    "block_salt_metrics": "pairs",
    "pairs": "pairs",
    "scored": "scoring",
    "edges": "scoring",
    "clusters": "clustering",
}
# corpus_dedup: 500 docs per core, a quarter of them template pages;
# at least this many repetitions per run
DEDUP_DOCS_PER_CORE = 500
DEDUP_TEMPLATE_SHARE = 0.25
DEDUP_MIN_REPS = 2


def checksum(df) -> tuple[int, int]:
    """(rows, order-free hash of every column): materializes ``df``."""
    row = df.agg(
        F.count("*").alias("n"),
        F.coalesce(F.bit_xor(F.xxhash64(*df.columns)), F.lit(0)).alias("x"),
    ).first()
    return int(row["n"]), int(row["x"])


def dir_size(path: str) -> tuple[int, int]:
    """(bytes, files) under ``path``."""
    total = files = 0
    for root, _dirs, names in os.walk(path):
        for n in names:
            total += os.path.getsize(os.path.join(root, n))
            files += 1
    return total, files


class Run:
    """State of one benchmark invocation: session, tracer, counters and
    the extra fields printed beside the metrics."""

    def __init__(self, seed: int, seconds: float, work: str, trace: bool, cores: int):
        self.seed = seed
        self.seconds = seconds
        self.work = work
        self.trace = trace
        self.cores = cores
        self.spark = None
        self.tracer = Tracer() if trace else None
        self.event_log = os.path.join(work, "eventlog") if trace else None
        self.attempted = 0
        self.failed = 0
        self.detail: dict = {"phases": {}}
        self.t_start = time.monotonic()
        self.kb = make_kb(seed=KB_SEED)

    def mark(self, phase: str) -> None:
        """Record when ``phase`` ended, in seconds since the run began."""
        self.detail["phases"][phase] = time.monotonic() - self.t_start

    def start(self, cores: int) -> None:
        if self.spark is not None:
            self.spark.stop()
        self.spark = start_spark(cores, self.work, self.event_log)
        if self.tracer is not None:
            self.tracer.sc = self.spark.sparkContext
        self.mark(f"session_{cores}")

    def span(self, name: str, rep: str):
        return self.tracer.span(name, rep) if self.tracer else nullcontext()

    def path(self, *parts: str) -> str:
        return os.path.join(self.work, *parts)

    def fail(self, what: str, n: int = 1) -> None:
        self.failed += n
        self.detail.setdefault("check_failures", []).append(what)

    def settle(self) -> None:
        """Collect garbage in the driver and the JVM before a timed section,
        so a collection the previous repetition left due does not land in
        this one."""
        gc.collect()
        self.spark.sparkContext._jvm.System.gc()

    def warm(self, step) -> None:
        """One untimed repetition that must succeed (not counted)."""
        if closed_loop(step, 0)[1]:
            raise RuntimeError("the warm-up repetition raised")

    def loop(self, step, seconds: float, min_reps: int = 1):
        # a traced loop alternates untraced and traced repetitions: it
        # needs one of each to state the tracing overhead
        steal0 = steal_seconds()
        samples, raised = closed_loop(
            step, seconds, min_reps=max(min_reps, 2 if self.trace else 1), settle=self.settle
        )
        # CPU time the host took from this VM while the loop ran: the
        # usual cause of a slow run on a shared machine
        self.detail["steal_s"] = self.detail.get("steal_s", 0) + steal_seconds() - steal0
        self.attempted += len(samples) + raised
        self.failed += raised
        if not samples:
            raise RuntimeError("every repetition raised")
        return samples


# --- ER: resolve() and its traced composition -------------------------------


def traced_resolve(run: Run, wt, gaz, rep: str) -> tuple[int, int]:
    """The operator calls resolve() makes on this input's path, each layer's
    output materialized inside its own span and job group."""
    from nilinker_spark.operators.extract import extract_mentions_df
    from nilinker_spark.operators.scoring import BROADCAST_MAX_FORMS

    spark, tr = run.spark, run.tracer
    with tr.span("extract", rep) as s:
        mentions = extract_mentions_df(spark, wt, gaz).persist()
        forms = mentions.select("norm").distinct().localCheckpoint(eager=False)
        n_forms = forms.count()
        s.counts["rows_out"] = mentions.count()
    if n_forms <= DRIVER_VOCAB_MAX:
        with tr.span("clustering", rep) as s:
            cmap = cluster_forms([r["norm"] for r in forms.collect()], run.kb)
            clusters = spark.createDataFrame(
                sorted(cmap.items()), "norm string, cluster_id string"
            )
            s.counts.update(
                rows_out=len(cmap), clusters=len(set(cmap.values())), driver_path=1
            )
    else:
        clusters = traced_middle(run, forms, n_forms, rep)
    with tr.span("pipeline", rep) as s:
        cl = F.broadcast(clusters) if n_forms <= BROADCAST_MAX_FORMS else clusters
        out = checksum(mentions.join(cl, "norm").select(*RESOLVED_COLS))
        s.counts["rows_out"] = out[0]
    mentions.unpersist()
    return out


def traced_middle(run: Run, forms, n_forms: int, rep: str):
    """S2-S6 of resolve()'s distributed branch, one span per layer.  The
    session settings resolve() applies to this section (form-sized
    shuffle partitions, AQE off) are applied the same way."""
    from nilinker_spark.operators.blocking import block_keys_df, phrase_vectors_df, prefuzz_map
    from nilinker_spark.operators.clustering import (
        CC_DRIVER_MAX_EDGES,
        assign_clusters,
        connected_components,
    )
    from nilinker_spark.operators.pairs import candidate_pairs
    from nilinker_spark.operators.scoring import fused_similarity_edges

    spark, tr = run.spark, run.tracer
    old_parts = spark.conf.get("spark.sql.shuffle.partitions")
    old_aqe = spark.conf.get("spark.sql.adaptive.enabled")
    spark.conf.set(
        "spark.sql.shuffle.partitions", str(max(1, min(int(old_parts), n_forms // 2_000 + 1)))
    )
    if n_forms < 1_000_000:
        spark.conf.set("spark.sql.adaptive.enabled", "false")
    try:
        with tr.span("blocking", rep) as s_block:
            t0 = time.monotonic()
            fmap = prefuzz_map(spark, forms, run.kb)
            s_block.counts["prefuzz_s"] = time.monotonic() - t0
            s_block.counts["oov_tokens"] = len(fmap)
            pvs = phrase_vectors_df(spark, forms, run.kb, fuzzy_map=fmap).localCheckpoint(eager=True)
            blocked = block_keys_df(pvs.select("norm")).localCheckpoint(eager=True)
            s_block.counts["rows_out"] = blocked.count()
        with tr.span("pairs", rep) as s_pairs:
            pairs, salt_metrics = candidate_pairs(blocked, MAX_BLOCK_FORMS)
            pairs = pairs.localCheckpoint(eager=False)
            n_pairs = pairs.count()
            s_pairs.counts["rows_out"] = n_pairs
            s_pairs.counts["hot_blocks"] = salt_metrics.count()
        with tr.span("scoring", rep) as s_score:
            edges = fused_similarity_edges(pairs, pvs, ALPHA, TAU, n_forms=n_forms)
            edges = edges.localCheckpoint(eager=False)
            n_edges = edges.count()
            s_score.counts["rows_out"] = n_edges
            s_score.counts["edge_yield"] = n_edges / max(n_pairs, 1)
        with tr.span("clustering", rep) as s_cc:
            labels = connected_components(edges)
            clusters = assign_clusters(pvs.select("norm"), labels, n_forms=n_forms)
            clusters = clusters.localCheckpoint(eager=True)
            s_cc.counts["rows_out"] = n_forms
            s_cc.counts["driver_path"] = int(n_edges <= CC_DRIVER_MAX_EDGES)
    finally:
        spark.conf.set("spark.sql.shuffle.partitions", old_parts)
        spark.conf.set("spark.sql.adaptive.enabled", old_aqe)
    # waste ratios, counted outside every span (their jobs are overhead)
    s_pairs.counts["dup_ratio"] = n_pairs / max(pairs.distinct().count(), 1)
    s_cc.counts["clusters"] = clusters.select("cluster_id").distinct().count()
    return clusters


def er_loop(run: Run, prep, seconds: float, keep: bool = False):
    """Timed or traced closed loop over resolve().  ``prep(i)`` returns the
    untimed (webtext, gazetteer) of repetition i.  Returns the samples
    and, with ``keep``, the first repetition's (norm, cluster_id) pairs."""
    kept: dict = {}

    def step(i, timed):
        wt, gaz = prep(i)
        if run.trace and i % 2:
            with timed() as extra:
                extra["sum"] = traced_resolve(run, wt, gaz, f"t{i}")
                extra["traced"] = i
        else:
            with timed() as extra:
                res = resolve(run.spark, wt, run.kb, gazetteer=gaz)
                extra["sum"] = checksum(res)
            if i == 0 and keep:
                kept["pairs"] = res.select("norm", "cluster_id").distinct().collect()
                kept["sum"] = extra["sum"]
        run.spark.catalog.clearCache()

    return run.loop(step, seconds), kept


def check_clusters(run: Run, samples, kept, ref: dict, what: str) -> None:
    """The checked output's (norm, cluster_id) pairs must equal ``ref``,
    the shared-function reference ``oracle.cluster_forms``; every
    repetition with that output fails otherwise."""
    got = {r["norm"]: r["cluster_id"] for r in kept["pairs"]}
    if got != ref:
        diff = sum(1 for k in got.keys() | ref.keys() if got.get(k) != ref.get(k))
        run.fail(
            f"{what}: {diff} of {len(got)} forms differ from oracle.cluster_forms",
            same_output(samples, kept),
        )


def same_output(samples, kept) -> int:
    """Repetitions whose output checksum is the checked output's."""
    return sum(1 for s in samples if s.extra.get("sum") == kept["sum"])


def corpus_reference(docs_tbl, gaz: set[str], level: int):
    """Expected mentions (url, mention_id, surface, pos, norm) of
    ``webtext_from_documents(docs, replicate=level)``, from the shared pure
    functions alone: every replica carries its English base document's
    text under the url ``doc://<replica>/<doc_id>``."""
    from nilinker_spark.functions.normalize import extract_text, norm_form
    from nilinker_spark.oracle import extract_mentions, gazetteer_index, mention_id

    gidx = gazetteer_index(gaz)
    memo: dict = {}
    norms: dict[str, str] = {}
    rows = []
    cols = docs_tbl.select(["doc_id", "text", "lang"]).to_pydict()
    for doc_id, text, lang in zip(cols["doc_id"], cols["text"], cols["lang"]):
        if lang != "en":
            continue
        for _mid, surface, pos in extract_mentions("", extract_text(text.encode()), gaz, memo, gidx):
            norm = norms.get(surface) or norms.setdefault(surface, norm_form(surface))
            for r in range(level):
                url = f"doc://{r}/{doc_id}"
                rows.append((url, mention_id(url, pos, surface), surface, pos, norm))
    return rows


def check_corpus(run: Run, samples, res, docs_tbl, gaz: set[str], level: int) -> None:
    """er_corpus's output ``res`` must hold exactly the mentions the shared
    functions extract, each clustered as ``oracle.cluster_forms`` clusters
    the extracted forms.  Every repetition whose output checksum equals
    ``res``'s shares its verdict; check_same_sum fails the others."""
    res = res.persist()
    kept = {"sum": checksum(res)}
    pdf = res.select(*RESOLVED_COLS).toPandas()
    res.unpersist()
    check_same_sum(run, samples, kept, "er_corpus")
    got = sorted(zip(pdf.url, pdf.mention_id, pdf.surface, pdf.pos.astype(int).tolist(), pdf.norm))
    want = sorted(corpus_reference(docs_tbl, gaz, level))
    forms = sorted({m[4] for m in want})
    ref = cluster_forms(forms, run.kb)
    pairs = pdf[["norm", "cluster_id"]].drop_duplicates()
    got_clusters = dict(zip(pairs.norm, pairs.cluster_id))
    problems = []
    if got != want:
        missing, extra = Counter(want) - Counter(got), Counter(got) - Counter(want)
        problems.append(
            f"{sum(missing.values())} expected mentions missing, {sum(extra.values())} unexpected"
        )
    # a form in two clusters shows as fewer map entries than pairs
    if got_clusters != ref or len(got_clusters) != len(pairs):
        diff = sum(1 for k in got_clusters.keys() | ref.keys() if got_clusters.get(k) != ref.get(k))
        problems.append(f"{diff} of {len(ref)} forms clustered unlike oracle.cluster_forms")
    if problems:
        run.fail("er_corpus: " + "; ".join(problems), same_output(samples, kept))
    run.detail["reference"] = {"mentions": len(want), "forms": len(forms)}


def trace_overhead(run: Run, samples) -> None:
    """Median traced repetition wall minus median untraced one."""
    traced = [s.wall_s for s in samples if "traced" in s.extra]
    plain = [s.wall_s for s in samples if "traced" not in s.extra]
    if not traced:
        raise RuntimeError("the traced loop ran no traced repetition; raise --seconds")
    run.detail["trace_overhead_s"] = statistics.median(traced) - statistics.median(plain)


def peak_rss(run: Run) -> float:
    """peak_rss_mb now, with its per-process split kept in the details."""
    procs = peak_rss_by_process()
    split: dict[str, list[float]] = {}
    for name, mb in procs.values():
        split.setdefault(name, []).append(round(mb, 1))
    run.detail["rss_mb_by_process"] = split
    return sum(mb for _name, mb in procs.values())


def end_to_end(run: Run, samples, docs: int, setup_s: float, rss: float) -> dict:
    wall = summarize(samples)
    cpu = summarize(samples, key=lambda s: s.cpu_s)
    io = summarize(samples, key=lambda s: s.io_mb)
    run.detail["wall"] = wall
    run.detail["cpu"] = cpu
    run.detail["io"] = io
    run.detail["cpu_by_process"] = [
        {k: round(v, 2) for k, v in s.extra["cpu_by_process"].items()} for s in samples
    ]
    return {
        "setup_s": setup_s,
        "wall_s": wall["median"],
        "docs_per_s": docs / wall["median"],
        "cpu_s": cpu["median"],
        "io_mb": io["median"],
        "peak_rss_mb": rss,
    }


# --- er_corpus --------------------------------------------------------------


def er_corpus(run: Run, scaling: bool = False) -> dict:
    """``scaling``: also measure the same input per core at
    local[nproc/4] in the same JVM, for ``scaling_eff`` (N vs 4N)."""
    t0 = time.monotonic()
    run.start(run.cores)
    lo = max(1, run.cores // 4)
    scaling = scaling and lo < run.cores and not run.trace
    levels = (run.cores, lo) if scaling else (run.cores,)
    docs_tbl = write_documents(run, "corpus", gen.documents, run.seed, CORPUS_BASE_DOCS)
    spark = run.spark
    with run.span("sources.webtext", "setup") as s:
        docs = load_table(spark, run.path("corpus"), "documents")
        gaz = gazetteer_from_documents(docs)
        for level in levels:
            webtext_from_documents(docs, replicate=level).select("url", "html", "lang").write.parquet(
                run.path(f"webtext_{level}")
            )
        if s is not None:
            s.counts["rows_out"] = docs_tbl.num_rows * sum(levels)
    hi_docs = CORPUS_BASE_DOCS * run.cores
    wt = spark.read.parquet(run.path(f"webtext_{run.cores}"))
    checksum(resolve(spark, wt, run.kb, gazetteer=gaz))  # warm pass
    spark.catalog.clearCache()
    setup_s = time.monotonic() - t0
    run.mark("setup")

    samples, _ = er_loop(run, lambda i: (wt, gaz), run.seconds * (HI_SHARE if scaling else 1))
    rss = peak_rss(run)
    run.mark("loop")
    run.detail["memo"] = "extraction memo warm: every repetition re-reads the same tiled corpus"
    # drift check too: every traced repetition's checksum must be resolve()'s
    check_corpus(run, samples, resolve(spark, wt, run.kb, gazetteer=gaz), docs_tbl, gaz, run.cores)
    spark.catalog.clearCache()
    run.mark("check")
    metrics = end_to_end(run, samples, hi_docs, setup_s, rss)
    if run.trace:
        trace_overhead(run, samples)
    if scaling:
        run.start(lo)
        wt_lo = run.spark.read.parquet(run.path(f"webtext_{lo}"))
        checksum(resolve(run.spark, wt_lo, run.kb, gazetteer=gaz))  # warm pass
        run.spark.catalog.clearCache()
        lo_samples, lo_kept = er_loop(
            run, lambda i: (wt_lo, gaz), run.seconds * (1 - HI_SHARE), keep=True
        )
        check_same_sum(run, lo_samples, lo_kept, "er_corpus lo level")
        lo_wall = statistics.median(s.wall_s for s in lo_samples)
        lo_docs_per_s = CORPUS_BASE_DOCS * lo / lo_wall
        metrics["scaling_eff"] = metrics["docs_per_s"] / ((run.cores / lo) * lo_docs_per_s)
        run.detail["scaling_levels"] = [lo, run.cores]
        run.detail["lo_wall"] = summarize(lo_samples)
    return metrics


def check_same_sum(run: Run, samples, kept, what: str) -> None:
    """Repetitions of one input must all give the checked repetition's output."""
    bad = sum(1 for s in samples if "sum" in s.extra and s.extra["sum"] != kept["sum"])
    if bad:
        run.fail(f"{what}: {bad} repetitions differ from the checked one", bad)


def write_documents(run: Run, name: str, make, *args, **kw):
    """Generate a documents table twice (seed determinism is checked on
    every run), write it under ``name``/documents.parquet."""
    tbl = make(*args, **kw)
    digest = gen.checksum(tbl)
    if gen.checksum(make(*args, **kw)) != digest:
        raise RuntimeError(f"{name}: the same seed gave different inputs")
    run.detail.setdefault("input_checksums", {})[name] = digest
    gen.write(tbl, run.path(name, "documents.parquet"))
    return tbl


# --- er_vocab ---------------------------------------------------------------


def top_bigrams(texts, n: int) -> set[str]:
    """``gazetteer_from_documents``' definition in plain Python: the ``n``
    most frequent word bigrams, ties by surface ascending."""
    counts: Counter = Counter()
    for text in texts:
        toks = text.split(" ")
        counts.update(zip(toks, toks[1:]))
    ranked = sorted(counts.items(), key=lambda kv: (-kv[1], " ".join(kv[0])))
    return {" ".join(bigram) for bigram, _ in ranked[:n]}


def variant_gazetteer(base: set[str], tag: str) -> set[str]:
    """``varied_gazetteer``'s expansion of ``base`` under a repetition tag."""
    return {
        " ".join(f"{t}{tag}v{k}" for t in surface.split(" "))
        for surface in base
        for k in range(VOCAB_VARIANTS)
    }


def vocab_reference(texts: list[str], base: set[str], tag: str, kb) -> dict[str, str]:
    """Expected form -> cluster map of the repetition tagged ``tag``, from
    the shared pure functions alone: oracle extraction over the variant
    texts ``webtext_from_documents`` builds, then ``oracle.cluster_forms``."""
    from nilinker_spark.functions.normalize import extract_text, norm_form
    from nilinker_spark.oracle import extract_mentions, gazetteer_index

    gaz = variant_gazetteer(base, tag)
    gidx = gazetteer_index(gaz)
    memo: dict = {}
    forms = set()
    for text in texts:
        for k in range(VOCAB_VARIANTS):
            page = extract_text(" ".join(f"{t}{tag}v{k}" for t in text.split(" ")).encode())
            for _mid, surface, _pos in extract_mentions("", page, gaz, memo, gidx):
                forms.add(norm_form(surface))
    return cluster_forms(sorted(forms), kb)


def er_vocab(run: Run) -> dict:
    t0 = time.monotonic()
    # below 80 pages the planted phrases recur too rarely to be the top bigrams
    n_slice = max(80, VOCAB_DOCS_PER_CORE * run.cores)
    base_tbl = write_documents(
        run,
        "vocab",
        gen.phrase_documents,
        run.seed,
        n_slice,
        gen.planted_phrases(VOCAB_BASE),
        VOCAB_PHRASE_SHARE,
    )
    texts = base_tbl.column("text").to_pylist()
    expected_base = top_bigrams(texts, VOCAB_BASE)
    # the reference is pure Python on one core: compute it while the
    # session starts and warms, and collect it before the timed loop
    with ThreadPoolExecutor(1) as pool:
        ref = pool.submit(vocab_reference, texts, expected_base, "r000", run.kb)
        run.start(run.cores)
        spark = run.spark
        with run.span("sources.webtext", "setup") as s:
            base = gazetteer_from_documents(
                load_table(spark, run.path("vocab"), "documents"), top_n=VOCAB_BASE
            )
            if s is not None:
                s.counts["rows_out"] = len(base)

        def prep(tag: str):
            # the same bigram structure under a vocabulary no other
            # repetition uses: every token gets `tag`, then
            # webtext_from_documents adds its per-replicate variant suffix
            gen.write(gen.tag_tokens(base_tbl, tag), run.path(tag, "documents.parquet"))
            docs = load_table(spark, run.path(tag), "documents")
            wt = (
                webtext_from_documents(
                    docs, replicate=VOCAB_VARIANTS, vocab_variants=VOCAB_VARIANTS
                )
                .select("url", "html", "lang")
                .localCheckpoint(eager=True)
            )
            return wt, variant_gazetteer(base, tag)

        wt, gaz = prep("w000")
        checksum(resolve(spark, wt, run.kb, gazetteer=gaz))  # warm pass, its own vocabulary
        spark.catalog.clearCache()
        setup_s = time.monotonic() - t0
        run.mark("setup")
        reference = ref.result()
    run.mark("reference")

    samples, kept = er_loop(run, lambda i: prep(f"r{i:03d}"), run.seconds, keep=True)
    rss = peak_rss(run)
    run.mark("loop")
    run.detail["memo"] = "cold: each repetition's vocabulary is new to the fuzzy and norm memos"
    n_forms = len(kept["pairs"])
    run.detail["n_forms"] = n_forms
    if n_forms <= DRIVER_VOCAB_MAX:
        raise RuntimeError(f"er_vocab has {n_forms} forms: the middle would run on the driver")
    if base != expected_base:
        run.detail["gazetteer_differs"] = sorted(base ^ expected_base)
    check_clusters(run, samples, kept, reference, "er_vocab")
    if run.trace:
        trace_overhead(run, samples)
        # drift check: the last traced repetition against resolve() on the
        # same input (its memo entries are warm by now; outputs do not
        # depend on them)
        i = max(s.extra["traced"] for s in samples if "traced" in s.extra)
        traced_sum = next(s.extra["sum"] for s in samples if s.extra.get("traced") == i)
        wt, gaz = prep(f"r{i:03d}")
        if checksum(resolve(spark, wt, run.kb, gazetteer=gaz)) != traced_sum:
            run.fail("er_vocab: traced output differs from resolve()")
        spark.catalog.clearCache()
    return end_to_end(run, samples, n_slice * VOCAB_VARIANTS, setup_s, rss)


# --- er_incremental ---------------------------------------------------------


def er_incremental(run: Run) -> dict:
    t0 = time.monotonic()
    run.start(run.cores)
    spark = run.spark
    n_base = INCR_DOCS_PER_CORE * run.cores
    n_delta = n_base // INCR_DELTA_FRACTION
    write_documents(run, "incr_base", gen.documents, run.seed, n_base, langs=False)
    with run.span("sources.webtext", "setup") as s:
        docs = load_table(spark, run.path("incr_base"), "documents")
        gaz = gazetteer_from_documents(docs)
        base = webtext_from_documents(docs).select("url", "html", "lang").localCheckpoint(eager=True)
        if s is not None:
            s.counts["rows_out"] = n_base
    ckpt = run.path("ckpt")
    pipe = Pipeline(spark, run.kb, ckpt, gazetteer=gaz)
    pipe.run(base)  # warm pass: builds the checkpoint every delta appends to
    spark.catalog.clearCache()
    setup_s = time.monotonic() - t0
    run.mark("setup")

    committed = []  # webtext of the delta batches resolved so far, in order

    def step(i, timed):
        name = f"incr_delta{i}"
        first = n_base + i * n_delta
        write_documents(run, name, gen.documents, run.seed, n_delta, first_id=first, langs=False)
        wt = (
            webtext_from_documents(load_table(spark, run.path(name), "documents"))
            .select("url", "html", "lang")
            .localCheckpoint(eager=True)
        )
        html_bytes = wt.agg(F.sum(F.length("html"))).first()[0]
        bytes0, files0 = dir_size(ckpt)
        traced = run.trace and i % 2 == 1
        with timed() as extra:
            if traced:
                with run.span("pipeline", f"t{i}") as s, delta_traced(run, s) as ct:
                    extra["sum"] = checksum(pipe.run_incremental(wt))
            else:
                extra["sum"] = checksum(pipe.run_incremental(wt))
        committed.append(wt)
        extra["committed"] = len(committed)
        grown, files = dir_size(ckpt)
        extra["write_amp"] = (grown - bytes0) / html_bytes
        if traced:
            extra["traced"] = i
            s.counts.update(
                rows_out=extra["sum"][0], bytes_written=grown - bytes0, files_written=files - files0
            )
            stage_counts(pipe, ct.last)
        spark.catalog.clearCache()

    samples = run.loop(step, run.seconds, INCR_MIN_REPS)
    rss = peak_rss(run)
    run.mark("loop")
    # each delta's result must equal resolve() over the base and every
    # delta committed up to it (the invariant the repo's tests check)
    for smp in samples:
        union = base
        for wt in committed[: smp.extra["committed"]]:
            union = union.unionByName(wt)
        if checksum(resolve(spark, union, run.kb, gazetteer=gaz)) != smp.extra["sum"]:
            run.fail(f"er_incremental: delta {smp.extra['committed']} differs from resolve()")
        spark.catalog.clearCache()
    run.mark("check")
    run.detail["docs"] = {"base": n_base, "delta": n_delta}
    if run.trace:
        trace_overhead(run, samples)
    metrics = end_to_end(run, samples, n_delta, setup_s, rss)
    metrics["delta_s"] = metrics["wall_s"]  # a repetition is one delta batch
    metrics["write_amp"] = statistics.median(s.extra["write_amp"] for s in samples)
    return metrics


def stage_counts(pipe: Pipeline, last: dict) -> None:
    """Rows and waste ratios of the stage tables a traced delta committed,
    read back after it (outside every span, so their jobs are charged to
    no layer) and put on the last span of each layer."""
    from nilinker_spark.operators.clustering import CC_DRIVER_MAX_EDGES

    def rows(stage: str) -> int:
        return pipe.read_stage(stage).count()

    n_pairs, n_edges = rows("pairs"), rows("edges")
    clusters = pipe.read_stage("clusters")
    last["extract"].counts["rows_out"] = rows("mentions")
    last["blocking"].counts["rows_out"] = rows("phrase_vecs")
    last["pairs"].counts.update(
        rows_out=n_pairs,
        dup_ratio=n_pairs / max(pipe.read_stage("pairs").distinct().count(), 1),
        hot_blocks=rows("block_salt_metrics"),
    )
    last["scoring"].counts.update(rows_out=n_edges, edge_yield=n_edges / max(n_pairs, 1))
    last["clustering"].counts.update(
        rows_out=clusters.count(),
        clusters=clusters.select("cluster_id").distinct().count(),
        driver_path=int(n_edges <= CC_DRIVER_MAX_EDGES),
    )


class delta_traced:
    """For the duration of a traced delta, wrap two public functions the
    pipeline calls.  ``SnapshotLog.commit``: each commit runs in a
    ``snapshots`` span and ends a segment of the ``pipeline`` span
    ``parent`` (see spans.Segments), charged to the layer of the committed
    stage table; ``parent`` counts the commits and the time spent in
    them, and ``last`` maps each layer to its last segment.
    ``blocking.prefuzz_map``: its time and the OOV tokens it resolved go
    to the open segment, which the ``phrase_vecs`` commit charges to
    ``blocking``."""

    def __init__(self, run: Run, parent):
        self.run, self.parent = run, parent
        self.last: dict = {}

    def __enter__(self):
        from nilinker_spark.operators import blocking

        tr, parent = self.run.tracer, self.parent
        self.segments = seg = Segments(
            tr, parent.rep, lambda table: STAGE_LAYER.get(table, "pipeline"), "pipeline"
        ).__enter__()
        parent.counts.update(commits=0, commit_s=0.0)
        self.orig_commit = orig_commit = SnapshotLog.commit
        self.orig_prefuzz = orig_prefuzz = blocking.prefuzz_map

        def commit(log, *args, **kwargs):
            t0 = time.monotonic()
            try:
                with tr.span("snapshots", parent.rep):
                    return orig_commit(log, *args, **kwargs)
            finally:
                parent.counts["commits"] += 1
                parent.counts["commit_s"] += time.monotonic() - t0
                ended = seg.cur
                seg.committed(os.path.basename(log.table_dir))
                self.last[ended.name] = ended

        def prefuzz_map(*args, **kwargs):
            t0 = time.monotonic()
            fmap = orig_prefuzz(*args, **kwargs)
            c = seg.cur.counts
            c["prefuzz_s"] = c.get("prefuzz_s", 0) + time.monotonic() - t0
            c["oov_tokens"] = c.get("oov_tokens", 0) + len(fmap)
            return fmap

        SnapshotLog.commit = commit
        blocking.prefuzz_map = prefuzz_map
        return self

    def __exit__(self, *exc):
        from nilinker_spark.operators import blocking

        SnapshotLog.commit = self.orig_commit
        blocking.prefuzz_map = self.orig_prefuzz
        self.segments.__exit__(*exc)
        return False


# --- corpus_dedup -----------------------------------------------------------


def corpus_dedup(run: Run) -> dict:
    import __spark_entry__ as entry
    from nilinker_spark.operators.corpus import release_caches

    t0 = time.monotonic()
    sf = run.path("dedup")
    n_docs = DEDUP_DOCS_PER_CORE * run.cores
    write_documents(
        run, "dedup", gen.documents, run.seed, n_docs, template_share=DEDUP_TEMPLATE_SHARE
    )
    run.start(run.cores)
    spark = run.spark
    queries = entry.queries()

    def step(i, timed):
        traced = run.trace and i % 2 == 1
        outs = {}
        with timed() as extra:
            for leaf in CORPUS_LEAVES:
                with run.span(f"corpus.{leaf}", f"t{i}") if traced else nullcontext() as s:
                    outs[leaf] = queries[leaf](spark, sf).toPandas()
                    if traced:
                        s.counts["rows_out"] = len(outs[leaf])
                release_caches()
        if traced:
            extra["traced"] = i
        extra["hashes"] = {leaf: value_hash(pdf) for leaf, pdf in outs.items()}

    run.warm(step)
    setup_s = time.monotonic() - t0
    run.mark("setup")

    samples = run.loop(step, run.seconds, DEDUP_MIN_REPS)
    rss = peak_rss(run)
    run.mark("loop")
    # every repetition's leaf outputs must hash-match the DuckDB twins,
    # run after the loop so neither the set-up nor the memory figures
    # include them
    want = duckdb_hashes(sf, entry.oracle_sql(), run.cores)
    run.mark("check")
    bad = [s for s in samples if s.extra["hashes"] != want]
    if bad:
        leaves = sorted({k for s in bad for k in want if s.extra["hashes"][k] != want[k]})
        run.fail(f"corpus_dedup: {len(bad)} repetitions differ from the DuckDB twins of {leaves}", len(bad))
    if run.trace:
        trace_overhead(run, samples)
    return end_to_end(run, samples, n_docs, setup_s, rss)


def duckdb_hashes(sf: str, oracle_sql: dict, threads: int) -> dict[str, str]:
    """value_hash of each leaf's DuckDB ``oracle_sql()`` twin on ``sf``."""
    import duckdb

    con = duckdb.connect()
    try:
        con.execute(f"set threads to {threads}")
        # spill files, if any, stay beside the input instead of the cwd
        con.execute(f"set temp_directory = '{sf}/duckdb_tmp'")
        con.execute(f"create view documents as select * from '{sf}/documents.parquet'")
        return {leaf: value_hash(con.execute(oracle_sql[leaf]).df()) for leaf in CORPUS_LEAVES}
    finally:
        con.close()


WORKLOADS = {
    "er_corpus": er_corpus,
    "er_corpus_scaling": partial(er_corpus, scaling=True),
    "er_vocab": er_vocab,
    "er_incremental": er_incremental,
    "corpus_dedup": corpus_dedup,
}
