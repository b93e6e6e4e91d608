"""Resume semantics: kill after stage k, relaunch, identical output,
no duplicated lineage (SURVEY.md §5 'Resume test'; north-rule gate).
Crashes are injected at the one commit mechanism, SnapshotLog.commit
(the ``crash_commit`` fixture)."""

from __future__ import annotations

import os
import shutil
import time

import pytest

from nilinker_spark.functions.hashing import h60_value
from nilinker_spark.pipeline import STAGES, Pipeline
from nilinker_spark.snapshots import SnapshotLog, list_data_files
from nilinker_spark.sources.webtext import WEBTEXT_SCHEMA

KEY = ["url", "mention_id", "pos"]


def _df(spark, rows):
    return spark.createDataFrame(list(rows), WEBTEXT_SCHEMA)


def _sorted(pdf):
    return pdf.sort_values(KEY).reset_index(drop=True)


def _assert_same_clusters(got, want):
    a, b = _sorted(got), _sorted(want)
    assert len(a) == len(b)
    assert (a["cluster_id"].values == b["cluster_id"].values).all()


@pytest.fixture(scope="module")
def scratch_full(spark, kb, webtext_rows, tmp_path_factory):
    """From-scratch checkpointed run over the whole corpus — the output
    every incremental path must converge to."""
    ck = str(tmp_path_factory.mktemp("ck_scratch_full"))
    return Pipeline(spark, kb, ck).run(_df(spark, webtext_rows)).toPandas()


@pytest.fixture(scope="module")
def straight_run(spark, kb, webtext_df, tmp_path_factory):
    """Straight-through run of the fixture corpus (fresh dir)."""
    ck = str(tmp_path_factory.mktemp("ckpt_ref"))
    return Pipeline(spark, kb, ck).run(webtext_df).toPandas()


@pytest.mark.parametrize("kill_after", ["mentions", "edges", "clusters"])
def test_resume_after_kill(spark, kb, webtext_df, straight_run, tmp_path_factory, kill_after):
    ckpt = str(tmp_path_factory.mktemp(f"ckpt_resume_{kill_after}"))

    # killed run + relaunch
    pipe = Pipeline(spark, kb, ckpt)
    assert pipe.run(webtext_df, stop_after=kill_after) is None
    resumed = Pipeline(spark, kb, ckpt).run(webtext_df).toPandas()

    key = ["url", "mention_id"]
    a = straight_run.sort_values(key).reset_index(drop=True)
    b = resumed.sort_values(key).reset_index(drop=True)
    assert a.equals(b), "resumed output differs from straight-through run"

    # exactly one lineage row per completed stage — nothing recomputed
    lin = Pipeline(spark, kb, ckpt).lineage().toPandas()
    per_stage = lin.groupby("stage").size()
    assert (per_stage == 1).all(), per_stage.to_dict()
    assert set(per_stage.index) >= set(STAGES)


def test_stop_after_rejects_unknown_stage(spark, kb, webtext_df, tmp_path):
    """A typo in stop_after must not silently run to completion."""
    with pytest.raises(ValueError, match="not a stage"):
        Pipeline(spark, kb, str(tmp_path)).run(webtext_df, stop_after="scored")
    assert not os.listdir(tmp_path), "a rejected call wrote checkpoints"


def test_compact_rejects_unknown_and_uncommitted_stage(tmp_path):
    """compact() names the problem: an unknown stage is a ValueError like
    stop_after's, and a stage with no commit is a FileNotFoundError —
    neither needs a Spark session."""
    pipe = Pipeline(None, None, str(tmp_path))
    with pytest.raises(ValueError, match="not a stage"):
        pipe.compact("bogus")
    for stage in STAGES:
        with pytest.raises(FileNotFoundError, match="no snapshots"):
            pipe.compact(stage)
    assert not os.listdir(tmp_path), "a rejected compact wrote checkpoints"


def test_rerun_is_noop(spark, kb, webtext_df, tmp_path_factory):
    ckpt = str(tmp_path_factory.mktemp("ckpt_noop"))
    pipe = Pipeline(spark, kb, ckpt)
    first = pipe.run(webtext_df).toPandas()
    n_lineage = pipe.lineage().count()
    second = pipe.run(webtext_df).toPandas()
    assert pipe.lineage().count() == n_lineage, "rerun appended lineage rows"
    key = ["url", "mention_id"]
    assert first.sort_values(key).reset_index(drop=True).equals(
        second.sort_values(key).reset_index(drop=True)
    )


def test_incremental_append_scores_only_new_forms(
    spark, kb, webtext_rows, scratch_full, tmp_path_factory
):
    """Cross-run incremental resume (≙ the reference's kb_cache,
    REEL/pre_process.py:250-307): append docs, rerun — phrase_vecs grows
    by exactly the never-seen forms, and the final clusters are identical
    to a from-scratch run over the full corpus."""
    half = len(webtext_rows) // 2
    ck_inc = str(tmp_path_factory.mktemp("ck_inc"))
    pipe = Pipeline(spark, kb, ck_inc)
    pipe.run(_df(spark, webtext_rows[:half])).count()
    forms_before = {r["norm"] for r in pipe.read_stage("phrase_vecs").select("norm").collect()}

    inc = pipe.run_incremental(_df(spark, webtext_rows[half:])).toPandas()

    pv_after = pipe.read_stage("phrase_vecs")
    forms_after = {r["norm"] for r in pv_after.select("norm").collect()}
    # appended rows == truly-new forms (recomputing old forms would
    # duplicate them in the appended table)
    assert pv_after.count() == len(forms_after)
    assert forms_before <= forms_after

    _assert_same_clusters(inc, scratch_full)
    assert (_sorted(inc)["norm"].values == _sorted(scratch_full)["norm"].values).all()
    # the incremental run really saw new forms (the test is non-vacuous)
    assert len(forms_after) > len(forms_before)


def test_incremental_retry_after_midcall_crash(
    spark, kb, webtext_rows, scratch_full, tmp_path_factory, crash_commit
):
    """A crash right after the mentions append commits, before
    phrase_vecs, followed by a re-run of the SAME batch, must not
    duplicate rows: the retry keeps the committed append and resumes
    from phrase_vecs, and the final output equals a from-scratch run
    (ADVICE r2: run_incremental retry safety)."""
    half = len(webtext_rows) // 2
    df2 = _df(spark, webtext_rows[half:])
    ck = str(tmp_path_factory.mktemp("ck_inc_retry"))
    pipe = Pipeline(spark, kb, ck)
    pipe.run(_df(spark, webtext_rows[:half])).count()
    mentions_rows_before = spark.read.parquet(f"{ck}/mentions").count()

    with crash_commit(table="mentions"), pytest.raises(RuntimeError, match="simulated"):
        pipe.run_incremental(df2)

    # partial append happened (the crash was after a real write)
    assert spark.read.parquet(f"{ck}/mentions").count() > mentions_rows_before

    # retry the same batch: resume + clean completion
    inc = pipe.run_incremental(df2).toPandas()
    _assert_same_clusters(inc, scratch_full)
    # no duplicated mention rows in the appended table
    m = spark.read.parquet(f"{ck}/mentions")
    assert m.count() == m.dropDuplicates(["url", "mention_id"]).count() == len(scratch_full)

    # re-running a COMMITTED batch is an idempotent no-op
    again = pipe.run_incremental(df2).toPandas()
    assert len(again) == len(inc)
    assert m.count() == spark.read.parquet(f"{ck}/mentions").count()


def test_compact_preserves_content_and_resume(spark, kb, webtext_rows, tmp_path_factory):
    """compact(): many part files -> few, identical rows + checksum, table
    still counts as done (its head keeps the batch id) and a lineage
    audit row lands."""
    half = len(webtext_rows) // 2
    ck = str(tmp_path_factory.mktemp("ck_compact"))
    pipe = Pipeline(spark, kb, ck)
    pipe.run(_df(spark, webtext_rows[:half])).count()
    pipe.run_incremental(_df(spark, webtext_rows[half:])).count()  # a second part-file set

    src = os.path.join(ck, "mentions")
    files_before = [f for f in os.listdir(src) if f.startswith("part-")]
    before = pipe.read_stage("mentions").toPandas().sort_values(["url", "mention_id"])
    batch_before = SnapshotLog(src).snapshot()["batch"]

    n_after = pipe.compact("mentions")
    files_after = [f for f in os.listdir(src) if f.startswith("part-")]
    assert len(files_after) < len(files_before)
    assert n_after == len(files_after) == 1  # tiny table -> one file

    after = pipe.read_stage("mentions").toPandas().sort_values(["url", "mention_id"])
    assert before.reset_index(drop=True).equals(after.reset_index(drop=True))
    head = SnapshotLog(src).snapshot()
    assert head["batch"] == batch_before
    lin = pipe.lineage().toPandas()
    assert (lin["stage"] == "compact:mentions").sum() == 1
    # no leftover files: the directory holds exactly the published head
    assert list_data_files(src) == head["files"]


def test_compact_recovers_midswap_crash(spark, kb, webtext_df, tmp_path_factory, crash_commit):
    """A crash between compact()'s rewrite and its commit leaves the
    rewritten files unpublished: the table still reads the original
    content, and the next compact() deletes the orphans and completes
    (never deletes the original)."""
    ck = str(tmp_path_factory.mktemp("ck_compact_crash"))
    pipe = Pipeline(spark, kb, ck)
    pipe.run(webtext_df).count()
    src = os.path.join(ck, "mentions")
    before = pipe.read_stage("mentions").toPandas().sort_values(["url", "mention_id"])
    head_files = SnapshotLog(src).snapshot()["files"]

    with crash_commit(table="mentions", publish=False), pytest.raises(
        RuntimeError, match="simulated"
    ):
        pipe.compact("mentions")
    assert set(list_data_files(src)) > set(head_files), "crash did not land after the rewrite"
    mid = pipe.read_stage("mentions").toPandas().sort_values(["url", "mention_id"])
    assert before.reset_index(drop=True).equals(mid.reset_index(drop=True))

    n_files = pipe.compact("mentions")
    assert n_files >= 1
    after = pipe.read_stage("mentions").toPandas().sort_values(["url", "mention_id"])
    assert before.reset_index(drop=True).equals(after.reset_index(drop=True))
    assert list_data_files(src) == SnapshotLog(src).snapshot()["files"]
    shutil.rmtree(ck)


def test_compact_aborts_rewrite_with_other_content(spark, kb, webtext_rows, tmp_path, monkeypatch):
    """compact() re-reads its rewrite and compares it with the head's
    lineage: a rewrite that lost rows is deleted unpublished, and the
    table keeps its head and files."""
    pipe = Pipeline(spark, kb, str(tmp_path))
    pipe.run(_df(spark, webtext_rows[:40])).count()
    src = str(tmp_path / "mentions")
    head = SnapshotLog(src).snapshot()
    real_read = SnapshotLog.read
    monkeypatch.setattr(SnapshotLog, "read", lambda log, *a, **k: real_read(log, *a, **k).limit(1))
    with pytest.raises(RuntimeError, match="changed content"):
        pipe.compact("mentions")
    monkeypatch.undo()
    assert SnapshotLog(src).snapshot() == head
    assert list_data_files(src) == head["files"]
    assert pipe.read_stage("mentions").count() == head["lineage"]["rows"] > 1


def test_incremental_crash_then_different_batch(
    spark, kb, webtext_rows, scratch_full, tmp_path_factory, crash_commit
):
    """ADVICE r3 (medium): batch A crashes mid-call (after the mentions
    append, before phrase_vecs); the NEXT call is a DIFFERENT batch B.
    B's entry must roll A's partial append back — otherwise A's mention
    rows are baked in while their forms never reach phrase_vecs, and the
    inner join silently drops those mentions.  Afterwards re-applying A
    converges to the full-corpus scratch run."""
    third = len(webtext_rows) // 3
    rows_base = webtext_rows[:third]
    rows_a = webtext_rows[third : 2 * third]
    rows_b = webtext_rows[2 * third :]
    df_a = _df(spark, rows_a)

    ck = str(tmp_path_factory.mktemp("ck_inc_cross"))
    pipe = Pipeline(spark, kb, ck)
    pipe.run(_df(spark, rows_base)).count()

    with crash_commit(table="mentions"), pytest.raises(RuntimeError, match="simulated"):
        pipe.run_incremental(df_a)

    # batch B (different batch id) must first roll A's partial append back
    inc_b = pipe.run_incremental(_df(spark, rows_b)).toPandas()
    ck_scr = str(tmp_path_factory.mktemp("ck_scr_base_b"))
    scratch_b = Pipeline(spark, kb, ck_scr).run(_df(spark, rows_base + rows_b)).toPandas()
    assert len(inc_b) == len(scratch_b), "batch A's partial append leaked into batch B"
    _assert_same_clusters(inc_b, scratch_b)
    # A's urls are fully gone from the mentions table
    a_urls = {r[0] for r in rows_a}
    m_urls = {
        r["url"]
        for r in spark.read.parquet(f"{ck}/mentions").select("url").distinct().collect()
    }
    assert not (a_urls & m_urls), "rolled-back batch left mention rows behind"

    # re-applying A afterwards converges to the full-corpus scratch run
    _assert_same_clusters(pipe.run_incremental(df_a).toPandas(), scratch_full)


def test_wal_tail_stage_recovery(
    spark, kb, webtext_rows, scratch_full, tmp_path_factory, crash_commit
):
    """ADVICE r4 (medium): a crash AFTER the final `resolved` write but
    BEFORE its commit leaves the tail tables holding batch content while
    the batch never committed.  A later run() must roll the
    mention/phrase_vecs appends back and serve the committed `resolved`,
    never resolved rows whose mentions no longer exist."""
    half = len(webtext_rows) // 2
    rows_a = webtext_rows[half:]
    df_base = _df(spark, webtext_rows[:half])
    df_a = _df(spark, rows_a)

    ck = str(tmp_path_factory.mktemp("ck_wal_tail"))
    pipe = Pipeline(spark, kb, ck)
    base = pipe.run(df_base).toPandas()  # materialize BEFORE the overwrite

    with crash_commit(table="resolved", publish=False), pytest.raises(
        RuntimeError, match="simulated"
    ):
        pipe.run_incremental(df_a)

    # non-vacuous: the unpublished resolved files really contain batch urls
    a_urls = {r[0] for r in rows_a}
    stale_urls = {
        r["url"]
        for r in spark.read.parquet(f"{ck}/resolved").select("url").distinct().collect()
    }
    assert a_urls & stale_urls, "crash did not land after the tail rewrite"

    # a fresh process calling run() must not serve the stale tail
    pipe2 = Pipeline(spark, kb, ck)
    out = pipe2.run(df_base).toPandas()
    assert not (a_urls & set(out["url"])), "stale resolved served after rollback"
    _assert_same_clusters(out, base)
    m_urls = {r["url"] for r in pipe2.read_stage("mentions").select("url").distinct().collect()}
    assert not (a_urls & m_urls), "the crashed batch's mentions were not rolled back"

    # re-applying the batch afterwards converges to the full-corpus run
    _assert_same_clusters(pipe2.run_incremental(df_a).toPandas(), scratch_full)


@pytest.mark.parametrize("s1", ["driver", "worker"])
def test_crash_at_every_commit_point(
    spark, kb, webtext_rows, tmp_path_factory, crash_commit, monkeypatch, s1
):
    """SnapshotLog.commit raises at each commit point of run() and of
    run_incremental() in turn, right after publishing; plus once for an
    overwrite stage and once for an append stage whose files are written
    but never committed.  A delta with no new form (the by-reference
    middle and the ``resolved`` append) is crashed at each commit point
    both after and in place of publishing.  Every relaunch gives output
    identical to an uninterrupted run, with one lineage row per stage of
    each batch and no unreferenced data file left behind.  The batches
    fit one extraction task, so S1 runs on the driver; ``s1="worker"``
    lowers the limit so that it runs in Python workers."""
    from nilinker_spark import pipeline as P

    if s1 == "worker":
        monkeypatch.setattr(P, "_DOCS_PER_EXTRACT_TASK", 1)
    df_base = _df(spark, webtext_rows[:48])
    deltas = {
        "inc": _df(spark, webtext_rows[48:72]),
        "same": _df(spark, [(url + "?copy", *rest) for url, *rest in webtext_rows[:48]]),
    }
    key = ["url", "mention_id"]

    def out(res):
        return res.toPandas().sort_values(key).reset_index(drop=True)

    def check_clean(ck):
        for stage in STAGES:
            d = os.path.join(ck, stage)
            assert list_data_files(d) == SnapshotLog(d).snapshot()["files"], stage

    root = tmp_path_factory.mktemp("ck_crash")
    base_ck = str(root / "base")
    ref = {"run": out(Pipeline(spark, kb, base_ck).run(df_base))}
    for call, df in deltas.items():
        shutil.copytree(base_ck, str(root / f"{call}_ref"))
        ref[call] = out(Pipeline(spark, kb, str(root / f"{call}_ref")).run_incremental(df))
        assert len(ref[call]) > len(ref["run"])
    # the no-new-form delta really keeps the middle and appends resolved
    def head(ck, stage):
        return SnapshotLog(os.path.join(ck, stage)).snapshot()

    same_ck = str(root / "same_ref")
    assert head(same_ck, "clusters")["files"] == head(base_ck, "clusters")["files"]
    assert head(same_ck, "resolved")["operation"] == "append"

    def batch(pipe, call):
        return pipe.run(df_base) if call == "run" else pipe.run_incremental(deltas[call])

    points = [("run", k, None, True) for k in range(1, len(STAGES) + 1)]
    points += [("inc", k, None, True) for k in range(1, len(STAGES) + 1)]
    points += [("run", 1, "pairs", False), ("inc", 1, "phrase_vecs", False)]
    points += [("same", k, None, p) for k in range(1, len(STAGES) + 1) for p in (True, False)]
    for i, (call, n, table, publish) in enumerate(points):
        ck = str(root / f"p{i}")
        if call != "run":
            shutil.copytree(base_ck, ck)
        with crash_commit(n=n, table=table, publish=publish), pytest.raises(
            RuntimeError, match="simulated"
        ):
            batch(Pipeline(spark, kb, ck), call)
        pipe = Pipeline(spark, kb, ck)
        got = out(batch(pipe, call))
        assert got.equals(ref[call]), (call, n, table, publish)
        per_stage = pipe.lineage().toPandas().groupby("stage").size()
        assert (per_stage == (1 if call == "run" else 2)).all(), (call, n, per_stage.to_dict())
        check_clean(ck)
        shutil.rmtree(ck)


def test_empty_append_writes_no_file(spark, kb, webtext_rows, tmp_path):
    """A delta whose forms are all committed already appends no row to
    phrase_vecs, and one with no English page appends no mention: each
    such append commits the head's file list under the new batch id, with
    the same rows and checksum, and leaves no schema-only part file."""
    rows = webtext_rows[:40]
    pipe = Pipeline(spark, kb, str(tmp_path))
    n_base = pipe.run(_df(spark, rows)).count()
    # the same pages under new urls: new mentions, no new form
    same_forms = [(url + "?copy", *rest) for url, *rest in rows]
    # one non-English page: no mention at all
    no_mentions = [(rows[0][0] + "?de", *rows[0][1:4], "de")]
    for delta, empty in ((same_forms, ["phrase_vecs"]), (no_mentions, ["mentions", "phrase_vecs"])):
        heads = {st: SnapshotLog(str(tmp_path / st)).snapshot() for st in empty}
        pipe.run_incremental(_df(spark, delta)).count()
        for st in empty:
            d = str(tmp_path / st)
            new = SnapshotLog(d).snapshot()
            assert new["version"] == heads[st]["version"] + 1 and new["batch"] != heads[st]["batch"]
            assert new["files"] == heads[st]["files"] == list_data_files(d), st
            assert {k: new["lineage"][k] for k in ("rows", "checksum")} == {
                k: heads[st]["lineage"][k] for k in ("rows", "checksum")
            }, st
    assert pipe.read_stage("mentions").count() == pipe.read_stage("resolved").count() == 2 * n_base


def test_pipeline_reads_no_manifest_it_wrote(spark, kb, webtext_rows, tmp_path, monkeypatch):
    """A Pipeline keeps one SnapshotLog per stage and every commit caches
    the manifest it publishes: a second run_incremental on the same
    Pipeline opens no manifest file twice, and none this process wrote —
    recovery, the stage loop and the final read take them from memory."""
    import collections
    import re

    from nilinker_spark import snapshots

    pipe = Pipeline(spark, kb, str(tmp_path))
    pipe.run(_df(spark, webtext_rows[:32])).count()
    pipe.run_incremental(_df(spark, webtext_rows[32:48])).count()
    opened = collections.Counter()

    def spy(path, *args, **kwargs):
        if re.search(r"__snaplog/v\d+\.json$", str(path)):
            opened[os.path.normpath(str(path))] += 1
        return open(path, *args, **kwargs)

    monkeypatch.setattr(snapshots, "open", spy, raising=False)
    res = pipe.run_incremental(_df(spark, webtext_rows[48:64]))
    assert res.count() > 0
    assert all(n == 1 for n in opened.values()), opened
    # every manifest of this checkpoint was written by this process
    written = {
        os.path.normpath(os.path.join(str(tmp_path), f"{st}__snaplog", n))
        for st in STAGES
        for n in os.listdir(tmp_path / f"{st}__snaplog")
    }
    assert not set(opened) & written, sorted(opened)


def test_small_batch_extracts_in_one_task(spark, kb, webtext_rows, tmp_path, monkeypatch):
    """S1 runs in ceil(docs / _DOCS_PER_EXTRACT_TASK) tasks, never more
    than the webtext's partitions: a batch of at least partitions x that
    many docs writes one mentions part file per partition.  A delta of a
    few pages fits one task, so S1 runs on the driver, and it adds
    exactly one mentions part file."""
    from nilinker_spark import pipeline

    parts = spark.sparkContext.defaultParallelism
    base = _df(spark, webtext_rows[: 10 * parts])
    delta = _df(spark, webtext_rows[10 * parts : 10 * parts + 8])
    assert base.rdd.getNumPartitions() == delta.rdd.getNumPartitions() == parts > 1
    pipe = Pipeline(spark, kb, str(tmp_path))
    log = SnapshotLog(str(tmp_path / "mentions"))
    with monkeypatch.context() as m:
        m.setattr(pipeline, "_DOCS_PER_EXTRACT_TASK", 10)
        pipe.run(base).count()
    committed = log.snapshot()["files"]
    assert len(committed) == parts
    pipe.run_incremental(delta).count()
    head = SnapshotLog(str(tmp_path / "mentions")).snapshot()["files"]
    assert len(set(head) - set(committed)) == 1 and set(committed) <= set(head)


@pytest.mark.parametrize("docs", [16, 17])
def test_s1_driver_and_worker_paths_agree(spark, kb, webtext_rows, tmp_path, monkeypatch, docs):
    """A delta of ``docs`` pages goes through S1 on the driver, with
    _DOCS_PER_EXTRACT_TASK at ``docs``, and in Python workers, with it at
    ``docs - 1``: the batches right at the limit and one past it.  From
    the same checkpoint both commit the same mentions rows, one new
    mentions part file (the delta is one partition), the same batch id,
    and every stage head with the same lineage (rows, checksum) — the
    delta brings new forms, so S2's set difference on the driver meets
    its anti-join."""
    from nilinker_spark import pipeline as P

    base_ck = tmp_path / "base"
    Pipeline(spark, kb, str(base_ck)).run(_df(spark, webtext_rows[:40])).count()
    base_mentions = SnapshotLog(str(base_ck / "mentions")).snapshot()["files"]
    base_forms = SnapshotLog(str(base_ck / "phrase_vecs")).snapshot()["lineage"]["rows"]
    delta = _df(spark, webtext_rows[40 : 40 + docs]).repartition(1)
    scans = []
    frame = type(delta)  # the session's DataFrame class, which defines mapInPandas
    real_driver, real_worker = P.mention_rows, frame.mapInPandas
    monkeypatch.setattr(P, "mention_rows", lambda *a: scans.append("driver") or real_driver(*a))
    monkeypatch.setattr(
        frame, "mapInPandas", lambda *a, **k: scans.append("worker") or real_worker(*a, **k)
    )
    got = {}
    for path, limit in (("driver", docs), ("worker", docs - 1)):
        ck = tmp_path / path
        shutil.copytree(base_ck, ck)
        monkeypatch.setattr(P, "_DOCS_PER_EXTRACT_TASK", limit)
        scans.clear()
        resolved = Pipeline(spark, kb, str(ck)).run_incremental(delta).toPandas()
        assert scans == [path]
        heads = {st: SnapshotLog(str(ck / st)).snapshot() for st in STAGES}
        mentions = heads["mentions"]["files"]
        assert len(set(mentions) - set(base_mentions)) == 1 and set(base_mentions) < set(mentions)
        assert heads["phrase_vecs"]["lineage"]["rows"] > base_forms, "the delta brought no new form"
        got[path] = (
            _sorted(Pipeline(spark, kb, str(ck)).read_stage("mentions").toPandas()),
            _sorted(resolved),
            {st: (h["batch"], h["lineage"]["rows"], h["lineage"]["checksum"]) for st, h in heads.items()},
        )
    (m_d, r_d, h_d), (m_w, r_w, h_w) = got["driver"], got["worker"]
    assert m_d.equals(m_w) and r_d.equals(r_w)
    assert h_d == h_w


def test_driver_built_tables_commit_one_file(spark, kb, webtext_rows, tmp_path):
    """A frame built on the driver is committed as one part file: after
    run() the mentions, phrase_vecs and four middle heads list one file
    each; a delta with new forms appends one file to mentions and to
    phrase_vecs and rewrites each middle table as one.  ``max_block=2``
    makes salting fire, so block_salt_metrics has rows."""
    built = ["mentions", "phrase_vecs"] + MIDDLE

    def n_files():
        return {st: len(SnapshotLog(str(tmp_path / st)).snapshot()["files"]) for st in built}

    pipe = Pipeline(spark, kb, str(tmp_path), max_block=2)
    pipe.run(_df(spark, webtext_rows[:40])).count()
    forms = pipe.read_stage("phrase_vecs").count()
    assert n_files() == dict.fromkeys(built, 1)
    pipe.run_incremental(_df(spark, webtext_rows[40:80])).count()
    assert pipe.read_stage("phrase_vecs").count() > forms, "the delta brought no new form"
    assert n_files() == {**dict.fromkeys(built, 1), "mentions": 2, "phrase_vecs": 2}


def test_observed_lineage_equals_committed_files(spark, kb, webtext_rows, tmp_path, monkeypatch):
    """Each commit's lineage (rows, checksum) is observed during its
    write: after a run and two deltas (the second adds no new form, so
    phrase_vecs appends 0 rows) every stage head's lineage equals the
    frame_signature of the committed table, and _commit re-reads written
    files only on compact()'s verified path."""
    from pyspark.sql import DataFrameReader

    from nilinker_spark.functions.hashing import frame_signature

    inside, reads = [False], [0]
    real_commit, real_parquet = Pipeline._commit, DataFrameReader.parquet

    def commit(self, *args, **kwargs):
        inside[0] = True
        try:
            return real_commit(self, *args, **kwargs)
        finally:
            inside[0] = False

    def parquet(self, *paths, **kwargs):
        reads[0] += inside[0]
        return real_parquet(self, *paths, **kwargs)

    monkeypatch.setattr(Pipeline, "_commit", commit)
    monkeypatch.setattr(DataFrameReader, "parquet", parquet)
    pipe = Pipeline(spark, kb, str(tmp_path))
    pipe.run(_df(spark, webtext_rows[:32])).count()
    pipe.run_incremental(_df(spark, webtext_rows[32:48])).count()
    vecs = SnapshotLog(str(tmp_path / "phrase_vecs")).snapshot()
    same_forms = [(url + "?copy", *rest) for url, *rest in webtext_rows[:16]]
    pipe.run_incremental(_df(spark, same_forms)).count()
    assert SnapshotLog(str(tmp_path / "phrase_vecs")).snapshot()["files"] == vecs["files"]
    assert reads == [0]
    for stage in STAGES:
        table = pipe.read_stage(stage)
        lin = SnapshotLog(str(tmp_path / stage)).snapshot()["lineage"]
        assert (lin["rows"], lin["checksum"]) == frame_signature(table, *table.columns), stage
    pipe.compact("mentions")
    assert reads == [1]


def _copies(rows, tag):
    """The same pages under new urls: new mentions, no new form."""
    return [(url + tag, *rest) for url, *rest in rows]


def _assert_equals_resolve(spark, kb, got, rows, **kw):
    """``got`` (a resolved frame) equals resolve() over ``rows``, with no
    duplicated (url, mention_id)."""
    from nilinker_spark.pipeline import resolve

    got = got.toPandas()
    want = resolve(spark, _df(spark, rows), kb, **kw).toPandas()
    spark.catalog.clearCache()
    assert not got.duplicated(["url", "mention_id"]).any()
    assert _sorted(got).equals(_sorted(want))


MIDDLE = ["block_salt_metrics", "pairs", "edges", "clusters"]


@pytest.mark.parametrize("vocab_max", [None, 0])
def test_no_new_form_delta_keeps_middle_by_reference(
    spark, kb, webtext_rows, tmp_path, monkeypatch, vocab_max
):
    """A delta with no new form commits the phrase_vecs and four middle
    heads' file lists again, with no Spark job between the phrase_vecs
    and clusters commits; resolved gains exactly one part file, holding
    the delta's mentions joined with the clusters.  A Pipeline reopened
    on the same checkpoint with another alpha recomputes the middle and
    rewrites resolved.  ``vocab_max=0`` forces the distributed middle."""
    from nilinker_spark import pipeline as P
    from nilinker_spark.pipeline import RESOLVED_COLS

    if vocab_max is not None:
        monkeypatch.setattr(P, "DRIVER_VOCAB_MAX", vocab_max)
    sc = spark.sparkContext
    rows = webtext_rows[:40]
    pipe = Pipeline(spark, kb, str(tmp_path))
    pipe.run(_df(spark, rows)).count()

    def heads():
        return {st: SnapshotLog(str(tmp_path / st)).snapshot() for st in STAGES}

    before = heads()
    # each commit starts a new job group named after the committed table
    real = SnapshotLog.commit

    def commit(log, *args, **kwargs):
        try:
            return real(log, *args, **kwargs)
        finally:
            sc.setJobGroup(f"after-{os.path.basename(log.table_dir)}", "test")

    delta = _copies(rows, "?copy")
    with monkeypatch.context() as m:
        m.setattr(SnapshotLog, "commit", commit)
        got = pipe.run_incremental(_df(spark, delta))
    sc.setJobGroup("after-run", "test")
    spark.range(1).count()
    st = sc.statusTracker()
    while not st.getJobIdsForGroup("after-run"):  # the listener runs behind
        time.sleep(0.05)
    sc.setLocalProperty("spark.jobGroup.id", None)
    for stage in ["phrase_vecs"] + MIDDLE[:-1]:
        assert st.getJobIdsForGroup(f"after-{stage}") == [], stage
    assert st.getJobIdsForGroup("after-clusters"), "the resolved append ran no job"

    after = heads()
    for stage in ["phrase_vecs"] + MIDDLE:
        assert after[stage]["files"] == before[stage]["files"], stage
        assert after[stage]["batch"] != before[stage]["batch"], stage
    new = set(after["resolved"]["files"]) - set(before["resolved"]["files"])
    assert len(new) == 1 and set(before["resolved"]["files"]) < set(after["resolved"]["files"])
    changes = pipe.read_stage_changes("resolved", before["resolved"]["version"]).toPandas()
    mentions = pipe.read_stage_changes("mentions", before["mentions"]["version"])
    want = mentions.join(pipe.read_stage("clusters"), "norm").select(*RESOLVED_COLS).toPandas()
    assert len(changes) > 0 and _sorted(changes).equals(_sorted(want))
    _assert_equals_resolve(spark, kb, got, rows + delta)

    # another alpha: nothing of the middle is kept
    delta2 = _copies(rows, "?copy2")
    got = Pipeline(spark, kb, str(tmp_path), alpha=0.3).run_incremental(_df(spark, delta2))
    _assert_equals_resolve(spark, kb, got, rows + delta + delta2, alpha=0.3)
    again = heads()
    for stage in MIDDLE + ["resolved"]:
        assert not set(again[stage]["files"]) & set(after[stage]["files"]), stage
    assert again["resolved"]["operation"] == "overwrite"


def test_crashed_new_form_batch_is_not_reused(
    spark, kb, webtext_rows, tmp_path, crash_commit
):
    """Batch A brings new forms and crashes right after publishing its
    clusters commit; batch B, with no new form, rolls A back and must
    recompute the middle from its own phrase_vecs, not keep A's."""
    base, rows_a = webtext_rows[:40], webtext_rows[40:80]
    pipe = Pipeline(spark, kb, str(tmp_path))
    pipe.run(_df(spark, base)).count()
    forms = pipe.read_stage("phrase_vecs").count()
    with crash_commit(table="clusters"), pytest.raises(RuntimeError, match="simulated"):
        pipe.run_incremental(_df(spark, rows_a))
    crashed = {st: SnapshotLog(str(tmp_path / st)).snapshot() for st in MIDDLE}
    assert pipe.read_stage("phrase_vecs").count() > forms, "A brought no new form"

    rows_b = _copies(base, "?b")
    got = pipe.run_incremental(_df(spark, rows_b))
    _assert_equals_resolve(spark, kb, got, base + rows_b)
    assert pipe.read_stage("phrase_vecs").count() == forms
    for st in MIDDLE:
        head = SnapshotLog(str(tmp_path / st)).snapshot()
        assert not set(head["files"]) & set(crashed[st]["files"]), st
        vecs = SnapshotLog(str(tmp_path / "phrase_vecs")).snapshot()
        assert head["inputs"]["phrase_vecs"] == h60_value("\n".join(vecs["files"])), st


@pytest.mark.parametrize(
    "stage, op", [("mentions", "overwrite"), ("resolved", "append"), ("phrase_vecs", "overwrite")]
)
def test_compaction_between_deltas(spark, kb, webtext_rows, tmp_path, stage, op):
    """compact() between two deltas with no new form: the next delta's
    resolved equals resolve() with no duplicated row.  A compacted
    mentions table no longer lists the files resolved recorded, and a
    compacted phrase_vecs gives the middle new inputs, so resolved is
    rewritten; a compacted resolved keeps appending."""
    rows = webtext_rows[:40]
    d1, d2 = _copies(rows, "?d1"), _copies(rows, "?d2")
    pipe = Pipeline(spark, kb, str(tmp_path))
    pipe.run(_df(spark, rows)).count()
    pipe.run_incremental(_df(spark, d1)).count()
    pipe.compact(stage)
    got = pipe.run_incremental(_df(spark, d2))
    _assert_equals_resolve(spark, kb, got, rows + d1 + d2)
    assert SnapshotLog(str(tmp_path / "resolved")).snapshot()["operation"] == op
