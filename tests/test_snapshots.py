"""Snapshot log: isolation, time travel, CAS commits, expiry, and its
composition with the pipeline's batch recovery and compaction.

The transaction-log half of the Iceberg stand-in (snapshots.py module
docs; README swap table).  The reference has no table format at all —
it rewrites pickle/npy files in place (≙ src/REEL/pre_process.py:250)."""

from __future__ import annotations

import os

import pytest

from nilinker_spark.pipeline import Pipeline
from nilinker_spark.snapshots import (
    SnapshotConflict,
    SnapshotExpired,
    SnapshotLog,
    list_data_files,
)


def _write(spark, path, rows, mode="overwrite", schema="id long, val string"):
    spark.createDataFrame(rows, schema).coalesce(1).write.mode(mode).parquet(path)


def _stage(spark, log, rows, schema="id long, val string"):
    """Write rows as one new uncommitted part file; returns its path."""
    return log.write(spark.createDataFrame(rows, schema).coalesce(1))


def test_commit_read_roundtrip_and_history(spark, tmp_path):
    d = str(tmp_path / "t")
    log = SnapshotLog(d)
    assert log.latest_version() is None

    _write(spark, d, [(1, "a"), (2, "b")])
    assert log.commit("overwrite", list_data_files(d)) == 0
    _write(spark, d, [(3, "c")], mode="append")
    assert log.commit("append", list_data_files(d)) == 1

    assert sorted(r.id for r in log.read(spark).collect()) == [1, 2, 3]
    assert sorted(r.id for r in log.read(spark, 0).collect()) == [1, 2]
    hist = log.history()
    assert [h["version"] for h in hist] == [0, 1]
    assert [h["operation"] for h in hist] == ["overwrite", "append"]


def test_snapshot_isolation_under_concurrent_append(spark, tmp_path):
    """A reader pinned to a version sees NONE of a later append — the
    property a live-directory read (spark.read.parquet(dir)) lacks."""
    d = str(tmp_path / "t")
    _write(spark, d, [(1, "a")])
    log = SnapshotLog(d)
    v0 = log.commit("overwrite", list_data_files(d))

    pinned = log.read(spark, v0)  # resolved to v0's files at plan time
    _write(spark, d, [(2, "b")], mode="append")
    log.commit("append", list_data_files(d))

    assert [r.id for r in pinned.collect()] == [1]
    assert sorted(r.id for r in log.read(spark).collect()) == [1, 2]


def test_concurrent_writers_cas(spark, tmp_path):
    """Two writers race from the same base version: exactly one wins;
    the loser gets SnapshotConflict and its retry lands on top."""
    d = str(tmp_path / "t")
    _write(spark, d, [(1, "a")])
    w1, w2 = SnapshotLog(d), SnapshotLog(d)
    base_files = list_data_files(d)

    assert w1.commit("overwrite", files=base_files) == 0
    # w2 read latest == None before w1 published; its commit targets v0
    import json

    manifest_v0 = w2._version_path(0)
    assert os.path.exists(manifest_v0)
    with pytest.raises(SnapshotConflict):
        # simulate the stale-base race: force w2 to target version 0
        tmp = os.path.join(w2.log_dir, ".tmp-race.json")
        with open(tmp, "w") as fh:
            json.dump({"version": 0, "operation": "append", "files": base_files,
                       "schema": None, "parent": None, "ts": 0.0}, fh)
        try:
            os.link(tmp, manifest_v0)
        except FileExistsError:
            raise SnapshotConflict("raced") from None
        finally:
            os.remove(tmp)
    # the losing writer retries against the fresh latest and succeeds
    assert w2.commit("append", list_data_files(d)) == 1
    # no stale temp manifests leak into the log dir
    assert not [n for n in os.listdir(w2.log_dir) if n.startswith(".tmp")]


def test_expired_version_raises_not_misreads(spark, tmp_path):
    d = str(tmp_path / "t")
    _write(spark, d, [(1, "a")])
    log = SnapshotLog(d)
    log.commit("overwrite", list_data_files(d))
    _write(spark, d, [(9, "z")])  # overwrite replaces the part files
    log.commit("overwrite", list_data_files(d))

    assert [r.id for r in log.read(spark).collect()] == [9]
    with pytest.raises(SnapshotExpired):
        log.read(spark, 0)
    # history of the expired version is still auditable
    assert log.history()[0]["version"] == 0


def test_schema_evolution_add_column(spark, tmp_path):
    """Append files carrying a NEW column: the latest version null-fills
    old files under its wider schema; the old version reads with its own
    narrower schema (no phantom column)."""
    d = str(tmp_path / "t")
    _write(spark, d, [(1, "a")])
    log = SnapshotLog(d)
    v0 = log.commit("overwrite", list_data_files(d))
    _write(spark, d, [(2, "b", 7.5)], mode="append", schema="id long, val string, score double")
    v1 = log.commit("append", list_data_files(d))

    old = log.read(spark, v0)
    assert old.columns == ["id", "val"]
    new = log.read(spark, v1).toPandas().sort_values("id")
    assert list(new.columns) == ["id", "val", "score"]
    assert new[new.id == 1]["score"].isna().all()
    assert new[new.id == 2]["score"].iloc[0] == 7.5


def test_pipeline_time_travel_across_incremental(
    spark, kb, webtext_rows, webtext_frame, tmp_path_factory
):
    """run() then run_incremental(): the pre-batch mentions version stays
    readable and equals the pre-batch table exactly (time travel), while
    the latest version contains the appended batch."""
    base = webtext_frame(webtext_rows[:300])
    inc = webtext_frame(webtext_rows[300:])
    ckpt = str(tmp_path_factory.mktemp("ckpt_snap_tt"))
    pipe = Pipeline(spark, kb, ckpt)
    pipe.run(base)

    pre = pipe.read_stage("mentions").toPandas()
    pre_version = SnapshotLog(pipe._path("mentions")).latest_version()
    pipe.run_incremental(inc)

    travelled = pipe.read_stage("mentions", version=pre_version).toPandas()
    key = ["url", "mention_id"]
    assert travelled.sort_values(key).reset_index(drop=True).equals(
        pre.sort_values(key).reset_index(drop=True)
    )
    latest = pipe.read_stage("mentions").toPandas()
    assert len(latest) > len(pre)
    ops = [h["operation"] for h in pipe.stage_history("mentions")]
    assert ops[-1] == "append" and "overwrite" in ops

    # incremental consumption: the delta read IS the appended batch —
    # a downstream updater processes exactly these rows, not a rescan
    delta = pipe.read_stage_changes("mentions", pre_version).toPandas()
    assert len(delta) == len(latest) - len(pre)
    merged = pre.merge(delta, on=key, how="inner")
    assert merged.empty  # nothing from the pre-batch table leaks in


def test_wal_rollback_publishes_recovered_version(
    spark, kb, webtext_rows, webtext_frame, tmp_path_factory, crash_commit
):
    """A batch that crashed between its appends and its batch commit
    leaves published snapshots pointing at its files; the next entry
    publishes a 'rollback' version whose read equals the pre-batch state
    exactly."""
    base = webtext_frame(webtext_rows[:300])
    inc = webtext_frame(webtext_rows[300:])
    ckpt = str(tmp_path_factory.mktemp("ckpt_snap_wal"))
    pipe = Pipeline(spark, kb, ckpt)
    pipe.run(base)
    pre = pipe.read_stage("mentions").toPandas()

    # crash the batch once its mentions append has published a version
    with crash_commit(table="mentions"), pytest.raises(RuntimeError, match="simulated"):
        pipe.run_incremental(inc)
    dirty = pipe.read_stage("mentions").count()
    assert dirty > len(pre)

    pipe.run(base)  # any entry recovers; base is committed, so nothing reruns

    recovered = pipe.read_stage("mentions").toPandas()
    key = ["url", "mention_id"]
    assert recovered.sort_values(key).reset_index(drop=True).equals(
        pre.sort_values(key).reset_index(drop=True)
    )
    assert pipe.stage_history("mentions")[-1]["operation"] == "rollback"
    # the crashed batch's version is expired history, loud on read
    hist = pipe.stage_history("mentions")
    crashed_version = hist[-2]["version"]
    with pytest.raises(SnapshotExpired):
        pipe.read_stage("mentions", version=crashed_version)


def test_compact_preserves_log_and_expires_priors(
    spark, kb, webtext_rows, webtext_frame, tmp_path_factory
):
    """compact() publishes an overwrite commit: the snapshot log keeps
    its history, the compact commit becomes latest, and pre-compact
    append versions expire loudly."""
    base = webtext_frame(webtext_rows[:300])
    inc = webtext_frame(webtext_rows[300:])
    ckpt = str(tmp_path_factory.mktemp("ckpt_snap_compact"))
    pipe = Pipeline(spark, kb, ckpt)
    pipe.run(base)
    pipe.run_incremental(inc)

    before = pipe.read_stage("mentions").toPandas()
    hist_before = pipe.stage_history("mentions")
    pipe.compact("mentions")

    hist = pipe.stage_history("mentions")
    assert len(hist) == len(hist_before) + 1, "log lost history across the compaction"
    assert hist[-1]["operation"] == "compact"
    after = pipe.read_stage("mentions").toPandas()
    key = ["url", "mention_id"]
    assert after.sort_values(key).reset_index(drop=True).equals(
        before.sort_values(key).reset_index(drop=True)
    )
    with pytest.raises(SnapshotExpired):
        pipe.read_stage("mentions", version=hist_before[-1]["version"])


def test_file_stats_and_metadata_row_count(spark, tmp_path):
    """Manifests carry Iceberg-style per-file stats (rows/bytes/bounds)
    whose row counts sum to COUNT(*), and an append commit inherits the
    parent's stats for unchanged files (no footer re-read of the whole
    table per append)."""
    d = str(tmp_path / "t")
    _write(spark, d, [(1, "a"), (2, "b")])
    log = SnapshotLog(d)
    log.commit("overwrite", list_data_files(d))
    m0 = log.snapshot(0)
    assert set(m0["file_stats"]) == set(m0["files"])
    st = m0["file_stats"][m0["files"][0]]
    assert st["rows"] == 2 and st["bytes"] > 0
    assert st["mins"]["id"] == 1 and st["maxs"]["id"] == 2
    assert st["mins"]["val"] == "a" and st["maxs"]["val"] == "b"
    assert sum(s["rows"] for s in m0["file_stats"].values()) == 2

    _write(spark, d, [(3, "c")], mode="append")
    log.commit("append", list_data_files(d))
    m1 = log.snapshot(1)
    for f in m0["files"]:
        assert m1["file_stats"][f] == m0["file_stats"][f], "parent stats not inherited"
    assert set(m1["file_stats"]) == set(m1["files"])
    n_rows = sum(m1["file_stats"][f]["rows"] for f in m1["files"])
    assert n_rows == 3
    assert n_rows == log.read(spark).count()


def test_prune_skips_files_and_matches_full_filter(spark, tmp_path):
    """File-skipping read: ranged files outside [lo, hi] are never
    opened (fewer inputFiles) and the result equals read().filter()."""
    d = str(tmp_path / "t")
    df = spark.range(0, 1000).selectExpr("id", "concat('v', id) as val")
    df.repartitionByRange(4, "id").write.mode("overwrite").parquet(d)
    log = SnapshotLog(d)
    log.commit("overwrite", list_data_files(d))
    n_files = len(log.snapshot()["files"])
    assert n_files == 4

    pruned = log.prune(spark, "id", lo=100, hi=150)
    assert len(pruned.inputFiles()) < n_files, "no file was skipped"
    expect = log.read(spark).filter("id between 100 and 150").toPandas()
    got = pruned.toPandas()
    key = ["id"]
    assert got.sort_values(key).reset_index(drop=True).equals(
        expect.sort_values(key).reset_index(drop=True)
    )
    # an unbounded prune degenerates to the full read
    assert log.prune(spark, "id").count() == 1000


def test_commit_append_resolves_conflicts(spark, tmp_path):
    """Writer-level conflict RESOLUTION for commuting commits: a stale
    derived file list must conflict loudly (the lost-update guard), and
    commit_append retries with the union so no writer's files are lost."""
    d = str(tmp_path / "t")
    _write(spark, d, [(1, "a")])
    log = SnapshotLog(d)
    v0 = log.commit("overwrite", list_data_files(d))
    files_v0 = log.snapshot()["files"]

    # an interloper appends and commits while our derived list is stale
    _write(spark, d, [(2, "b")], mode="append")
    all_files = list_data_files(d)
    assert log.commit("append", all_files) == 1

    # the stale-base commit targets v2 with a list MISSING the winner's
    # file — without expect_latest it would publish silently; with it,
    # the regression is caught as a conflict
    with pytest.raises(SnapshotConflict):
        log.commit("append", files_v0, expect_latest=v0)

    # commit_append re-reads the winner and lands the union
    mine = _stage(spark, log, [(3, "c")])
    v2 = log.commit_append(mine)
    final = set(log.snapshot(v2)["files"])
    assert set(all_files) <= final and set(mine) <= final
    assert sorted(r.id for r in log.read(spark).collect()) == [1, 2, 3]


def test_commit_append_threaded_race(spark, tmp_path):
    """Two live writers race commit_append from the same base: both land
    (sequential versions), and the final manifest carries the union."""
    import threading

    d = str(tmp_path / "t")
    _write(spark, d, [(1, "a")])
    log = SnapshotLog(d)
    log.commit("overwrite", list_data_files(d))
    base = set(log.snapshot()["files"])
    batch1 = _stage(spark, log, [(2, "b")])
    batch2 = _stage(spark, log, [(3, "c")])

    barrier = threading.Barrier(2)
    results: list[int] = []
    errors: list[Exception] = []

    def writer(batch):
        try:
            barrier.wait()
            results.append(SnapshotLog(d).commit_append(batch))
        except Exception as e:  # pragma: no cover - failure detail
            errors.append(e)

    ts = [threading.Thread(target=writer, args=(b,)) for b in (batch1, batch2)]
    for t in ts:
        t.start()
    for t in ts:
        t.join()
    assert not errors
    assert sorted(results) == [1, 2]
    final = set(SnapshotLog(d).snapshot()["files"])
    assert base | set(batch1) | set(batch2) <= final
    assert sorted(r.id for r in log.read(spark).collect()) == [1, 2, 3]


def test_read_changes_incremental_scan(spark, tmp_path):
    """Incremental read: exactly the rows added in (from, to], planned
    from manifests; ranges crossing a non-append commit raise."""
    d = str(tmp_path / "t")
    _write(spark, d, [(1, "a")])
    log = SnapshotLog(d)
    v0 = log.commit("overwrite", list_data_files(d))
    _write(spark, d, [(2, "b")], mode="append")
    v1 = log.commit("append", list_data_files(d))
    _write(spark, d, [(3, "c")], mode="append")
    v2 = log.commit("append", list_data_files(d))

    assert sorted(r.id for r in log.read_changes(spark, v0).collect()) == [2, 3]
    assert [r.id for r in log.read_changes(spark, v1, v2).collect()] == [3]
    empty = log.read_changes(spark, v2, v2)
    assert empty.count() == 0 and empty.columns == ["id", "val"]
    with pytest.raises(ValueError):
        log.read_changes(spark, v2, v0)

    _write(spark, d, [(9, "z")])  # overwrite rewrites history
    log.commit("overwrite", list_data_files(d))
    with pytest.raises(ValueError):
        log.read_changes(spark, v0)
    # a range that stops before the overwrite plans fine, but Spark's
    # overwrite physically replaced those files — the read expires
    # loudly instead of returning wrong rows (same rule as read())
    with pytest.raises(SnapshotExpired):
        log.read_changes(spark, v1, v2).collect()


def test_evolve_rename_reads_every_vintage(spark, tmp_path):
    """Rename is a metadata-only commit (zero files touched): files
    written BEFORE the rename resolve through the name mapping, files
    written AFTER carry the new name physically, and one read unifies
    both vintages.  Time travel to the pre-rename version is unaffected."""
    d = str(tmp_path / "t")
    _write(spark, d, [(1, "a")])
    log = SnapshotLog(d)
    v0 = log.commit("overwrite", list_data_files(d))
    files_v0 = log.snapshot(v0)["files"]

    v1 = log.evolve(renames={"val": "label"})
    assert log.snapshot(v1)["files"] == files_v0  # no data file touched
    assert log.read(spark, v1).columns == ["id", "label"]

    _write(spark, d, [(2, "b")], mode="append", schema="id long, label string")
    v2 = log.commit("append", list_data_files(d))
    got = {r.id: r.label for r in log.read(spark, v2).collect()}
    assert got == {1: "a", 2: "b"}
    # pre-rename version still reads with its own schema
    assert log.read(spark, v0).columns == ["id", "val"]
    # incremental scan across the evolve: just the appended rows, under
    # the evolved schema
    assert [(r.id, r.label) for r in log.read_changes(spark, v0).collect()] == [(2, "b")]


def test_evolve_rename_chain_and_name_reuse_guards(spark, tmp_path):
    """A twice-renamed column coalesces over all its physical
    generations; commits that would re-introduce a still-aliased
    physical name refuse (name-mapped resolution would be ambiguous)."""
    d = str(tmp_path / "t")
    _write(spark, d, [(1, "a")])
    log = SnapshotLog(d)
    log.commit("overwrite", list_data_files(d))
    log.evolve(renames={"val": "v_mid"})
    _write(spark, d, [(2, "b")], mode="append", schema="id long, v_mid string")
    log.commit("append", list_data_files(d))
    log.evolve(renames={"v_mid": "v_new"})
    _write(spark, d, [(3, "c")], mode="append", schema="id long, v_new string")
    log.commit("append", list_data_files(d))

    m = log.snapshot()
    assert m["aliases"] == {"v_new": ["v_mid", "val"]}
    got = {r.id: r.v_new for r in log.read(spark).collect()}
    assert got == {1: "a", 2: "b", 3: "c"}

    # appending a file whose column name is an aliased physical name
    # refuses BEFORE publishing a manifest
    latest = log.latest_version()
    _write(spark, d, [(9, "z")], mode="append", schema="id long, val string")
    with pytest.raises(ValueError, match="ambiguous"):
        log.commit("append", list_data_files(d))
    assert log.latest_version() == latest
    # renaming another column ONTO an aliased name refuses too
    with pytest.raises(ValueError, match="ambiguous"):
        log.evolve(renames={"id": "val"})


def test_evolve_drop_tombstones_block_resurrection(spark, tmp_path):
    """A dropped column vanishes from reads (historical files keep the
    bytes; the read schema prunes them), and its name is tombstoned so
    a later append cannot silently resurrect the old values."""
    d = str(tmp_path / "t")
    _write(spark, d, [(1, "a")])
    log = SnapshotLog(d)
    v0 = log.commit("overwrite", list_data_files(d))
    v1 = log.evolve(drops=["val"])

    assert log.read(spark, v1).columns == ["id"]
    assert log.read(spark, v0).columns == ["id", "val"]  # time travel keeps it
    assert log.snapshot(v1)["tombstones"] == ["val"]

    _write(spark, d, [(2, "a2")], mode="append", schema="id long, val string")
    with pytest.raises(ValueError, match="tombstone"):
        log.commit("append", list_data_files(d))
    with pytest.raises(ValueError, match="ambiguous"):
        log.evolve(renames={"id": "val"})


def test_evolve_validation_errors(spark, tmp_path):
    d = str(tmp_path / "t")
    _write(spark, d, [(1, "a")])
    log = SnapshotLog(d)
    log.commit("overwrite", list_data_files(d))
    with pytest.raises(ValueError, match="nothing to do"):
        log.evolve()
    with pytest.raises(ValueError, match="no such column"):
        log.evolve(renames={"nope": "x"})
    with pytest.raises(ValueError, match="no such column"):
        log.evolve(drops=["nope"])
    with pytest.raises(ValueError, match="dropped and renamed/promoted"):
        log.evolve(renames={"val": "x"}, drops=["val"])
    with pytest.raises(ValueError, match="duplicate"):
        log.evolve(renames={"val": "id"})
    with pytest.raises(ValueError, match="no such column"):
        log.evolve(promotes={"nope": "long"})
    with pytest.raises(ValueError, match="cannot promote"):
        log.evolve(promotes={"id": "short"})  # narrowing refuses
    with pytest.raises(ValueError, match="cannot promote"):
        log.evolve(promotes={"val": "long"})  # string has no widening


def test_evolve_prune_uses_physical_footer_stats(spark, tmp_path):
    """File skipping still works on a renamed column: the footers of
    pre-rename files record the PHYSICAL name — prune() resolves the
    logical column through the mapping and skips by those bounds."""
    d = str(tmp_path / "t")
    _write(spark, d, [(1, "a"), (2, "b")])
    log = SnapshotLog(d)
    log.commit("overwrite", list_data_files(d))
    _write(spark, d, [(10, "x"), (11, "y")], mode="append")
    log.commit("append", list_data_files(d))
    log.evolve(renames={"id": "doc_id"})

    pruned = log.prune(spark, "doc_id", lo=10)
    assert sorted(r.doc_id for r in pruned.collect()) == [10, 11]
    assert len(pruned.inputFiles()) < len(log.snapshot()["files"])
    # and the residual predicate still applies when bounds overlap
    assert sorted(r.doc_id for r in log.prune(spark, "doc_id", lo=2, hi=10).collect()) == [2, 10]


def test_rollback_commit_remaps_physical_schema(spark, tmp_path):
    """A WAL-style rollback commit derives its schema from raw footers;
    under a name mapping those carry PHYSICAL names — the commit remaps
    them to logical names so the published manifest stays consistent."""
    d = str(tmp_path / "t")
    _write(spark, d, [(1, "a")])
    log = SnapshotLog(d)
    v0 = log.commit("overwrite", list_data_files(d))
    restored = log.snapshot(v0)["files"]
    log.evolve(renames={"val": "label"})

    v2 = log.commit("rollback", files=restored)
    assert log.read(spark, v2).columns == ["id", "label"]
    assert {r.label for r in log.read(spark, v2).collect()} == {"a"}


def test_evolve_type_promotion(spark, tmp_path):
    """Widening promotion is metadata-only: old int32/float32 vintages
    upcast under the explicit schema (Spark 4 parquet widening reads),
    appends land natively wide, narrowing refuses."""
    d = str(tmp_path / "t")
    spark.createDataFrame([(1, 1.5)], "id int, score float").coalesce(1).write.mode(
        "overwrite"
    ).parquet(d)
    log = SnapshotLog(d)
    v0 = log.commit("overwrite", list_data_files(d))
    files_v0 = log.snapshot(v0)["files"]

    v1 = log.evolve(promotes={"id": "long", "score": "double"})
    assert log.snapshot(v1)["files"] == files_v0  # no data file touched
    spark.createDataFrame([(2**40, 2.5)], "id long, score double").coalesce(1).write.mode(
        "append"
    ).parquet(d)
    log.commit("append", list_data_files(d))

    got = log.read(spark)
    assert got.schema.simpleString() == "struct<id:bigint,score:double>"
    assert sorted((r.id, r.score) for r in got.collect()) == [(1, 1.5), (2**40, 2.5)]
    # time travel reads v0 with its own narrow types
    assert log.read(spark, v0).schema.simpleString() == "struct<id:int,score:float>"

    with pytest.raises(ValueError, match="value-preserving"):
        log.evolve(promotes={"score": "float"})  # narrowing (double->float)
    with pytest.raises(ValueError, match="value-preserving"):
        log.evolve(promotes={"id": "string"})  # not a widening at all


def test_evolve_promote_and_rename_same_column(spark, tmp_path):
    """Promote + rename compose in one commit; the mapped read upcasts
    the old vintage AND resolves it through the alias."""
    d = str(tmp_path / "t")
    spark.createDataFrame([(1, 10)], "id long, n int").coalesce(1).write.mode(
        "overwrite"
    ).parquet(d)
    log = SnapshotLog(d)
    log.commit("overwrite", list_data_files(d))
    log.evolve(renames={"n": "count"}, promotes={"n": "long"})
    spark.createDataFrame([(2, 2**40)], "id long, count long").coalesce(1).write.mode(
        "append"
    ).parquet(d)
    log.commit("append", list_data_files(d))

    got = log.read(spark)
    assert got.schema.simpleString() == "struct<id:bigint,count:bigint>"
    assert sorted((r.id, r["count"]) for r in got.collect()) == [(1, 10), (2, 2**40)]


# --- hidden partitioning + partition evolution ------------------------------


def _pdf(spark, rows):
    return spark.createDataFrame(rows, "id long, lang string, n long")


def test_partitioned_write_hides_layout_and_prunes(spark, tmp_path):
    """Writers derive the partition values, readers never see them, and
    an equality predicate on a SOURCE column opens only the matching
    tuple's files."""
    from nilinker_spark.snapshots import _transform_value

    d = str(tmp_path / "t")
    log = SnapshotLog(d)
    log.set_partition_spec(
        [
            {"column": "lang", "transform": "identity"},
            {"column": "id", "transform": "bucket", "n": 4},
        ]
    )
    rows = [(i, "en" if i % 3 else "de", i * 10) for i in range(40)]
    new = log.write(_pdf(spark, rows), mode="overwrite")
    log.commit("overwrite", list_data_files(d))
    assert log.snapshot()["files"] == new  # write returns exactly the files it wrote

    # hidden: the table schema carries ONLY source columns
    assert sorted(log.read(spark).columns) == ["id", "lang", "n"]
    total = len(log.snapshot()["files"])
    assert total > 2  # multiple tuples -> multiple files

    got = log.prune_partition(spark, {"lang": "de", "id": 9})
    assert [(r.id, r.lang, r.n) for r in got.collect()] == [(9, "de", 90)]
    opened = got.inputFiles()
    assert 0 < len(opened) < total
    # every opened file sits in id=9's md5 bucket AND lang=de
    b = _transform_value({"column": "id", "transform": "bucket", "n": 4}, 9)
    assert all(f"_p_bucket4__id={b}" in f and "_p_identity__lang=de" in f for f in opened)

    # pruning is an optimization, never a semantics change
    full = log.read(spark).filter("lang = 'de' and id = 9").collect()
    assert [(r.id, r.lang, r.n) for r in full] == [(9, "de", 90)]


def test_transform_spark_python_parity(spark, tmp_path):
    """The writer-side Spark expressions and the driver-side scalar
    twins agree on every transform — pruning decisions match the layout
    the writer produced."""
    from pyspark.sql import functions as F

    from nilinker_spark.snapshots import _transform_expr, _transform_value

    df = spark.createDataFrame(
        [(7, "wiki-en", "2026-03-05"), (123456, "cc-main", "1999-12-31"), (-5, "x", "2000-01-01")],
        "id long, src string, day string",
    ).withColumn("day", F.col("day").cast("date"))
    cases = [
        ({"column": "id", "transform": "bucket", "n": 8}, "bigint", "id"),
        ({"column": "id", "transform": "truncate", "n": 100}, "bigint", "id"),
        ({"column": "src", "transform": "truncate", "n": 4}, "string", "src"),
        ({"column": "src", "transform": "identity"}, "string", "src"),
        ({"column": "day", "transform": "days"}, "date", "day"),
    ]
    rows = df.select(
        "id",
        "src",
        "day",
        *[_transform_expr(f, dt).cast("string").alias(f"t{i}") for i, (f, dt, _) in enumerate(cases)],
    ).collect()
    import datetime

    for r in rows:
        for i, (f, _, src_col) in enumerate(cases):
            v = r[src_col]
            assert _transform_value(f, v) == r[f"t{i}"], (f, v, r[f"t{i}"])


def test_partition_evolution_mixed_vintages(spark, tmp_path):
    """set_partition_spec is metadata-only: old files keep pruning under
    the spec they were written with, new files under the new one, and a
    scan across both vintages is exact."""
    d = str(tmp_path / "t")
    log = SnapshotLog(d)
    log.set_partition_spec([{"column": "lang", "transform": "identity"}])
    log.write(_pdf(spark, [(i, "en" if i % 2 else "de", i) for i in range(10)]))
    v1 = log.commit("append", list_data_files(d))
    files_v1 = set(log.snapshot(v1)["files"])

    v2 = log.set_partition_spec(
        [
            {"column": "lang", "transform": "identity"},
            {"column": "id", "transform": "bucket", "n": 2},
        ]
    )
    assert set(log.snapshot(v2)["files"]) == files_v1  # zero data files touched
    log.write(_pdf(spark, [(i, "en" if i % 2 else "de", i) for i in range(10, 20)]))
    log.commit("append", list_data_files(d))

    got = log.prune_partition(spark, {"lang": "en", "id": 15})
    assert [(r.id, r.n) for r in got.collect()] == [(15, 15)]
    opened = got.inputFiles()
    # the en files of BOTH vintages minus the wrong-bucket new files: the
    # old-vintage en file has no id tuple (conservative scan), the new
    # vintage prunes to one bucket
    assert all("_p_identity__lang=en" in f for f in opened)
    new_opened = [f for f in opened if "_p_bucket2__id=" in f]
    assert len(new_opened) == 1

    # unpartition future writes; spec history stays per-version
    v4 = log.set_partition_spec([])
    assert log.partition_spec(v4) == []
    assert log.partition_spec(v2) != []
    # a write with no spec in force lands flat files and reads back exactly
    flat = log.write(_pdf(spark, [(99, "en", 0)]))
    assert flat and all("_p_" not in f and "/" not in f for f in flat)
    log.commit_append(flat)
    assert [(r.id, r.lang, r.n) for r in log.read_changes(spark, v4).collect()] == [(99, "en", 0)]


def test_partition_null_values_skip_equality(spark, tmp_path):
    """NULL source values land in the hive default partition; equality
    pruning skips them (a predicate never matches NULL) and the result
    still matches the unpruned filter."""
    d = str(tmp_path / "t")
    log = SnapshotLog(d)
    log.set_partition_spec([{"column": "lang", "transform": "identity"}])
    log.write(
        spark.createDataFrame([(1, "en", 1), (2, None, 2), (3, "de", 3)], "id long, lang string, n long")
    )
    log.commit("append", list_data_files(d))
    got = log.prune_partition(spark, {"lang": "en"})
    assert [(r.id, r.lang) for r in got.collect()] == [(1, "en")]
    assert all("__HIVE_DEFAULT_PARTITION__" not in f for f in got.inputFiles())


def test_partition_spec_validation(spark, tmp_path):
    d = str(tmp_path / "t")
    log = SnapshotLog(d)
    with pytest.raises(ValueError, match="transform"):
        log.set_partition_spec([{"column": "id", "transform": "hash"}])
    with pytest.raises(ValueError, match="n >= 1"):
        log.set_partition_spec([{"column": "id", "transform": "bucket"}])
    log.set_partition_spec([{"column": "nope", "transform": "identity"}])
    with pytest.raises(ValueError, match="not in"):
        log.write(_pdf(spark, [(1, "en", 1)]))


def test_partitioned_vacuum_and_time_travel(spark, tmp_path):
    """Partitioned layouts compose with the rest of the log: appends
    keep history readable, and an overwrite leaves exactly the head's
    files in the partition subdirectories."""
    d = str(tmp_path / "t")
    log = SnapshotLog(d)
    log.set_partition_spec([{"column": "lang", "transform": "identity"}])
    log.write(_pdf(spark, [(1, "en", 1)]))
    v1 = log.commit("append", list_data_files(d))
    log.write(_pdf(spark, [(2, "de", 2)]))
    v2 = log.commit("append", list_data_files(d))
    assert {r.id for r in log.read(spark, v1).collect()} == {1}
    assert {r.id for r in log.read(spark, v2).collect()} == {1, 2}
    # overwrite drops the old files from their subdirectories
    log.write(_pdf(spark, [(3, "fr", 3)]), mode="overwrite")
    log.commit("overwrite", list_data_files(d))
    assert list_data_files(d) == log.snapshot()["files"]
    assert {r.id for r in log.read(spark).collect()} == {3}


# --- branch refs: write-audit-publish ----------------------------------------


def test_wap_stage_audit_publish(spark, tmp_path):
    """The Iceberg WAP workflow: staged branch commits are invisible to
    trunk readers, auditable via read(branch=...), and publish
    fast-forwards the trunk in one metadata commit that downstream
    incremental consumers see as a plain append."""
    d = str(tmp_path / "t")
    _write(spark, d, [(1, "a")])
    log = SnapshotLog(d)
    v0 = log.commit("overwrite", list_data_files(d))

    staged = _stage(spark, log, [(2, "b")])
    v_stage = log.commit_append(staged, branch="audit")

    # trunk isolation: latest trunk read sees none of the staged rows
    assert [r.id for r in log.read(spark).collect()] == [1]
    assert log.latest_version() == v0
    # audit: the branch head sees base + staged
    assert sorted(r.id for r in log.read(spark, branch="audit").collect()) == [1, 2]
    assert log.latest_version(branch="audit") == v_stage

    v_pub = log.publish("audit")
    assert sorted(r.id for r in log.read(spark).collect()) == [1, 2]
    m = log.snapshot(v_pub)
    assert m["operation"] == "append"  # appends-only staging publishes as append
    assert m["published_from"] == {"branch": "audit", "version": v_stage}
    # incremental consumers see exactly the staged rows across the publish
    delta = log.read_changes(spark, v0)
    assert [r.id for r in delta.collect()] == [2]


def test_wap_publish_refuses_non_fast_forward(spark, tmp_path):
    """A trunk that moved after staging invalidated the audit: publish
    refuses loudly instead of merging unaudited state."""
    d = str(tmp_path / "t")
    _write(spark, d, [(1, "a")])
    log = SnapshotLog(d)
    log.commit("overwrite", list_data_files(d))

    log.commit_append(_stage(spark, log, [(2, "b")]), branch="audit")

    # an interloping trunk append lands between stage and publish
    log.commit_append(_stage(spark, log, [(3, "c")]))

    with pytest.raises(SnapshotConflict, match="not a fast-forward"):
        log.publish("audit")
    # trunk is untouched by the refused publish
    assert sorted(r.id for r in log.read(spark).collect()) == [1, 3]


def test_wap_multi_commit_branch_and_vacuum_retention(spark, tmp_path):
    """A branch accumulates commits (each building on the branch head,
    not the trunk), and publish carries the whole chain."""
    d = str(tmp_path / "t")
    _write(spark, d, [(1, "a")])
    log = SnapshotLog(d)
    v0 = log.commit("overwrite", list_data_files(d))

    for new_id in (2, 3):
        log.commit_append(_stage(spark, log, [(new_id, "x")]), branch="wap")
    assert sorted(r.id for r in log.read(spark, branch="wap").collect()) == [1, 2, 3]

    log.publish("wap")
    assert sorted(r.id for r in log.read(spark).collect()) == [1, 2, 3]
    assert sorted(r.id for r in log.read_changes(spark, v0).collect()) == [2, 3]
    # the branch stays readable as history after publish
    assert sorted(r.id for r in log.read(spark, branch="wap").collect()) == [1, 2, 3]


def test_branch_name_validation_and_missing(spark, tmp_path):
    d = str(tmp_path / "t")
    _write(spark, d, [(1, "a")])
    log = SnapshotLog(d)
    log.commit("overwrite", list_data_files(d))
    with pytest.raises(ValueError, match="branch name"):
        log.commit("append", list_data_files(d), branch="bad/name")
    with pytest.raises(FileNotFoundError, match="no branch"):
        log.publish("nope")
    with pytest.raises(FileNotFoundError, match="no branch"):
        log.read(spark, branch="nope")
    with pytest.raises(ValueError, match="exactly one"):
        log.read(spark, version=0, branch="x")


# --- copy-on-write MERGE (upsert) --------------------------------------------


def test_merge_upsert_rewrites_only_touched_files(spark, tmp_path):
    """MERGE updates matched keys, inserts unmatched ones, rewrites only
    the files whose footer key-bounds overlap the source, and keeps
    every prior version time-travelling (CoW: replaced files are
    unreferenced, not deleted)."""
    d = str(tmp_path / "t")
    # two ranged files: ids 0-4 and 100-104
    spark.createDataFrame(
        [(i, "a") for i in range(5)] + [(i, "b") for i in range(100, 105)],
        "id long, val string",
    ).repartitionByRange(2, "id").write.mode("overwrite").parquet(d)
    log = SnapshotLog(d)
    v0 = log.commit("overwrite", list_data_files(d))
    files_v0 = log.snapshot(v0)["files"]

    source = spark.createDataFrame([(3, "UP"), (999, "NEW")], "id long, val string")
    v1 = log.merge(spark, source, on="id")

    got = {r.id: r.val for r in log.read(spark).collect()}
    assert got[3] == "UP" and got[999] == "NEW" and got[0] == "a" and got[100] == "b"
    assert len(got) == 11
    # the low-range file was rewritten; the 100-104 file survives as-is
    m1 = log.snapshot(v1)
    assert m1["operation"] == "merge"
    kept = set(m1["files"]) & set(files_v0)
    assert kept, "merge rewrote files whose key bounds could not match"
    assert set(m1["files"]) != set(files_v0)
    # time travel: v0 still reads the pre-merge table exactly
    pre = {r.id: r.val for r in log.read(spark, v0).collect()}
    assert pre[3] == "a" and 999 not in pre and len(pre) == 10
    # copy-on-write: the replaced files stay on disk, unreferenced by v1
    replaced = set(files_v0) - kept
    assert replaced and replaced <= set(list_data_files(d))
    assert replaced.isdisjoint(m1["files"])


def test_merge_validation(spark, tmp_path):
    d = str(tmp_path / "t")
    _write(spark, d, [(1, "a")])
    log = SnapshotLog(d)
    log.commit("overwrite", list_data_files(d))
    with pytest.raises(ValueError, match="duplicate keys"):
        log.merge(spark, spark.createDataFrame([(1, "x"), (1, "y")], "id long, val string"), on="id")
    with pytest.raises(ValueError, match="source columns"):
        log.merge(spark, spark.createDataFrame([(1,)], "id long"), on="id")
    with pytest.raises(ValueError, match="not in table schema"):
        log.merge(spark, spark.createDataFrame([(1, "x")], "id long, val string"), on="nope")
    # empty merge commits nothing
    v = log.latest_version()
    assert log.merge(spark, spark.createDataFrame([], "id long, val string"), on="id") == v
    assert log.latest_version() == v


def test_merge_on_branch_then_publish(spark, tmp_path):
    """A rewrite staged on a branch composes with WAP: trunk unaffected
    until publish; publish records a non-append operation."""
    d = str(tmp_path / "t")
    _write(spark, d, [(1, "a"), (2, "b")])
    log = SnapshotLog(d)
    log.commit("overwrite", list_data_files(d))
    staged = _stage(spark, log, [(1, "a"), (2, "UP")])
    log.commit("overwrite", files=staged, branch="wap")
    assert {r.id: r.val for r in log.read(spark).collect()} == {1: "a", 2: "b"}
    assert {r.id: r.val for r in log.read(spark, branch="wap").collect()} == {1: "a", 2: "UP"}
    v = log.publish("wap")
    assert {r.id: r.val for r in log.read(spark).collect()} == {1: "a", 2: "UP"}
    assert log.snapshot(v)["operation"] == "publish"  # overwrite chain is not appends-only


# --- exactly-once streaming sink ---------------------------------------------


def test_streaming_sink_exactly_once(spark, tmp_path):
    """foreachBatch sink into the log: one manifest per microbatch with
    its batch id; a checkpoint-resumed second drain with no new data
    commits NOTHING; new source files commit exactly the delta, which
    read_changes exposes to incremental consumers."""
    src = str(tmp_path / "src")
    tbl = str(tmp_path / "tbl")
    ckpt = str(tmp_path / "ckpt")
    _write(spark, src, [(1, "a"), (2, "b")])
    log = SnapshotLog(tbl)

    def drain():
        (
            spark.readStream.schema("id long, val string")
            .parquet(src)
            .writeStream.foreachBatch(log.streaming_sink())
            .option("checkpointLocation", ckpt)
            .trigger(availableNow=True)
            .start()
            .awaitTermination(120)
        )

    drain()
    v1 = log.latest_version()
    assert sorted(r.id for r in log.read(spark).collect()) == [1, 2]
    assert log.snapshot(v1).get("stream_batch_id") == 0

    drain()  # resume, no new data: exactly-once means no new commit
    assert log.latest_version() == v1

    _write(spark, src, [(3, "c")], mode="append")
    drain()
    v2 = log.latest_version()
    assert sorted(r.id for r in log.read(spark).collect()) == [1, 2, 3]
    assert log.snapshot(v2).get("stream_batch_id") == 1
    assert [r.id for r in log.read_changes(spark, v1).collect()] == [3]


def test_streaming_sink_replay_is_idempotent(spark, tmp_path):
    """A crash-replay of an already-committed batch id is a no-op —
    calling the sink callable twice with the same (df, batch_id) leaves
    one commit and one copy of the rows."""
    tbl = str(tmp_path / "tbl")
    log = SnapshotLog(tbl)
    sink = log.streaming_sink()
    df = spark.createDataFrame([(1, "a")], "id long, val string")
    sink(df, 0)
    v = log.latest_version()
    sink(df, 0)  # replay
    assert log.latest_version() == v
    assert [r.id for r in log.read(spark).collect()] == [1]
    # a crash BETWEEN write and commit leaves orphans no manifest sees
    df.write.mode("append").parquet(tbl)  # the orphan write
    sink(df, 1)  # the recovered batch commits its own files
    assert sorted(r.id for r in log.read(spark).collect()) == [1, 1]


# --- review-fix regressions ---------------------------------------------------


def test_listing_excludes_spark_temporary_staging(spark, tmp_path):
    """A crashed write's _temporary attempt files must never enter a
    manifest; partition-value dirs (underscore-prefixed but =-bearing)
    still list."""
    d = str(tmp_path / "t")
    _write(spark, d, [(1, "a")])
    stage = os.path.join(d, "_temporary", "0", "_temporary", "attempt_1")
    os.makedirs(stage)
    with open(os.path.join(stage, "part-00000-torn.snappy.parquet"), "wb") as fh:
        fh.write(b"torn")
    files = list_data_files(d)
    assert files and all("_temporary" not in f for f in files)
    log = SnapshotLog(d)
    log.commit("overwrite", list_data_files(d))  # the listing must not reference the torn file
    assert [r.id for r in log.read(spark).collect()] == [1]


def test_branch_fork_race_raises(spark, tmp_path):
    """A trunk commit landing between a fresh branch's file derivation
    and its first commit surfaces as SnapshotConflict (commit_append
    then retries with the union), never a staged list that silently
    omits the trunk winner's files."""
    d = str(tmp_path / "t")
    _write(spark, d, [(1, "a")])
    log = SnapshotLog(d)
    v0 = log.commit("overwrite", list_data_files(d))
    _write(spark, d, [(2, "b")], mode="append")
    log.commit("append", list_data_files(d))  # the interloper: trunk is now v1
    # the first branch commit is guarded by the trunk head it forks from
    with pytest.raises(SnapshotConflict, match="expected latest version 0 but found 1"):
        log.commit("append", list_data_files(d), branch="audit", expect_latest=v0)
    # commit_append's retry loop resolves the same race transparently
    log.commit_append(_stage(spark, log, [(3, "c")]), branch="audit")
    assert sorted(r.id for r in log.read(spark, branch="audit").collect()) == [1, 2, 3]
    log.publish("audit")
    assert sorted(r.id for r in log.read(spark).collect()) == [1, 2, 3]


def test_merge_keeps_partition_tuples_and_date_keys(spark, tmp_path):
    """Merging a hidden-partitioned table writes the rewrite clustered
    (tuples preserved, pruning intact), and a date merge key compares
    against the ISO-string footer stats without TypeError."""
    from pyspark.sql import functions as F

    d = str(tmp_path / "t")
    log = SnapshotLog(d)
    log.set_partition_spec([{"column": "lang", "transform": "identity"}])
    df = spark.createDataFrame(
        [(1, "en", "2026-01-01"), (2, "de", "2026-01-02"), (3, "en", "2026-01-03")],
        "id long, lang string, day string",
    ).withColumn("day", F.col("day").cast("date"))
    log.write(df)
    log.commit("append", list_data_files(d))

    import datetime

    src = spark.createDataFrame(
        [(2, "de", datetime.date(2026, 2, 2)), (9, "fr", datetime.date(2026, 2, 9))],
        "id long, lang string, day date",
    )
    log.merge(spark, src, on="id")  # id key, date column present
    # date-keyed merge exercises the ISO normalization path
    log.merge(
        spark,
        spark.createDataFrame([(7, "en", datetime.date(2026, 1, 3))], "id long, lang string, day date"),
        on="day",
    )
    got = {r.id: (r.lang, str(r.day)) for r in log.read(spark).collect()}
    assert got[2] == ("de", "2026-02-02") and got[9] == ("fr", "2026-02-09")
    assert got[7] == ("en", "2026-01-03") and 3 not in got  # day-keyed replace
    # every merged-in file still carries a lang tuple in its path
    assert all("_p_identity__lang=" in f for f in log.snapshot()["files"])
    pruned = log.prune_partition(spark, {"lang": "en"})
    assert all("_p_identity__lang=en" in f for f in pruned.inputFiles())


def test_streaming_sink_into_partitioned_table(spark, tmp_path):
    """Streaming ingestion into a days(warc_ts)-partitioned table (the
    Common-Crawl north-star layout): each drained batch's files carry
    their day tuple, so a day-equality read prunes to that day's files
    across every ingested batch."""
    import datetime

    src = str(tmp_path / "src")
    tbl = str(tmp_path / "tbl")
    ckpt = str(tmp_path / "ckpt")
    rows = [
        (1, datetime.datetime(2026, 1, 1, 5, 0), "a"),
        (2, datetime.datetime(2026, 1, 2, 6, 0), "b"),
        (3, datetime.datetime(2026, 1, 1, 23, 0), "c"),
    ]
    spark.createDataFrame(rows, "id long, warc_ts timestamp, val string").coalesce(
        1
    ).write.mode("overwrite").parquet(src)
    log = SnapshotLog(tbl)
    log.set_partition_spec([{"column": "warc_ts", "transform": "days"}])
    (
        spark.readStream.schema("id long, warc_ts timestamp, val string")
        .parquet(src)
        .writeStream.foreachBatch(log.streaming_sink())
        .option("checkpointLocation", ckpt)
        .trigger(availableNow=True)
        .start()
        .awaitTermination(120)
    )
    assert sorted(r.id for r in log.read(spark).collect()) == [1, 2, 3]
    assert sorted(log.read(spark).columns) == ["id", "val", "warc_ts"]  # tuple is hidden
    day = log.prune_partition(spark, {"warc_ts": datetime.datetime(2026, 1, 1, 5, 0)})
    # the residual equality keeps only the exact-ts row, but the FILE
    # selection pruned to the 2026-01-01 day partition
    assert all("_p_days__warc_ts=2026-01-01" in f for f in day.inputFiles())
    assert [r.id for r in day.collect()] == [1]


def test_prune_partition_conservative_on_unprovable_value_types(spark, tmp_path):
    """identity(double): Spark renders 1e-07 into the partition path as
    '1.0E-7' while Python str() gives '1e-07' — pruning on that
    rendering skipped the matching file (silent row loss, ADVICE r5).
    Predicate values without a provably identical rendering now
    conservatively scan; the residual filter keeps the result exact."""
    d = str(tmp_path / "t")
    log = SnapshotLog(d)
    log.set_partition_spec([{"column": "val", "transform": "identity"}])
    df = spark.createDataFrame([(1, 1e-07), (2, 0.5)], "id long, val double")
    log.write(df, mode="overwrite")
    log.commit("overwrite", list_data_files(d))
    out = log.prune_partition(spark, {"val": 1e-07})
    assert [r.id for r in out.collect()] == [1]
    # booleans render 'true' (Spark) vs 'True' (Python): also conservative
    d2 = str(tmp_path / "t2")
    log2 = SnapshotLog(d2)
    log2.set_partition_spec([{"column": "flag", "transform": "identity"}])
    log2.write(
        spark.createDataFrame([(1, True), (2, False)], "id long, flag boolean"),
        mode="overwrite",
    )
    log2.commit("overwrite", list_data_files(d2))
    assert [r.id for r in log2.prune_partition(spark, {"flag": True}).collect()] == [1]


def test_streaming_sink_txn_domain_fresh_query_not_skipped(spark, tmp_path):
    """Batch ids restart at 0 when a new query starts from a fresh
    checkpoint; keyed on batch_id alone every real batch of the new
    query was silently skipped until its ids passed the table's
    historical max (ADVICE r5).  With a txn id per logical stream the
    new domain commits, and replay-skipping still works per domain."""
    tbl = str(tmp_path / "tbl")
    log = SnapshotLog(tbl)
    df_a = spark.createDataFrame([(1, "a")], "id long, val string")
    sink_a = log.streaming_sink(txn_id="query-a")
    sink_a(df_a, 0)
    sink_a(df_a, 5)
    assert log.last_stream_batch_id("query-a") == 5
    v = log.latest_version()
    sink_a(df_a, 5)  # replay within the domain: skipped
    assert log.latest_version() == v
    sink_b = log.streaming_sink(txn_id="query-b")
    sink_b(spark.createDataFrame([(2, "b")], "id long, val string"), 0)
    assert sorted(r.id for r in log.read(spark).collect()) == [1, 1, 2]
    assert log.last_stream_batch_id("query-b") == 0
    assert log.last_stream_batch_id("query-a") == 5
    # legacy single-domain callers see the newest manifest's batch id
    # (ids are monotone within the single-writer contract), as before
    assert log.last_stream_batch_id() == 0


def test_merge_rejects_null_keys(spark, tmp_path):
    """count_distinct ignores NULLs: one null-key source row used to
    surface as a bogus 'duplicate keys' error; several reported a wrong
    count — and left_anti never matches NULL, so null-key merges have
    no defined semantics.  Rejected by name now (ADVICE r5)."""
    d = str(tmp_path / "t")
    _write(spark, d, [(1, "a")])
    log = SnapshotLog(d)
    log.commit("overwrite", list_data_files(d))
    src = spark.createDataFrame([(None, "x"), (2, "y")], "id long, val string")
    with pytest.raises(ValueError, match="must be non-null"):
        log.merge(spark, src, on="id")


def test_manifest_cache_serves_immutable_manifests(spark, tmp_path):
    """Published manifests are immutable; a SnapshotLog instance parses
    each version once (ADVICE r5: the un-cached log degraded
    quadratically for long-lived streaming tables)."""
    d = str(tmp_path / "t")
    _write(spark, d, [(1, "a")])
    log = SnapshotLog(d)
    log.commit("overwrite", list_data_files(d))
    m1 = log.snapshot(0)
    assert log.snapshot(0) is m1  # cache hit: same parsed object
    # a second instance (fresh cache) sees the same content
    assert SnapshotLog(d).snapshot(0) == m1


# --- one derivation per commit ------------------------------------------------


def _footer_spy(monkeypatch, table_dir):
    """Relative paths of every parquet footer opened from now on — both
    ``pq.ParquetFile`` and the ``pq.read_schema`` path construct one."""
    import pyarrow.parquet as pq
    import pyarrow.parquet.core as pqc

    opened: list[str] = []

    class Spy(pqc.ParquetFile):
        def __init__(self, source, *args, **kwargs):
            path = isinstance(source, (str, os.PathLike))
            opened.append(os.path.relpath(source, table_dir) if path else repr(source))
            super().__init__(source, *args, **kwargs)

    monkeypatch.setattr(pq, "ParquetFile", Spy)
    monkeypatch.setattr(pqc, "ParquetFile", Spy)
    return opened


def test_commit_opens_each_new_footer_once(spark, tmp_path, monkeypatch):
    """An overwrite of three new files and an append of one open each
    new file's footer exactly once (stats and schema from one read); a
    rollback reads each restored file once, for its schema."""
    d = str(tmp_path / "t")
    log = SnapshotLog(d)
    rows = spark.createDataFrame([(i, f"v{i}") for i in range(9)], "id long, val string")
    new = log.write(rows.repartition(3), mode="overwrite")
    assert len(new) == 3
    appended = _stage(spark, log, [(9, "z")])

    opened = _footer_spy(monkeypatch, d)
    v0 = log.commit("overwrite", new)
    assert sorted(opened) == new
    opened.clear()
    v1 = log.commit_append(appended)
    assert opened == appended
    opened.clear()
    log.commit("rollback", new, expect_latest=v1)
    assert sorted(opened) == new
    assert log.snapshot(v0)["files"] == new


def _pyarrow_view(table_dir, files):
    """Per-file stats and the field list computed independently: pyarrow
    reads the rows and takes min/max over them, not footer statistics."""
    import pyarrow.compute as pc
    import pyarrow.parquet as pq
    from pyspark.sql.pandas.types import from_arrow_schema

    stats, fields = {}, []
    for f in files:
        path = os.path.join(table_dir, f)
        t = pq.read_table(path)
        mm = {c: pc.min_max(t[c]).as_py() for c in t.column_names}
        stats[f] = {
            "rows": t.num_rows,
            "bytes": os.path.getsize(path),
            "mins": {c: v["min"] for c, v in mm.items()},
            "maxs": {c: v["max"] for c, v in mm.items()},
        }
        have = {x.name for x in fields}
        fields += [x for x in from_arrow_schema(t.schema).fields if x.name not in have]
    return stats, fields


def test_published_schema_and_stats_match_pyarrow(spark, tmp_path):
    """The manifest's ``schema`` and ``file_stats`` equal what pyarrow
    computes from the files themselves, for an overwrite, an append that
    adds a column (the parent's fields first) and a rollback (its own
    files' fields only: no phantom column)."""
    import json

    from pyspark.sql.types import StructType

    d = str(tmp_path / "t")
    log = SnapshotLog(d)
    base = spark.createDataFrame([(1, "a"), (2, "b"), (5, "e")], "id long, val string")
    v0 = log.commit("overwrite", log.write(base.repartition(2), mode="overwrite"))
    v1 = log.commit_append(_stage(spark, log, [(3, "c", 7.5)], "id long, val string, score double"))
    files_v0 = log.snapshot(v0)["files"]
    v2 = log.commit("rollback", files_v0, expect_latest=v1)

    fresh = SnapshotLog(d)  # the published JSON, not the writer's cache
    for v in (v0, v1, v2):
        m = fresh.snapshot(v)
        stats, fields = _pyarrow_view(d, m["files"])
        assert m["file_stats"] == stats, v
        assert m["schema"] == StructType(fields).json(), v
    names = [[f.name for f in StructType.fromJson(json.loads(fresh.snapshot(v)["schema"]))]
             for v in (v0, v1, v2)]
    assert names == [["id", "val"], ["id", "val", "score"], ["id", "val"]]


def test_commit_of_unreadable_file_raises_and_publishes_nothing(spark, tmp_path):
    """A listed file that is missing, or has no parquet footer, fails
    the commit with ValueError naming it: no version is published and no
    temp manifest is left behind."""
    d = str(tmp_path / "t")
    _write(spark, d, [(1, "a")])
    log = SnapshotLog(d)
    v0 = log.commit("overwrite", list_data_files(d))
    with open(os.path.join(d, "part-torn.parquet"), "wb") as fh:
        fh.write(b"torn")
    for bad in ("part-missing.parquet", "part-torn.parquet"):
        with pytest.raises(ValueError, match=bad):
            log.commit("append", log.snapshot(v0)["files"] + [bad], expect_latest=v0)
        assert SnapshotLog(d).latest_version() == v0
        assert not [n for n in os.listdir(log.log_dir) if n.startswith(".tmp-")]
