"""Versioned snapshot log over a parquet directory table.

The transaction-log half of the Iceberg/Delta stand-in (README's swap
table): every committed state of a stage table is a numbered manifest
under the SIBLING directory ``<table>__snaplog/`` listing the exact
part files (and the schema) that make up that version.  (The log must
live OUTSIDE the table directory: Spark's ``mode("overwrite")`` deletes
the table directory's whole content — a sibling survives it untouched.)
Readers resolve a manifest — never the live directory — so a concurrent
append can NEVER tear a read, and append tables keep their full history
readable (time travel).

Commit protocol (single-filesystem atomic, the local stand-in for an
object-store conditional PUT):

1. the manifest is written to a private temp name in the log dir;
2. ``os.link(tmp, v{N}.json)`` publishes it — ``link`` (unlike
   ``rename``) FAILS with ``FileExistsError`` when ``v{N}`` already
   exists, which is exactly compare-and-swap on the version counter: of
   two concurrent writers that both read latest == N-1, one publishes
   v{N} and the other gets :class:`SnapshotConflict` and must re-read
   and retry on top of the winner.

A commit names its part files explicitly (the ones :meth:`write` just
produced, or a committed version's) and derives everything else once:
each file's footer is opened at most once, for its stats and schema, and
not at all when the parent manifest already covers both (an append's
carried-over files); a rollback opens the files it restores, for their
schema.  A file the commit opens that is missing or has no readable
footer fails it with ValueError before anything is published.  ``expect_latest`` is the one
lost-update guard: the version the file list was derived from, which
for a branch's first commit is the trunk head it forks from.

Semantics by operation (stored in the manifest, enforced by physics):

- ``append``  — prior versions stay readable (their files are still in
  the directory); this is the time-travel path for the pipeline's
  append tables (``mentions``, ``phrase_vecs``, and ``resolved`` across
  batches that do not re-cluster).
- ``overwrite`` / ``compact`` — the writer deletes the replaced part
  files (Spark's overwrite does so itself; the pipeline's stage writes
  and compaction do so after publishing), so prior versions EXPIRE:
  their manifests remain as history
  (audit), but reading one raises :class:`SnapshotExpired` naming the
  missing files.  This is honest Iceberg ``expire_snapshots`` behavior,
  not silent corruption — an expired read never returns wrong rows.

Schema is stored per manifest (``StructType.json()``); reads always
pass it explicitly, so a version committed before a column was added
reads with its own schema, and the LATEST schema over a mixed file set
null-fills the column in pre-evolution files (standard Spark parquet
semantics under an explicit schema).

Schema evolution beyond additive columns — :meth:`SnapshotLog.evolve`
renames, drops, and type-promotes — uses NAME MAPPING (Delta's
column-mapping / Iceberg ``schema.name-mapping.default``, the bridge
real systems use for files written without field ids): a rename is a
metadata-only commit that records the old physical name as an ALIAS of
the new logical name, and reads coalesce the logical column over its
alias generations so every vintage of part file resolves correctly in
ONE scan.  A drop tombstones the name; a promote widens the type
within the Iceberg value-preserving set (old footers upcast under the
explicit read schema).  Because resolution is by name, re-using a
physical name that is still aliased (or tombstoned) would be ambiguous
— commits that would introduce one REFUSE loudly (real field-id
evolution lifts that restriction; documented in the README swap table).

The rest of the lakehouse surface lives here too, each hash-exact
against a DuckDB twin (``snapshot_*`` / ``stream_snapshot_sink``
contract rows) and covered in tests/test_snapshots.py:

- HIDDEN PARTITIONING + partition evolution (:meth:`set_partition_spec`
  / :meth:`write` / :meth:`prune_partition`) — transforms over source
  columns, per-file tuples in the PATHS, self-describing across spec
  changes;
- BRANCH refs as write-audit-publish (:meth:`commit` ``branch=`` /
  :meth:`publish`) — staged commits invisible to trunk readers,
  fast-forward publish with lost-update guards;
- copy-on-write MERGE (:meth:`merge`) — upsert rewriting only the
  files whose manifest key-bounds contain a source key, prior versions
  keep time travelling;
- an exactly-once Structured Streaming sink (:meth:`streaming_sink`) —
  foreachBatch with idempotent batch-id commits, partition-spec-aware.

Writes: :meth:`write` is the one way rows become part files of a
table — beside the committed files, clustered by the partition spec in
force, returning the new files' relative paths without publishing them.
``Pipeline``'s stage commits, :meth:`merge`, :meth:`streaming_sink` and
the contract rows all write through it and commit the returned list.

Relation to the pipeline: this log is ``Pipeline``'s only commit
mechanism.  Each stage write publishes a manifest with an explicit file
list that carries the batch id and the stage's lineage in its extra
fields, and a batch is committed once its ``resolved`` manifest is
published.  A multi-table batch that crashes after some per-table
commits leaves those versions published; the next entry publishes a
``rollback`` version of each append table with its last committed file
list and deletes the files no head references, so the latest version
reads as the last committed state and the crashed batch's versions
become expired history (pipeline.py module docs).

Storage is reclaimed by the writer, not by a separate garbage collector:
``Pipeline`` deletes the files an overwrite supersedes once the commit
is published, and its recovery deletes every file no head references.
The log itself never deletes a data file, so a standalone table that is
merged many times (:meth:`merge` stops referencing, never deletes, the
files it replaces) keeps those files on disk; no engine path merges.

Reference parity: the reference has no table format at all (it rewrites
whole pickle/npy files in place, e.g. ≙ src/REEL/pre_process.py:250-307
read-modify-write candidate cache); this module is part of the graft's
"what a 100 TB deployment needs" surface, with the real-system mapping
documented in README.md's Iceberg swap table.
"""

from __future__ import annotations

import json
import os
import re
import time
import urllib.parse
import uuid

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql.types import StructType

from nilinker_spark.config import local_frame
from nilinker_spark.functions.hashing import h60, h60_value

_SNAP_SUFFIX = "__snaplog"
_V_WIDTH = 12  # v000000000001.json — lexicographic == numeric order
_APPEND_ATTEMPTS = 6  # commit_append: one try plus five conflict retries
_REF_RE = re.compile(r"[A-Za-z0-9][A-Za-z0-9._-]*")

# --- hidden partitioning (Iceberg partition transforms) ---------------------
#
# A partition spec is a list of {"column", "transform", "n"?} over SOURCE
# columns; writers derive the partition value (the user never materializes
# or filters on a layout column — that is the "hidden" in hidden
# partitioning), and each data file's partition tuple is recorded in its
# RELATIVE PATH, the flat-filesystem stand-in for the per-file partition
# tuple an Iceberg manifest entry carries.  Because the path encodes the
# transform itself (`_p_bucket8__doc_id=3/part-…`), every file is
# self-describing: after PARTITION EVOLUTION old files keep pruning under
# the spec they were written with and new files under the new one, with no
# spec-id bookkeeping — exactly Iceberg's per-manifest spec semantics.
_TRANSFORMS = ("identity", "bucket", "truncate", "days")
_PART_COL_RE = re.compile(r"^_p_(identity|days|bucket(\d+)|truncate(\d+))__(.+)$")
_HIVE_NULL = "__HIVE_DEFAULT_PARTITION__"


def _validate_spec(spec: list[dict]) -> list[dict]:
    out = []
    for f in spec or []:
        col, t, n = f.get("column"), f.get("transform"), f.get("n")
        if not col or t not in _TRANSFORMS:
            raise ValueError(
                f"partition spec field {f!r}: need column + transform in {_TRANSFORMS}"
            )
        if t in ("bucket", "truncate"):
            if not isinstance(n, int) or n < 1:
                raise ValueError(f"partition transform {t!r} needs integer n >= 1, got {n!r}")
            out.append({"column": col, "transform": t, "n": n})
        else:
            out.append({"column": col, "transform": t})
    return out


def _part_col_name(field: dict) -> str:
    return f"_p_{field['transform']}{field.get('n', '')}__{field['column']}"


def _transform_expr(field: dict, dtype: str):
    """Spark Column computing the partition value — the writer-side twin
    of :func:`_transform_value` (md5-derived bucket keys per the repo's
    determinism rule: never partitioner state)."""
    from pyspark.sql import functions as F

    c = F.col(field["column"])
    t = field["transform"]
    if t == "identity":
        return c
    if t == "bucket":
        return F.pmod(h60(c.cast("string")), F.lit(field["n"]))
    if t == "truncate":
        if dtype in ("tinyint", "smallint", "int", "bigint"):
            return c - F.pmod(c, F.lit(field["n"]))
        return F.substring(c, 1, field["n"])
    # days: session timezone is pinned UTC (config.get_spark), so the
    # rendered date is deterministic for timestamp columns too
    return F.date_format(c, "yyyy-MM-dd")


def _transform_value(field: dict, v) -> str | None:
    """Driver-side scalar twin of :func:`_transform_expr`, rendered the
    way Spark prints the value into a partition path — used to prune a
    file by equality on the SOURCE column without opening it."""
    if v is None:
        return None
    t = field["transform"]
    if t == "identity":
        return str(v)
    if t == "bucket":
        return str(h60_value(str(v)) % field["n"])
    if t == "truncate":
        if isinstance(v, int) and not isinstance(v, bool):
            return str(v - (v % field["n"]))
        return str(v)[: field["n"]]
    return str(v)[:10]  # days: ISO prefix of a date/timestamp rendering


def _parity_value(field: dict, v) -> bool:
    """True when ``_transform_value``'s Python rendering of ``v`` is
    provably identical to Spark's partition-path rendering of the same
    value (ADVICE r5): integers and strings render the same everywhere;
    dates render ISO on both sides; for the ``days`` transform a NAIVE
    datetime is provable too (the session timezone is pinned UTC —
    config.get_spark — so Spark's date_format agrees with the ISO date
    prefix).  Floats ('1e-07' vs '1.0E-7'), booleans ('True' vs 'true'),
    tz-aware or identity-partition timestamps (microsecond rendering)
    are NOT provable: the caller conservatively scans instead — a
    wrongly skipped file would be silent row loss the residual filter
    cannot recover."""
    import datetime

    if isinstance(v, bool):
        return False
    if field["transform"] == "days":
        if isinstance(v, datetime.datetime):
            return v.tzinfo is None
        return isinstance(v, datetime.date)
    if isinstance(v, datetime.datetime):
        return False
    return isinstance(v, (int, str, datetime.date))


def _file_partition_tuple(relpath: str) -> dict[str, tuple[dict, str]]:
    """{source_column: (spec_field, path_value)} parsed from a data
    file's relative path — empty for flat (unpartitioned) files."""
    out: dict[str, tuple[dict, str]] = {}
    for comp in relpath.split("/")[:-1]:
        name, sep, raw = comp.partition("=")
        m = _PART_COL_RE.match(name) if sep else None
        if not m:
            continue
        tname, bn, tn, col = m.groups()
        field = {"column": col, "transform": re.sub(r"\d+$", "", tname)}
        if bn or tn:
            field["n"] = int(bn or tn)
        out[col] = (field, urllib.parse.unquote(raw))
    return out


class SnapshotConflict(RuntimeError):
    """Another writer published this version first; re-read and retry."""


class SnapshotExpired(RuntimeError):
    """The version's files were replaced by a later overwrite/compact."""


def _is_data_file(name: str) -> bool:
    # parquet part files only — never markers (_SUCCESS), checksum
    # files or the snapshot dir
    return (name.startswith("part-") or name.endswith(".parquet")) and not name.startswith(
        "."
    )


def _json_safe(v):
    """Footer statistic -> JSON-storable value, or None when the value
    cannot be stored order-faithfully (undecodable bytes, NaN/inf)."""
    if isinstance(v, bytes):
        try:
            return v.decode("utf-8")
        except UnicodeDecodeError:
            return None
    if isinstance(v, bool) or isinstance(v, (int, str)):
        return v
    if isinstance(v, float):
        return v if v == v and v not in (float("inf"), float("-inf")) else None
    try:
        # date/datetime: ISO-8601 strings order lexicographically ==
        # chronologically, so range pruning still works on them
        return v.isoformat()
    except AttributeError:
        return None


def _stat_bounds(st: dict | None, stat_keys: list[str]) -> tuple | None:
    """A file's recorded (min, max) for the first of ``stat_keys`` it
    carries bounds for (logical name first, then physical aliases), or
    None when the file proves nothing — shared by prune() and merge()
    so their skip decisions cannot drift."""
    key = next((k for k in stat_keys if st and k in st.get("mins", {})), None)
    if key is None:
        return None
    return st["mins"][key], st["maxs"][key]


def _footer(table_dir: str, name: str) -> tuple[dict, StructType]:
    """One part file's stats ``{rows, bytes, mins, maxs}`` and Spark
    schema, from a single parquet footer read.

    min/max cover the top-level primitive columns whose row groups all
    carry statistics (parquet writes them by default); values are
    JSON-safe (bytes decoded, non-finite floats dropped).  A missing file
    or one without a readable footer raises ValueError naming it."""
    import pyarrow as pa
    import pyarrow.parquet as pq

    # arrow schema -> spark StructType via the same mapping spark's own
    # Arrow interchange uses
    import pyspark.sql.pandas.types as pst

    path = os.path.join(table_dir, name)
    try:
        meta = pq.ParquetFile(path).metadata
        size = os.path.getsize(path)
    except (OSError, pa.ArrowException) as e:
        raise ValueError(
            f"{table_dir}: listed file {name} is missing or has no readable "
            f"parquet footer ({e})"
        ) from None
    schema = pst.from_arrow_schema(meta.schema.to_arrow_schema())
    mins: dict[str, object] = {}
    maxs: dict[str, object] = {}
    # an empty part file (a 0-row partition write) has no row group to
    # bound: rows=0, no bounds
    for ci in range(meta.num_columns if meta.num_row_groups else 0):
        col_path = meta.row_group(0).column(ci).path_in_schema
        if "." in col_path:
            continue  # nested/list columns: no file-level bounds
        lo = hi = None
        for rg in range(meta.num_row_groups):
            st = meta.row_group(rg).column(ci).statistics
            if st is None or not st.has_min_max:
                lo = hi = None
                break
            lo = st.min if lo is None else min(lo, st.min)
            hi = st.max if hi is None else max(hi, st.max)
        lo, hi = _json_safe(lo), _json_safe(hi)
        if lo is not None and hi is not None:
            mins[col_path] = lo
            maxs[col_path] = hi
    return {"rows": meta.num_rows, "bytes": size, "mins": mins, "maxs": maxs}, schema


def list_data_files(table_dir: str) -> list[str]:
    """Sorted relative part-file paths currently in the table directory
    — recursive, so partitioned layouts (``_p_…=v/part-…``) list with
    their tuple-bearing relative path; flat tables are unchanged."""
    if not os.path.isdir(table_dir):
        return []
    out = []
    for root, dirs, files in os.walk(table_dir):
        # descend ONLY into partition-value dirs (`_p_…=v`): every other
        # underscore/dot-prefixed dir is engine-private — most sharply
        # Spark's `_temporary` job-staging tree, whose attempt files must
        # never enter a manifest (they are torn by definition until the
        # job commit renames them out)
        dirs[:] = [
            d
            for d in dirs
            if not d.startswith(".")
            and not d.endswith(_SNAP_SUFFIX)
            and not (d.startswith("_") and "=" not in d)
        ]
        rel = os.path.relpath(root, table_dir)
        for n in files:
            if _is_data_file(n):
                out.append(n if rel == "." else f"{rel}/{n}")
    return sorted(out)


class SnapshotLog:
    def __init__(self, table_dir: str) -> None:
        self.table_dir = table_dir.rstrip("/")
        self.log_dir = self.table_dir + _SNAP_SUFFIX
        # Published manifests are immutable (os.link CAS), so parsed
        # manifests cache per instance keyed by version, and commit()
        # caches the one it publishes.  Without this,
        # latest_version and every commit's parent read
        # re-opened and re-parsed manifest JSON — a long-lived streaming
        # table committing one version per batch degraded quadratically
        # in log length (ADVICE r5).  Consumers treat manifests as
        # read-only (audited: set()/sorted()/field reads only).
        self._manifest_cache: dict[int, dict] = {}

    # --- log inspection ----------------------------------------------------
    def _version_path(self, version: int) -> str:
        return os.path.join(self.log_dir, f"v{version:0{_V_WIDTH}d}.json")

    def versions(self) -> list[int]:
        if not os.path.isdir(self.log_dir):
            return []
        out = []
        for n in os.listdir(self.log_dir):
            if n.startswith("v") and n.endswith(".json") and not n.startswith("."):
                try:
                    out.append(int(n[1 : -len(".json")]))
                except ValueError:
                    continue
        return sorted(out)

    def latest_version(self, branch: str | None = None) -> int | None:
        """Head of a ref: the newest TRUNK version by default, or the
        newest version committed to ``branch``.  Trunk readers never see
        branch commits — that is what makes a branch a staging area."""
        for v in reversed(self.versions()):
            if self.snapshot(v).get("branch") == branch:
                return v
        return None

    def snapshot(self, version: int | None = None) -> dict:
        if version is None:
            version = self.latest_version()
            if version is None:
                raise FileNotFoundError(f"no snapshots at {self.log_dir}")
        cached = self._manifest_cache.get(version)
        if cached is not None:
            return cached
        with open(self._version_path(version)) as fh:
            manifest = json.load(fh)
        self._manifest_cache[version] = manifest
        return manifest

    # --- branches (named writable refs: write-audit-publish) ----------------
    def publish(self, branch: str) -> int:
        """Fast-forward the TRUNK to a branch's head — the publish step
        of write-audit-publish (Iceberg's ``spark.wap.branch`` /
        ``fast_forward`` procedure): a writer stages commits on a branch
        (trunk readers see none of them), an audit validates
        ``read(branch=...)``, and publish makes the audited state the
        table in ONE metadata commit.

        Publish refuses with :class:`SnapshotConflict` unless the trunk
        head is still the branch's fork base (a true fast-forward) —
        a trunk that moved since staging invalidated the audit, so the
        caller must re-stage on a fresh branch, exactly like a
        non-commuting commit conflict.  The published trunk version
        records ``published_from`` for audit lineage; the branch stays
        readable as history.  When every staged commit is an append, the
        published commit IS an append — downstream
        :meth:`read_changes` incremental consumers see exactly the
        staged rows."""
        head_v = self.latest_version(branch=branch)
        if head_v is None:
            raise FileNotFoundError(f"no branch {branch!r} at {self.log_dir}")
        head = self.snapshot(head_v)
        # walk to the fork base (first non-branch ancestor) and collect
        # the staged operations on the way
        ops: set[str] = set()
        m = head
        while m.get("branch") is not None:
            ops.add(m["operation"])
            if m.get("parent") is None:
                m = {}
                break
            m = self.snapshot(m["parent"])
        fork_base = m.get("version") if m else None
        trunk = self.latest_version()
        if trunk != fork_base:
            raise SnapshotConflict(
                f"{self.table_dir}: branch {branch!r} forked from trunk "
                f"{fork_base} but trunk is now {trunk} — not a fast-forward; "
                "re-stage on a fresh branch and re-audit"
            )
        op = "append" if ops <= {"append"} else "publish"
        return self.commit(
            op,
            files=head["files"],
            expect_latest=trunk,
            _meta=head,
            # audit lineage, atomic with the CAS — manifests stay immutable
            _extra={"published_from": {"branch": branch, "version": head_v}},
        )

    def history(self) -> list[dict]:
        """All manifests, oldest first (version/operation/file count/ts)."""
        out = []
        for v in self.versions():
            m = self.snapshot(v)
            row = {
                "version": m["version"],
                "operation": m["operation"],
                "n_files": len(m["files"]),
                "ts": m["ts"],
            }
            if m.get("branch") is not None:
                row["branch"] = m["branch"]
            out.append(row)
        return out

    # --- commit ------------------------------------------------------------
    def _base_version(self, branch: str | None) -> int | None:
        """The version a commit to ``branch`` builds on: the ref's head
        (the trunk's by default), or for a branch with no commit yet the
        trunk head it forks from — its parent, and what its lost-update
        guard compares against."""
        v = self.latest_version(branch=branch)
        return self.latest_version() if v is None and branch is not None else v

    def commit(
        self,
        operation: str,
        files: list[str],
        expect_latest: int | None | str = "__any__",
        *,
        branch: str | None = None,
        _meta: dict | None = None,
        _extra: dict | None = None,
    ) -> int:
        """Publish ``files`` (relative part-file paths) as the next version.

        Returns the committed version.  Raises :class:`SnapshotConflict`
        when a concurrent writer published the same version number first
        — the caller must re-derive its file set and retry (optimistic
        concurrency; the loser's data files are already in the
        directory, so its retry commit is cheap).  A listed file whose
        footer the commit reads (:meth:`_derive`) that is missing or has
        no readable parquet footer raises ValueError naming it, before
        anything is published.

        ``expect_latest`` closes the lost-update window for file lists
        DERIVED from a base version: between reading the base and
        calling commit, a concurrent writer may have published — the
        version counter would still advance correctly, but this commit's
        manifest would silently omit the winner's files.  Pass the
        version the file list was derived from (None for "derived from
        an empty log"; for a branch's first commit, the trunk head it
        forks from): if the ref's base (:meth:`_base_version`) no longer
        matches, the commit raises :class:`SnapshotConflict` instead of
        publishing a regressive manifest.  The remaining check-to-link
        window is covered by the ``os.link`` CAS itself, because the
        interloper must take this commit's version number to get ahead
        of it.

        ``_meta`` is for the metadata-only commits (publish, evolve,
        set_partition_spec, merge): a manifest-shaped dict whose
        ``schema``, ``aliases``, ``tombstones`` and ``partition_spec``
        this version takes as they are, in place of deriving them from
        the files and the parent.
        """
        if branch is not None and not _REF_RE.fullmatch(branch):
            raise ValueError(f"branch name must match {_REF_RE.pattern!r}: {branch!r}")
        os.makedirs(self.log_dir, exist_ok=True)
        vs = self.versions()
        # version numbers allocate globally across refs, so the os.link
        # CAS below still serializes every writer on every ref
        latest = self._base_version(branch)
        if expect_latest != "__any__" and latest != expect_latest:
            raise SnapshotConflict(
                f"{self.table_dir}: expected latest version {expect_latest} "
                f"but found {latest}; re-derive the file list and retry"
            )
        version = 0 if not vs else vs[-1] + 1
        parent = self.snapshot(latest) if latest is not None else {}
        if _meta is None:
            # name-mapping metadata (evolve()): append/rollback carry the
            # parent's mapping forward (metadata describes the table, not
            # a batch); overwrite/compact physically rewrite every file
            # under the CURRENT logical names, so the mapping resets to
            # identity.  The partition spec is table-level layout intent:
            # it survives EVERY operation (an overwrite is rewritten under
            # it, not freed from it) until set_partition_spec commits a
            # new one.
            keep = ["partition_spec"]
            if operation in ("append", "rollback"):
                keep += ["aliases", "tombstones"]
            _meta = {k: parent[k] for k in keep if k in parent}
        schema_json, file_stats = self._derive(operation, files, parent, _meta.get("schema"))
        aliases = dict(_meta.get("aliases") or {})
        tombstones = list(_meta.get("tombstones") or [])
        pspec = list(_meta.get("partition_spec") or [])
        schema_json = self._check_mapping(operation, schema_json, aliases, tombstones)
        manifest = {
            "version": version,
            "operation": operation,
            "files": sorted(files),
            "schema": schema_json,
            "parent": latest,
            "ts": time.time(),
            "file_stats": file_stats,
        }
        if aliases:
            manifest["aliases"] = {k: sorted(v) for k, v in sorted(aliases.items())}
        if tombstones:
            manifest["tombstones"] = sorted(set(tombstones))
        if pspec:
            manifest["partition_spec"] = pspec
        if branch is not None:
            manifest["branch"] = branch
        if _extra:
            manifest.update(_extra)
        tmp = os.path.join(self.log_dir, f".tmp-{uuid.uuid4().hex}.json")
        with open(tmp, "w") as fh:
            json.dump(manifest, fh)
        target = self._version_path(version)
        try:
            os.link(tmp, target)  # CAS: fails iff the version exists
        except FileExistsError:
            raise SnapshotConflict(
                f"version {version} of {self.table_dir} was committed by a "
                "concurrent writer; re-read latest_version() and retry"
            ) from None
        finally:
            os.remove(tmp)
        self._manifest_cache[version] = manifest
        return version

    def commit_append(
        self,
        new_files: list[str],
        branch: str | None = None,
        _extra: dict | None = None,
    ) -> int:
        """Append-commit ``new_files`` with writer-level conflict
        RESOLUTION, not just detection: append commits commute, so on
        :class:`SnapshotConflict` the loser re-reads the winner's file
        list and retries with the union (the Iceberg fast-append retry
        loop).  Non-commuting operations (overwrite/compact) must NOT
        auto-retry — their winner invalidated the loser's input — which
        is why this helper exists only for append.

        The caller has already placed ``new_files`` in the table
        directory; every retry reuses them, so conflict resolution costs
        one manifest write, never a data rewrite."""
        last_err: SnapshotConflict | None = None
        for _ in range(_APPEND_ATTEMPTS):
            base_version = self._base_version(branch)
            base = self.snapshot(base_version)["files"] if base_version is not None else []
            try:
                return self.commit(
                    "append",
                    sorted(set(base) | set(new_files)),
                    expect_latest=base_version,
                    branch=branch,
                    _extra=_extra,
                )
            except SnapshotConflict as e:
                last_err = e
        raise SnapshotConflict(
            f"{self.table_dir}: append lost the commit race {_APPEND_ATTEMPTS} "
            f"times ({last_err}); reduce writer fan-in"
        )

    def _derive(
        self, operation: str, files: list[str], parent: dict, schema_json: str | None
    ) -> tuple[str | None, dict]:
        """The new version's schema (StructType json) and per-file stats,
        reading each part file's footer at most once — driver-side
        pyarrow, no Spark job per commit.

        Stats (Iceberg-manifest-style rows, bytes and per-column min/max:
        the north rule's per-partition lineage and the substrate of
        prune()/merge() planning) are reused for every file the parent
        already records, so an append opens only its NEW footers.  A
        given ``schema_json`` (a metadata-only commit's) is kept.  Else an
        ``append`` inherits the parent's schema and EXTENDS it with fields
        the new files introduce (additive evolution: a column added by an
        append null-fills over pre-evolution files; a same-name field
        keeps the parent's type).  Every other operation (overwrite /
        compact / rollback) derives the schema from its own file set
        alone — an overwrite may legitimately narrow the schema, and a
        rollback must not keep a phantom column the rolled-back append
        introduced — so a rollback reads the footers of the files it
        restores."""
        known = parent.get("file_stats") or {}
        fields: list = []
        schema_done = set(files)  # files whose fields need no footer read
        if schema_json is None:
            schema_done = set()
            if operation == "append" and parent.get("schema"):
                fields = list(StructType.fromJson(json.loads(parent["schema"])).fields)
                schema_done = set(parent["files"])
        names = {f.name for f in fields}
        stats: dict[str, dict] = {}
        for name in files:
            st = known.get(name)
            if st is None or name not in schema_done:
                read, schema = _footer(self.table_dir, name)
                st = st or read
                if name not in schema_done:
                    fields += [f for f in schema.fields if f.name not in names]
                    names |= {f.name for f in schema.fields}
            stats[name] = st
        if schema_json is None and fields:
            schema_json = StructType(fields).json()
        return schema_json, stats

    def _check_mapping(
        self,
        operation: str,
        schema_json: str | None,
        aliases: dict[str, list[str]],
        tombstones: list[str],
    ) -> str | None:
        """Enforce the name-mapping invariant on a commit's schema: no
        logical field name may shadow an aliased physical name (two
        vintages of file would merge two different logical columns) or a
        tombstoned name (a dropped column's historical values would
        silently resurrect).  Field-id evolution has no such restriction;
        this name-based stand-in refuses instead of guessing.

        ``rollback`` is the one operation whose schema comes from raw
        parquet footers AFTER a mapping may exist (its restored files
        predate the crashed batch but the mapping is table metadata), so
        its schema is REMAPPED physical->logical here rather than
        rejected."""
        if schema_json is None or (not aliases and not tombstones):
            return schema_json
        phys_to_logical = {p: lg for lg, ps in aliases.items() for p in ps}
        dead = set(tombstones)
        st = StructType.fromJson(json.loads(schema_json))
        if operation == "rollback":
            fields, seen = [], set()
            for f in st.fields:
                if f.name in dead:
                    continue
                name = phys_to_logical.get(f.name, f.name)
                if name in seen:
                    continue
                if name != f.name:
                    f = type(f)(name, f.dataType, f.nullable, f.metadata)
                fields.append(f)
                seen.add(name)
            return StructType(fields).json()
        bad = [f.name for f in st.fields if f.name in phys_to_logical or f.name in dead]
        if bad:
            raise ValueError(
                f"{self.table_dir}: {operation} would introduce column(s) {bad} "
                "whose name is an aliased physical name or a dropped column's "
                "tombstone — name-mapped resolution would be ambiguous; pick "
                "a fresh name (field-id evolution would allow this; see the "
                "README swap table)"
            )
        return schema_json

    # value-preserving widenings only (the Iceberg type-promotion set):
    # Spark 4's parquet readers upcast these natively under an explicit
    # schema (SPARK-40876), so promotion too is metadata-only
    _WIDEN_OK = {
        "byte": {"short", "integer", "long"},
        "short": {"integer", "long"},
        "integer": {"long"},
        "float": {"double"},
    }

    def evolve(
        self,
        renames: dict[str, str] | None = None,
        drops: list[str] | None = None,
        promotes: dict[str, str] | None = None,
    ) -> int:
        """Metadata-only schema evolution: rename, drop, and/or
        type-promote columns without touching a single data file
        (Iceberg ``ALTER TABLE`` on a 100 TB table is exactly this — a
        new schema + name mapping in the log).  Returns the committed
        version.

        Renames record the old name as a physical ALIAS of the new
        logical name; drops TOMBSTONE the name (and its aliases);
        promotes widen a column's type within the value-preserving
        Iceberg set (``_WIDEN_OK`` — narrowing refuses).  Reads of this
        and later versions resolve every file vintage through the
        mapping in one scan (old-vintage footers upcast under the
        explicit schema); earlier versions still read with their own
        schema (time travel is unaffected).  ``renames``/``drops``/
        ``promotes`` all key on the PARENT version's column names; a
        column may be promoted and renamed in one commit.  Conflicting
        concurrent commits surface as :class:`SnapshotConflict` via the
        derived-from guard — evolve never auto-retries (it does not
        commute with writes the way appends do)."""
        renames = dict(renames or {})
        drops = list(drops or [])
        promotes = dict(promotes or {})
        if not renames and not drops and not promotes:
            raise ValueError("evolve: nothing to do (no renames, drops, or promotes)")
        parent = self.latest_version()
        if parent is None:
            raise FileNotFoundError(f"no snapshots to evolve at {self.log_dir}")
        pm = self.snapshot(parent)
        if not pm.get("schema"):
            raise ValueError(f"{self.table_dir}: version {parent} has no schema to evolve")
        schema = StructType.fromJson(json.loads(pm["schema"]))
        names = [f.name for f in schema.fields]
        aliases = {k: list(v) for k, v in (pm.get("aliases") or {}).items()}
        tombstones = list(pm.get("tombstones") or [])
        missing = [c for c in list(renames) + drops + list(promotes) if c not in names]
        if missing:
            raise ValueError(f"evolve: no such column(s) {missing} in {names}")
        overlap = [c for c in list(renames) + list(promotes) if c in drops]
        if overlap:
            raise ValueError(f"evolve: column(s) {overlap} both dropped and renamed/promoted")
        final = [renames.get(n, n) for n in names if n not in drops]
        dup = sorted({n for n in final if final.count(n) > 1})
        if dup:
            raise ValueError(f"evolve: resulting schema has duplicate column(s) {dup}")
        from pyspark.sql.types import _parse_datatype_string

        fields = []
        for f in schema.fields:
            if f.name in drops:
                # the dropped logical name AND every physical vintage of
                # it must never resolve again
                tombstones += [f.name] + aliases.pop(f.name, [])
                continue
            if f.name in promotes:
                target = _parse_datatype_string(promotes[f.name])
                cur = f.dataType.typeName()
                if target.typeName() not in self._WIDEN_OK.get(cur, set()):
                    raise ValueError(
                        f"evolve: cannot promote {f.name!r} {cur} -> "
                        f"{target.typeName()} (value-preserving widenings "
                        f"only: {self._WIDEN_OK})"
                    )
                f = type(f)(f.name, target, f.nullable, f.metadata)
            if f.name in renames:
                new = renames[f.name]
                aliases[new] = aliases.pop(f.name, []) + [f.name]
                f = type(f)(new, f.dataType, f.nullable, f.metadata)
            fields.append(f)
        # _check_mapping (inside commit) rejects a target name that is
        # itself an alias/tombstone of ANOTHER column
        return self.commit(
            "evolve",
            files=pm["files"],
            expect_latest=parent,
            _meta={
                **pm,
                "schema": StructType(fields).json(),
                "aliases": aliases,
                "tombstones": tombstones,
            },
        )

    # --- hidden partitioning -------------------------------------------------
    def partition_spec(self, version: int | None = None) -> list[dict]:
        """The partition spec in force at ``version`` (default latest);
        ``[]`` for an unpartitioned table or an empty log."""
        if version is None:
            version = self.latest_version()
            if version is None:
                return []
        return list(self.snapshot(version).get("partition_spec") or [])

    def set_partition_spec(self, spec: list[dict]) -> int:
        """Declare (or EVOLVE) the table's hidden-partitioning spec as a
        metadata-only commit — zero data files touched or moved.  Fields
        are ``{"column", "transform": identity|bucket|truncate|days,
        "n"?}`` over SOURCE columns; pass ``[]`` to unpartition future
        writes.  Existing files are untouched and keep pruning under the
        spec they were written with (their paths are self-describing),
        which is exactly Iceberg partition-spec evolution.  Allowed on
        an empty log (declare layout before the first write)."""
        spec = _validate_spec(spec)
        parent = self.latest_version()
        pm = {"files": []} if parent is None else self.snapshot(parent)
        return self.commit(
            "evolve",
            files=pm["files"],
            expect_latest=parent,
            _meta={**pm, "partition_spec": spec},
        )

    def write(self, df: DataFrame, mode: str = "append") -> list[str]:
        """Write ``df`` as new part files beside the committed ones and
        return their relative paths, sorted; nothing is published —
        commit them with ``commit`` / ``commit_append`` (a crashed write
        leaves files no manifest references, which no read sees).
        ``mode="overwrite"`` is Spark's: the directory's files are
        replaced.

        Under a partition spec the write is clustered by the spec's
        derived tuple: ``partitionBy`` encodes it in the file PATHS (the
        per-file partition tuple), the data files carry the untouched
        source columns, and reads resolve leaf files directly, so the
        layout columns never appear in any schema — hidden partitioning.
        The ``repartition`` on the tuple gives one file per tuple per
        write (the clustered write real table formats ask of engines;
        production writers would use a range/hash distribution mode to
        also bound file size).  Without a spec the files are flat."""
        from pyspark.sql import functions as F

        before = set(list_data_files(self.table_dir))
        spec = self.partition_spec()
        writer = df.write
        if spec:
            dtypes = dict(df.dtypes)
            missing = [f["column"] for f in spec if f["column"] not in dtypes]
            if missing:
                raise ValueError(f"partition spec column(s) {missing} not in {sorted(dtypes)}")
            pcols = [_part_col_name(f) for f in spec]
            for f, name in zip(spec, pcols):
                df = df.withColumn(name, _transform_expr(f, dtypes[f["column"]]))
            writer = df.repartition(*[F.col(c) for c in pcols]).write.partitionBy(*pcols)
        writer.mode(mode).parquet(self.table_dir)
        return [f for f in list_data_files(self.table_dir) if f not in before]

    def prune_partition(
        self,
        spark: SparkSession,
        predicates: dict,
        version: int | None = None,
    ) -> DataFrame:
        """Equality scan with partition pruning: semantically identical
        to ``read(...).filter(col == v for each predicate)`` but a file
        is never opened when its path-encoded partition tuple PROVES the
        predicate cannot match — e.g. ``{"doc_id": 42}`` opens only the
        files in ``doc_id``'s md5-bucket, which footer min/max range
        stats (:meth:`prune`) cannot do.  Each file prunes under the
        spec it was written with (paths are self-describing), so a scan
        spanning a partition evolution is still correct: old-spec files
        prune by the old tuple, files without a tuple for the column are
        conservatively scanned, and the residual filter always applies.
        Null-partition files are skipped — an equality predicate never
        matches NULL."""
        from pyspark.sql import functions as F

        m = self.snapshot(version)
        selected = []
        for fpath in m["files"]:
            parts = _file_partition_tuple(fpath)
            keep = True
            for col, val in predicates.items():
                got = parts.get(col)
                if got is None or not _parity_value(got[0], val):
                    # no tuple for this column, or the predicate value's
                    # type has no provably-identical Python-vs-Spark
                    # rendering: must scan (see _parity_value)
                    continue
                field, path_value = got
                if path_value == _HIVE_NULL or _transform_value(field, val) != path_value:
                    keep = False
                    break
            if keep:
                selected.append(fpath)
        df = self._read_files(spark, m, sorted(selected))
        for col, val in predicates.items():
            df = df.filter(F.col(col) == F.lit(val))
        return df

    # --- read --------------------------------------------------------------
    def read(
        self,
        spark: SparkSession,
        version: int | None = None,
        branch: str | None = None,
        files: list[str] | None = None,
    ) -> DataFrame:
        """DataFrame of exactly the version's (or branch head's) files,
        with its schema; ``files`` reads only those of them.

        Missing files (replaced by a later overwrite/compact) raise
        :class:`SnapshotExpired` — an expired version never silently
        reads the wrong rows.
        """
        if branch is not None:
            if version is not None:
                raise ValueError("pass exactly one of version/branch")
            version = self.latest_version(branch=branch)
            if version is None:
                raise FileNotFoundError(f"no branch {branch!r} at {self.log_dir}")
        m = self.snapshot(version)
        return self._read_files(spark, m, m["files"] if files is None else files)

    def added_since(self, since: int, version: int | None = None) -> list[str] | None:
        """The files ``version`` (default latest) lists that version
        ``since`` does not: what appends added between them, rollbacks
        in between included.  None when ``version`` no longer lists every
        file of ``since`` (a compaction or an overwrite rewrote them), so
        there is no such set of added files.  Planned from manifests."""
        base = set(self.snapshot(since)["files"])
        files = self.snapshot(version)["files"]
        return [f for f in files if f not in base] if base <= set(files) else None

    def _read_files(self, spark: SparkSession, manifest: dict, files: list[str]) -> DataFrame:
        missing = [f for f in files if not os.path.exists(os.path.join(self.table_dir, f))]
        if missing:
            raise SnapshotExpired(
                f"version {manifest['version']} of {self.table_dir} expired: a "
                f"later overwrite/compact replaced {len(missing)} of its files "
                f"(e.g. {missing[0]}); history remains readable via history()"
            )
        schema = (
            StructType.fromJson(json.loads(manifest["schema"])) if manifest["schema"] else None
        )
        if not files:
            # zero selected files: empty frame with the version's schema
            return local_frame(spark, schema if schema is not None else StructType([]), [])
        paths = [os.path.join(self.table_dir, f) for f in files]
        aliases = manifest.get("aliases") or {}
        if schema is not None and aliases:
            return self._read_mapped(spark, schema, aliases, paths)
        reader = spark.read
        if schema is not None:
            reader = reader.schema(schema)
        return reader.parquet(*paths)

    @staticmethod
    def _read_mapped(
        spark: SparkSession,
        schema: StructType,
        aliases: dict[str, list[str]],
        paths: list[str],
    ) -> DataFrame:
        """ONE scan over every file vintage under a name mapping: the
        read schema is the logical schema PLUS each aliased physical
        name typed like its logical column (absent names null-fill per
        file — standard explicit-schema parquet semantics), and each
        renamed logical column is the coalesce over its generations.
        Exactly one generation is non-null per file because commits
        refuse name reuse (_check_mapping), so coalesce is resolution,
        never precedence.  Dropped columns are simply not in the read
        schema — Spark never deserializes them (column pruning still
        applies to historical files)."""
        from pyspark.sql import functions as F

        by_name = {f.name: f for f in schema.fields}
        read_fields = list(schema.fields)
        for logical, phys in aliases.items():
            lf = by_name.get(logical)
            if lf is None:
                continue  # an alias of a since-dropped column
            for p in phys:
                read_fields.append(type(lf)(p, lf.dataType, True))
        df = spark.read.schema(StructType(read_fields)).parquet(*paths)
        cols = []
        for f in schema.fields:
            phys = aliases.get(f.name)
            if phys:
                cols.append(F.coalesce(f.name, *phys).alias(f.name))
            else:
                cols.append(F.col(f.name))
        return df.select(*cols)

    def read_changes(
        self,
        spark: SparkSession,
        from_version: int,
        to_version: int | None = None,
    ) -> DataFrame:
        """Incremental scan (Iceberg incremental read): exactly the rows
        ADDED after ``from_version``, up to and including ``to_version``
        (default latest) — the consume-only-the-new-batch primitive a
        downstream index/serving job wants after each
        ``run_incremental``.

        Planned purely from manifests: the file-set difference, read
        under ``to_version``'s schema (added columns null-fill, matching
        a full read of the newer version).  Every version in the range
        must be an ``append``: an overwrite/compact/rollback in between
        rewrites history, so "what changed" is not expressible as added
        rows — that raises ValueError rather than returning something
        misleading."""
        m_to = self.snapshot(to_version)
        to_v = m_to["version"]
        if from_version > to_v:
            raise ValueError(f"from_version {from_version} > to_version {to_v}")
        for v in range(from_version + 1, to_v + 1):
            mv = self.snapshot(v)
            # branch commits are not trunk lineage: a staged overwrite
            # that was never published cannot make the trunk range
            # non-append (publish itself re-records the operation)
            if mv.get("branch") is not None:
                continue
            op = mv["operation"]
            # evolve commits no data files, so a range crossing one is
            # still a pure set of added rows — read under to_version's
            # schema + mapping like any other incremental scan
            if op not in ("append", "evolve"):
                raise ValueError(
                    f"version {v} is {op!r}: the range ({from_version}, {to_v}] "
                    "is not append-only, so its delta is not a set of added "
                    "rows — read the versions directly instead"
                )
        return self._read_files(spark, m_to, sorted(self.added_since(from_version, to_v)))

    def prune(
        self,
        spark: SparkSession,
        column: str,
        lo=None,
        hi=None,
        version: int | None = None,
    ) -> DataFrame:
        """Metadata-level scan planning (Iceberg-style file skipping).

        Semantically identical to ``read(...).filter(lo <= column <= hi)``
        but files whose footer [min, max] for ``column`` provably cannot
        overlap the range are never opened — at 100 TB this is the
        difference between planning a scan from manifests and listing +
        footer-reading every file on the executors.  Files without
        recorded bounds for the column are conservatively scanned; the
        residual predicate is always applied, so pruning is an
        optimization, never a semantics change.  Check the effect with
        ``df.inputFiles()``."""
        from pyspark.sql import functions as F

        m = self.snapshot(version)
        stats = m.get("file_stats", {})
        # under a name mapping a historical file's footer records the
        # PHYSICAL name of the column — its bounds prune just the same
        stat_keys = [column] + list((m.get("aliases") or {}).get(column, []))
        selected = []
        for f in m["files"]:
            bounds = _stat_bounds(stats.get(f), stat_keys)
            if bounds is None:
                selected.append(f)  # no provable bounds: must scan
                continue
            fmin, fmax = bounds
            if lo is not None and fmax < lo:
                continue
            if hi is not None and fmin > hi:
                continue
            selected.append(f)
        df = self._read_files(spark, m, selected)
        if lo is not None:
            df = df.filter(F.col(column) >= F.lit(lo))
        if hi is not None:
            df = df.filter(F.col(column) <= F.lit(hi))
        return df

    # --- streaming sink (exactly-once appends) -------------------------------
    def last_stream_batch_id(self, txn_id: str | None = None) -> int | None:
        """Highest ``stream_batch_id`` any committed manifest records,
        or None when no streaming batch has ever committed.  Batch ids
        are monotone in version order (single-writer sink contract), so
        the newest manifest carrying one answers in O(1) typical — a
        long-lived stream must not re-read its whole log every batch.

        ``txn_id`` scopes the answer to one idempotence domain: only
        manifests whose ``stream_txn_id`` matches count (see
        :meth:`streaming_sink`)."""
        for v in reversed(self.versions()):
            m = self.snapshot(v)
            b = m.get("stream_batch_id")
            if b is not None and (txn_id is None or m.get("stream_txn_id") == txn_id):
                return b
        return None

    def streaming_sink(self, txn_id: str | None = None):
        """``foreachBatch`` callable giving EXACTLY-ONCE appends into
        this log — the Delta transactional-sink pattern: Structured
        Streaming's checkpoint makes each ``batch_id``'s contents
        deterministic, and the committed manifest records the batch id,
        so a post-crash replay of an already-committed batch SKIPS
        instead of double-appending (batch ids are monotonic per
        query; this sink assumes the single-writer caller contract the
        rest of the log uses).  A crash between the parquet write and
        the commit leaves orphan part files that no manifest references
        — readers never see them (reads are manifest-resolved), exactly
        like any other crashed writer; ``Pipeline``'s recovery deletes
        such files in its own tables, and a standalone log leaves them
        on disk.

        Usage::

            q = (stream.writeStream.foreachBatch(log.streaming_sink())
                 .option("checkpointLocation", ckpt)
                 .trigger(availableNow=True).start())

        ``txn_id`` (ADVICE r5): the idempotence DOMAIN, the
        ``txnAppId`` of Delta's transactional sink.  Batch ids restart
        at 0 when a checkpoint is deleted/relocated and a new query
        starts; keyed on batch_id alone, every real batch of the new
        query would be silently skipped until its ids exceed the
        table's historical max — silent data loss.  Pass a stable id
        per logical stream (e.g. the checkpoint path): a batch is then
        skipped only when BOTH the txn id matches a committed manifest's
        ``stream_txn_id`` and its batch_id is not above that domain's
        max; a new txn id starts a fresh domain.  Default None keeps
        the single-domain behavior for the single-query caller
        contract."""

        def _sink(df: DataFrame, batch_id: int) -> None:
            last = self.last_stream_batch_id(txn_id)
            if last is not None and batch_id <= last:
                return  # replayed batch: already committed exactly once
            if df.isEmpty():
                return  # an empty batch commits nothing (no version bump)
            extra: dict = {"stream_batch_id": int(batch_id)}
            if txn_id is not None:
                extra["stream_txn_id"] = txn_id
            # a partitioned table ingests clustered: each batch's files
            # carry their tuple (e.g. days(warc_ts) — one day's files
            # prune for one day's queries)
            self.commit_append(self.write(df), _extra=extra)

        return _sink

    # cap for exact-key merge planning: above this the driver falls back
    # to [min, max] range overlap (still correct, coarser skipping)
    MERGE_PLAN_KEYS_MAX = 100_000

    def merge(self, spark: SparkSession, source: DataFrame, on: str) -> int:
        """Copy-on-write MERGE (upsert): rows of ``source`` REPLACE the
        table's rows with the same ``on`` key; unmatched source rows are
        INSERTED.  The rewrite is planned from manifest stats: only
        files whose footer ``[min, max]`` for the key can overlap the
        source's key range are rewritten — at 100 TB a merge that
        touches one day's keys rewrites one day's files, not the table.

        Unlike ``mode("overwrite")``, the replaced files are NOT
        deleted: the merge commit simply stops referencing them, so
        every prior version keeps time-travelling (the Iceberg CoW
        property our directory-overwrite path cannot give).  Nothing
        reclaims them: a table merged many times keeps every replaced
        file (no engine path merges; ``Pipeline`` tables reclaim storage
        at commit).  Source keys must be unique (raises ValueError
        otherwise — a multi-row key would make the update
        non-deterministic), and the source schema must carry exactly
        the table's columns."""
        from pyspark.sql import functions as F

        # the commit below passes the head read HERE as its derived-from
        # guard (expect_latest): a concurrent commit between this plan and
        # the commit must surface as SnapshotConflict, never a silently
        # regressive manifest
        head_v = self.latest_version()
        if head_v is None:
            raise FileNotFoundError(f"no snapshots to merge into at {self.log_dir}")
        m = self.snapshot(head_v)
        schema = StructType.fromJson(json.loads(m["schema"])) if m.get("schema") else None
        if schema is None or on not in [f.name for f in schema.fields]:
            raise ValueError(f"merge: key {on!r} not in table schema")
        if sorted(source.columns) != sorted(f.name for f in schema.fields):
            raise ValueError(
                f"merge: source columns {sorted(source.columns)} != table "
                f"columns {sorted(f.name for f in schema.fields)}"
            )
        # ONE source pass: key bounds + uniqueness (the planning stats)
        row = source.agg(
            F.min(on).alias("lo"),
            F.max(on).alias("hi"),
            F.count(F.lit(1)).alias("n"),
            F.count(F.col(on)).alias("n_nonnull"),
            F.count_distinct(F.col(on)).alias("nd"),
        ).collect()[0]
        if row["n"] == 0:
            return head_v  # empty merge: nothing to commit
        # count_distinct ignores NULLs (ADVICE r5): a null-key source row
        # previously surfaced as a bogus 'duplicate keys' error (or a
        # wrong count) — and left_anti never matches NULL, so null-key
        # merge semantics are undefined.  Reject them by name.
        if row["n"] != row["n_nonnull"]:
            raise ValueError(
                f"merge: key {on!r} must be non-null "
                f"({row['n'] - row['n_nonnull']} null-key source rows)"
            )
        if row["n"] != row["nd"]:
            raise ValueError(f"merge: source has {row['n'] - row['nd']} duplicate keys")
        # footer stats store dates/timestamps as ISO strings (_json_safe,
        # lexicographic == chronological), so normalize the collected
        # keys through the same conversion before comparing
        lo, hi = _json_safe(row["lo"]), _json_safe(row["hi"])
        # a sparse key set spanning the table would range-overlap every
        # file; below the cap, plan with the ACTUAL keys (Iceberg's CoW
        # planning joins source keys against file bounds) — a bounded
        # driver-side collect, same class as the vocab probes
        keys: list | None = None
        if row["n"] <= self.MERGE_PLAN_KEYS_MAX:
            import bisect

            keys = sorted(_json_safe(r[0]) for r in source.select(on).collect())
            if any(k is None for k in keys):
                keys = None  # a non-orderable key value: fall back
        stats = m.get("file_stats", {})
        stat_keys = [on] + list((m.get("aliases") or {}).get(on, []))
        touched, kept = [], []
        for f in m["files"]:
            bounds = _stat_bounds(stats.get(f), stat_keys)
            if bounds is None:
                overlap = True  # no provable bounds: must rewrite
            elif keys is not None:
                i = bisect.bisect_left(keys, bounds[0])
                overlap = i < len(keys) and keys[i] <= bounds[1]
            elif lo is None or hi is None:
                overlap = True  # non-orderable source bounds: must rewrite
            else:
                overlap = not (bounds[1] < lo or bounds[0] > hi)
            (touched if overlap else kept).append(f)
        survivors = self._read_files(spark, m, sorted(touched)).join(
            source.select(on), on=on, how="left_anti"
        )
        # align column order so the union is positional-safe
        cols = [f.name for f in schema.fields]
        merged_rows = survivors.select(*cols).unionByName(source.select(*cols))
        # write() keeps a hidden-partitioned table's rewrite clustered, so
        # no merged file loses its tuple and prune_partition stays exact
        return self.commit(
            "merge",
            files=sorted(kept) + self.write(merged_rows),
            expect_latest=head_v,
            _meta=m,
        )
