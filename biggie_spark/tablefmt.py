"""btable — a minimal ACID table format on parquet (VERDICT r11
"What's missing" #4: the engine had simulated lakehouse READ paths —
`src_scan_time_travel`, `src_scan_merge_on_read` — but no transactional
writer surface).  This module is the writer: a copy-on-write format in
the style of the PUBLIC Delta Lake / Iceberg protocol ideas, built from
scratch on plain parquet + a JSON commit log.

Layout:

    <table>/data/<commit-uuid>/part-*.parquet     immutable data files
    <table>/_log/00000000.json ... 000000NN.json  one JSON doc per commit

Each commit doc carries the snapshot delta: ``add`` entries (relative
path + row count + per-column min/max stats) and ``remove`` entries
(paths logically deleted).  A snapshot at version V = replay of commits
0..V.  Nothing is ever mutated in place, so:

* **Snapshot isolation**: a reader resolves its file list once from the
  log and reads immutable files — concurrent commits can't tear it.
* **Time travel**: ``read(spark, version=V)`` replays the log prefix.
* **Atomic commits / optimistic concurrency**: a commit is staged to a
  temp file and claimed with ``os.link`` (fails with EEXIST if another
  writer took the version — the POSIX atomic create-if-absent; plain
  ``os.rename`` would silently overwrite).  Losers get
  ``CommitConflict`` and the table is left exactly at the winner's
  version — no partial state is ever visible.
* **Copy-on-write DML**: ``delete``/``merge`` rewrite ONLY the data
  files whose stats ranges intersect the touched keys (file-level
  pruning, then an exact semi-join confirms) — at 100 TB a merge that
  touches 0.1% of keys rewrites ~0.1% of files, not the table.
* **Merge-on-read deletes (deletion vectors)**:
  ``delete(..., mode='merge_on_read')`` touches NO data file — the
  commit records per-file row-position ranges (coalesced runs, inline
  in the log; the Delta 3.x DV idea with ranges instead of bitmap
  sidecars) and reads anti-join them out.  Delete cost becomes
  independent of file size; ``optimize()`` materializes the debt.
* **Data skipping**: ``read(..., where=...)`` prunes files on the
  logged min/max stats before Spark ever lists them — the same
  scan-avoidance a lakehouse reader gets from footer stats, but
  resolved driver-side from the log (no file I/O for pruned files).
* **Column mapping**: ``rename_column``/``drop_column`` are metadata-
  only (the Delta columnMapping idea): the log schema is LOGICAL,
  data files keep their write-time PHYSICAL names, and each commit's
  ``colmap`` records logical->physical.  No rewrite, every old
  version stays readable under its own schema, stats pruning follows
  the rename, and a dropped-then-readded column gets a fresh physical
  name so dead data never resurrects.
* **Bloom-filter file skipping**: per-file bloom sidecars on declared
  string/integral columns (the Delta bloom-filter-index idea) prune
  equality/IN point lookups that min/max stats can't — the
  high-cardinality-id case.  Build and probe hash the SAME canonical
  bytes (JVM md5 expressions / hashlib md5), so there is no
  cross-engine hash-parity risk; any literal/type doubt must-scans.
* **Protocol table features** (the Delta table-features idea): the
  first commit to exercise column mapping / deletion vectors / row
  tracking stamps a monotone ``protocol`` union into the log;
  snapshots FAIL CLOSED on unknown reader features and the commit
  choke point refuses to write under any unknown feature — a future
  log can never be silently misread, while time travel before the
  feature-introducing commit stays readable.
* **Row tracking**: stable row ids (the Delta rowTracking idea) —
  an add action's ``base_row_id`` + parquet row index names a row for
  life; copy-on-write rewrites CARRY ids via a materialized
  ``_btable_row_id`` column (fresh rows resolve as base + index from
  a new allocation), so MERGE updates keep the target row's id and
  ``changes(with_row_ids=True)`` lets an incremental consumer tell an
  update from a delete+insert.  Metadata-only to enable; id
  resolution is one broadcast of per-file bases.

Scale notes: the log is O(commits) JSON docs read driver-side (the same
shape as Delta's _delta_log; checkpointing the replay is a natural
extension, not needed at this commit volume), data moves only through
distributed Spark jobs, and each write builds its file metadata in at
most one pass.  Per-file stats and fresh bloom words ride the write job
itself as observed metrics; a commit that lands more than one file
computes both in one per-file aggregate over the just-written files.
A copy-on-write rewrite (delete, merge, the DV fallback) never re-hashes
the rows it keeps: its files inherit the OR of the rewritten files'
bloom sidecars plus the merge source's bits, a conservative superset
that only OPTIMIZE/REORG rebuild exactly.  Each DML evaluates its inputs
once: row counts a clustered rewrite is sized by come from the commit
log and the hit probe, not from a count job.  Driver-built metadata
frames (DV ranges, row-id bases) are Arrow-fed LocalRelations, never
Python RDDs.
"""

from __future__ import annotations

import base64
import hashlib
import json
import os
import re
import time
import uuid
from fractions import Fraction
from dataclasses import dataclass, field
from typing import Any

from pyspark.sql import DataFrame, Observation, SparkSession, Window
from pyspark.sql import functions as F
from pyspark.sql.types import StructType

_LOG_DIR = "_log"
_DATA_DIR = "data"
_STATS_COLS_MAX = 32  # cap stats collection for very wide tables
# physical column a rewrite writes materialized row ids into (row
# tracking); reserved alongside the _btable_* provenance names
_ROW_ID_COL = "_btable_row_id"


def _session_tz(spark: SparkSession | None) -> str | None:
    """The live session timezone (how naive timestamp literals in a
    ``where`` will be interpreted by the filter); None -> timestamp
    pruning must-scans."""
    if spark is None:
        return None
    try:
        return spark.conf.get("spark.sql.session.timeZone")
    except Exception:
        return None


class CommitConflict(RuntimeError):
    """Another writer claimed the target version first; re-read and retry."""


class SchemaMismatch(ValueError):
    """Write schema does not match the table schema."""


class UnsupportedTableFeature(RuntimeError):
    """The commit log requires a table feature this implementation does
    not know.  Raised instead of returning silently-wrong data: a reader
    that ignored an unknown ``reader`` feature (say, a future encoding)
    could resurrect deleted rows or misname columns, and a writer that
    ignored an unknown ``writer`` feature could corrupt invariants the
    feature maintains (the Delta Lake protocol's table-features idea)."""


# Features whose semantics a reader MUST implement to produce correct
# rows (ignoring column mapping misnames columns; ignoring deletion
# vectors resurrects deleted rows).  Row tracking is writer-only, like
# Delta's rowTracking: plain reads of a tracked table are unaffected,
# but a writer that doesn't maintain id assignment would break stable
# ids for every downstream CDC consumer.
SUPPORTED_READER_FEATURES = frozenset({"column-mapping", "deletion-vectors"})
SUPPORTED_WRITER_FEATURES = SUPPORTED_READER_FEATURES | frozenset(
    {"row-tracking"}
)


def _require_readable(snap: "Snapshot") -> "Snapshot":
    """Reader-feature gate: raise instead of misreading a snapshot whose
    log requires features this implementation doesn't know.  Called by
    every snapshot-resolving read surface (BTable.snapshot and the
    btable_stream data sources, which replay the log directly)."""
    unknown = snap.reader_features - SUPPORTED_READER_FEATURES
    if unknown:
        raise UnsupportedTableFeature(
            f"table requires reader features {sorted(unknown)} "
            f"(supported: {sorted(SUPPORTED_READER_FEATURES)}); "
            "versions before the feature was introduced stay readable "
            "via read(version=...)"
        )
    return snap


def _features_of_doc(doc: dict[str, Any]) -> tuple[set[str], set[str]]:
    """(reader, writer) features this commit doc exercises.  Computed
    from the doc's own keys so every DML path is covered at the single
    ``_commit`` choke point — no per-call-site bookkeeping to forget."""
    reader: set[str] = set()
    writer: set[str] = set()
    if "colmap" in doc:
        reader.add("column-mapping")
    if doc.get("dv"):  # dv_reset with an empty map needs nothing: a
        # reader ignoring it on a DV-free table still reads correctly
        reader.add("deletion-vectors")
    if (
        doc.get("row_tracking")
        or "row_id_assign" in doc
        or "row_id_hwm" in doc
    ):
        writer.add("row-tracking")
    return reader, writer


def _log_path(table: str, version: int) -> str:
    return os.path.join(table, _LOG_DIR, f"{version:08d}.json")


def _rel_tail(path: str) -> str:
    """Trailing ``data/<commit>/<name>`` segments of an add-action path —
    the normalized equi-join key between commit-log entries and the
    ``_btable_rel`` column ``_with_pos`` reconstructs from
    ``_metadata.file_path``.  Table-relative paths pass through
    unchanged; absolute paths (shallow-clone add actions) reduce to the
    same shape.  uuid commit dirs make cross-table collisions a
    non-issue."""
    return "/".join(path.split("/")[-3:])


_COMMIT_RE = re.compile(r"^\d{8}\.json$")
_CHECKPOINT_RE = re.compile(r"^(\d{8})\.checkpoint\.json$")
_CHECKPOINT_EVERY = 10  # snapshot the replay every N commits


def _read_log(table: str) -> list[dict[str, Any]]:
    log_dir = os.path.join(table, _LOG_DIR)
    if not os.path.isdir(log_dir):
        raise FileNotFoundError(f"not a btable (no {_LOG_DIR}/): {table}")
    commits = []
    # strict name match: .tmp-* staging files and *.checkpoint.json replay
    # caches must never parse as commits
    for name in sorted(os.listdir(log_dir)):
        if _COMMIT_RE.match(name):
            with open(os.path.join(log_dir, name)) as f:
                commits.append(json.load(f))
    return commits


def _latest_checkpoint(table: str, max_version: int) -> dict[str, Any] | None:
    """Newest replay checkpoint at or below ``max_version``, if any."""
    log_dir = os.path.join(table, _LOG_DIR)
    best = None
    for name in os.listdir(log_dir):
        m = _CHECKPOINT_RE.match(name)
        if m and int(m.group(1)) <= max_version:
            if best is None or int(m.group(1)) > best[0]:
                best = (int(m.group(1)), name)
    if best is None:
        return None
    with open(os.path.join(log_dir, best[1])) as f:
        return json.load(f)


# --------------------------------------------------------------- deletion
# vectors: per-file row-position ranges, the merge-on-read delete format.
# A DV is a sorted list of disjoint half-open [start, end) parquet
# row-index ranges; rows covered by a live file's DV are logically
# deleted without rewriting the file.  Stored INLINE in the commit doc as
# coalesced ranges (delete predicates produce run-shaped position sets,
# so ranges compress them to metadata scale; the production-format analog
# is Delta's roaring-bitmap DV sidecar — same semantics, denser encoding).


def _rng_coalesce(ranges: list) -> list:
    """Sort + merge overlapping/adjacent half-open ranges."""
    out: list = []
    for s, e in sorted((int(s), int(e)) for s, e in ranges):
        if s >= e:
            continue
        if out and s <= out[-1][1]:
            out[-1][1] = max(out[-1][1], e)
        else:
            out.append([s, e])
    return out


def _rng_union(a: list, b: list) -> list:
    return _rng_coalesce(list(a) + list(b))


def _rng_subtract(a: list, b: list) -> list:
    """Rows in ``a`` not in ``b`` (both coalesced half-open range lists)."""
    out: list = []
    bi = 0
    b = _rng_coalesce(b)
    for s, e in _rng_coalesce(a):
        cur = s
        while bi < len(b) and b[bi][1] <= cur:
            bi += 1
        j = bi
        while j < len(b) and b[j][0] < e:
            if b[j][0] > cur:
                out.append([cur, b[j][0]])
            cur = max(cur, b[j][1])
            j += 1
        if cur < e:
            out.append([cur, e])
    return out


def _rng_count(ranges: list) -> int:
    return sum(e - s for s, e in ranges)


def _znum(v, type_name: str) -> float:
    """A stat value as a number on the z-order bucket axis: numerics
    as-is, timestamps are already epoch micros in the log, dates are
    isoformat strings -> epoch days."""
    if type_name == "date":
        import datetime as _dt

        return float(_dt.date.fromisoformat(v).toordinal() - 719163)
    return float(v)


def _zcol_numeric(c: str, type_name: str):
    """Column expression projecting a z-order column onto its numeric
    axis (must mirror _znum's mapping exactly)."""
    if type_name == "timestamp":
        return F.unix_micros(F.col(c)).cast("double")
    if type_name == "date":
        return F.datediff(F.col(c), F.lit("1970-01-01")).cast("double")
    return F.col(c).cast("double")


def _zvalue(df: DataFrame, cols: list[str], types: dict, bounds: dict):
    """Morton (bit-interleaved) z-value over the columns' 16-bit
    stats-scaled buckets — a single whole-stage-codegen expression, no
    UDF, no extra scan.  NULLs bucket to 0 (cluster at the front)."""
    k = len(cols)
    buckets = []
    for c in cols:
        lo, hi = bounds[c]
        span = (hi - lo) or 1.0
        b = F.floor(
            (_zcol_numeric(c, types[c]) - F.lit(lo)) / F.lit(span) * 65535
        )
        b = F.least(F.greatest(b, F.lit(0)), F.lit(65535))
        buckets.append(F.coalesce(b, F.lit(0)).cast("long"))
    z = F.lit(0).cast("long")
    for i in range(16):
        for j, b in enumerate(buckets):
            bit = F.shiftright(b, i).bitwiseAND(F.lit(1))
            z = z.bitwiseOR(F.shiftleft(bit, i * k + j))
    return z


def _live_diffs(commits: list, version_from: int, version_to: int):
    """Per-version LIVE-ROW diffs over a commit log: yields
    ``(version, kind, rel, ranges, is_full)`` for every file whose live
    row set changed in commits ``(version_from, version_to]``, where a
    file's live rows at a version are ``[0, rows)`` minus its deletion
    vector.  ``kind`` is 'insert'/'delete', ``ranges`` the changed
    row-index ranges, ``is_full`` True when they cover the whole physical
    file (the plain add/remove case — callers can skip position
    filtering).  Shared by ``BTable.changes`` and the streaming source
    (biggie_spark/btable_stream.py); pure driver-side metadata work."""
    prev_state = _replay(commits, version_from) if version_from >= 0 else None

    def live_map(s):
        return {
            rel: _rng_subtract([[0, a.get("rows", 0)]], s.dvs.get(rel, []))
            for rel, a in s.files.items()
        }

    prev_lm = live_map(prev_state) if prev_state is not None else {}
    prev_files = prev_state.files if prev_state is not None else {}
    for v in range(version_from + 1, version_to + 1):
        curr_state = _replay(commits, v)
        curr_lm = live_map(curr_state)
        for rel in sorted(set(prev_lm) | set(curr_lm)):
            lp = prev_lm.get(rel, [])
            lc = curr_lm.get(rel, [])
            if lp == lc:
                continue
            act = curr_state.files.get(rel) or prev_files.get(rel)
            full = [[0, act.get("rows", 0)]] if act.get("rows") else []
            for kind, rngs in (
                ("delete", _rng_subtract(lp, lc)),
                ("insert", _rng_subtract(lc, lp)),
            ):
                if rngs:
                    yield v, kind, rel, rngs, rngs == full
        prev_lm, prev_files = curr_lm, curr_state.files


@dataclass
class Snapshot:
    """Resolved table state at a version: live files + their stats, plus
    per-file deletion vectors (rel path -> coalesced [start,end) row-index
    ranges of logically-deleted rows)."""

    version: int
    schema_json: str
    files: dict[str, dict[str, Any]] = field(default_factory=dict)
    dvs: dict[str, list] = field(default_factory=dict)
    constraints: dict[str, str] = field(default_factory=dict)
    # Column mapping (Delta's columnMapping idea): the log schema is
    # LOGICAL; data files keep their write-time PHYSICAL names.  colmap
    # holds only the non-identity logical->physical entries; ``mapped``
    # is sticky once any commit carries a colmap, because from then on
    # new columns need fresh physical names (a dropped column's physical
    # name must never be reused — old files still contain it).
    colmap: dict[str, str] = field(default_factory=dict)
    mapped: bool = False
    # Row tracking (Delta's rowTracking idea): every add action gets a
    # ``base_row_id``; a row's stable id is base + parquet row index,
    # unless the file materializes ids in a physical _btable_row_id
    # column (rewrites carry ids that way).  ``row_id_hwm`` is the
    # allocation high-watermark (never decreases, even across RESTORE).
    row_tracking: bool = False
    row_id_hwm: int = 0
    # Protocol table features (Delta's reader/writer features idea):
    # monotone unions over the log prefix this snapshot replays, so
    # time travel BEFORE a feature-introducing commit stays readable
    # even when the feature itself is unknown to this implementation.
    reader_features: set[str] = field(default_factory=set)
    writer_features: set[str] = field(default_factory=set)

    def paths(self, table: str) -> list[str]:
        return [os.path.join(table, rel) for rel in sorted(self.files)]

    def phys(self, logical: str) -> str:
        """Physical (on-file) column name for a logical column."""
        return self.colmap.get(logical, logical)

    def live_rows(self, rels) -> int:
        """Exact live row count of the given files from metadata: each
        add action's written ``rows`` minus its deletion-vector
        coverage (DV ranges are disjoint per-file row indices)."""
        return sum(
            self.files[r].get("rows", 0) - _rng_count(self.dvs.get(r, []))
            for r in rels
        )

    def logical_stats(self, add: dict[str, Any]):
        """(stats, nulls) of an add action re-keyed by LOGICAL column
        name, so the pruning stack keeps matching where-clause columns.
        Physical columns with no live logical name (dropped columns) are
        omitted; a logical column absent from a file's stats (added after
        the file was written, or re-added under a fresh physical name)
        simply has no entry -> conservative must-scan."""
        if not self.mapped:
            return add.get("stats", {}), add.get("nulls")
        inv = {self.phys(k): k for k in self._logical_names()}
        stats = {
            inv[p]: v for p, v in add.get("stats", {}).items() if p in inv
        }
        nulls_raw = add.get("nulls")
        nulls = (
            None
            if nulls_raw is None
            else {inv[p]: v for p, v in nulls_raw.items() if p in inv}
        )
        return stats, nulls

    def _logical_names(self) -> list[str]:
        return [f["name"] for f in json.loads(self.schema_json)["fields"]]

    def file_maybe_matches(self, add, where: str, schema, tz) -> bool:
        """Conservative pruning test for one add action, column mapping
        resolved (stats keys are physical; the where clause is logical)."""
        stats, nulls = self.logical_stats(add)
        return _maybe_matches(stats, where, schema, nulls, add.get("rows"), tz)


def _replay(
    commits: list[dict[str, Any]],
    version: int | None,
    base: dict[str, Any] | None = None,
) -> Snapshot:
    """Snapshot at ``version`` (latest if None); ``base`` is an optional
    checkpoint dict to start the replay from instead of commit 0."""
    if not commits:
        raise FileNotFoundError("empty commit log")
    last = commits[-1]["version"] if version is None else version
    if base is not None and base["version"] <= last:
        snap = Snapshot(
            version=last,
            schema_json=base["schema"],
            files=dict(base["files"]),
            dvs={rel: list(r) for rel, r in base.get("dvs", {}).items()},
            constraints=dict(base.get("constraints", {})),
            colmap=dict(base.get("colmap", {})),
            mapped=base.get("mapped", False),
            row_tracking=base.get("row_tracking", False),
            row_id_hwm=base.get("row_id_hwm", 0),
            reader_features=set(
                base.get("protocol", {}).get("reader", [])
            ),
            writer_features=set(
                base.get("protocol", {}).get("writer", [])
            ),
        )
        floor = base["version"]
        seen = base["version"] == last
    else:
        snap = Snapshot(version=last, schema_json=commits[0]["schema"])
        floor = -1
        seen = False
    for c in commits:
        if c["version"] <= floor:
            continue
        if c["version"] > last:
            break
        seen = seen or c["version"] == last
        if "schema" in c:
            snap.schema_json = c["schema"]
        if "colmap" in c:  # full replacement, like schema
            snap.colmap = dict(c["colmap"])
            snap.mapped = True  # sticky: physical names stay reserved
        if "protocol" in c:  # features only grow (no drop-feature)
            snap.reader_features |= set(c["protocol"].get("reader", []))
            snap.writer_features |= set(c["protocol"].get("writer", []))
        if c.get("row_tracking"):
            snap.row_tracking = True
        if "row_id_hwm" in c:  # never decreases (RESTORE keeps old ids)
            snap.row_id_hwm = max(snap.row_id_hwm, c["row_id_hwm"])
        if c.get("dv_reset"):  # RESTORE: DV state is replaced, not unioned
            snap.dvs = {}
        for rel in c.get("remove", []):
            snap.files.pop(rel, None)
            snap.dvs.pop(rel, None)  # a rewritten file's DV dies with it
        for add in c.get("add", []):
            snap.files[add["path"]] = add
        # row-tracking enablement assigns base ids to PRE-EXISTING files
        # metadata-only (copy the entry: add actions in older commits are
        # shared dicts and must stay immutable history)
        for rel, b in c.get("row_id_assign", {}).items():
            if rel in snap.files:
                snap.files[rel] = {**snap.files[rel], "base_row_id": b}
        for rel, rngs in c.get("dv", {}).items():
            snap.dvs[rel] = _rng_union(snap.dvs.get(rel, []), rngs)
        snap.constraints.update(c.get("constraint_add", {}))
        for name in c.get("constraint_drop", []):
            snap.constraints.pop(name, None)
    if version is not None and not seen:
        raise ValueError(f"version {version} not in log (latest {last})")
    return snap


class BTable:
    """Handle on a btable directory.  All DML goes through ``_commit`` so
    every mutation is atomic, versioned and conflict-checked."""

    def __init__(self, path: str):
        self.path = path

    # ---------------------------------------------------------------- io

    @staticmethod
    def create(
        spark: SparkSession,
        path: str,
        df: DataFrame,
        cluster_by: list[str] | None = None,
        cluster_file_rows: int = 1_000_000,
        row_tracking: bool = False,
        bloom_cols: list[str] | None = None,
        bloom_bits: int = 32768,
        bloom_k: int = 7,
    ) -> "BTable":
        """``cluster_by`` records clustering columns in the log: every
        write (create/append/optimize rewrites) hash-repartitions and
        range-sorts on them first, so data files become value-homogeneous
        and the min/max stats pruning gets partition-pruning sharpness
        WITHOUT a hive directory layout — the liquid-clustering idea: the
        clustering choice is metadata, re-clusterable by OPTIMIZE, never
        baked into paths.

        ``bloom_cols`` adds a per-file bloom filter of ``bloom_bits`` bits
        and ``bloom_k`` hashes (see ``set_bloom_index``).  Size the bits
        to about 10 x the rows per file: at the default 32768 bits and
        k=7, a 25k-row file's filter answers ~97% of absent keys with a
        false positive, so it prunes almost nothing."""
        if os.path.exists(os.path.join(path, _LOG_DIR)):
            raise FileExistsError(f"btable already exists: {path}")
        if cluster_by:
            missing = [c for c in cluster_by if c not in df.columns]
            if missing:
                raise ValueError(f"cluster_by columns not in schema: {missing}")
        bconf: dict[str, Any] = {}
        if bloom_cols:
            types = {f.name: f.dataType.typeName() for f in df.schema.fields}
            bconf = _validate_bloom_conf(types, bloom_cols, bloom_bits, bloom_k)
        os.makedirs(os.path.join(path, _LOG_DIR), exist_ok=True)
        t = BTable(path)
        t._cluster_by = list(cluster_by or [])
        t._cluster_file_rows = cluster_file_rows
        t._bloom_conf = bconf
        adds = t._write_files(spark, df)
        doc = {"op": "create", "schema": df.schema.json(), "add": adds}
        if cluster_by:
            doc["cluster_by"] = list(cluster_by)
            doc["cluster_file_rows"] = cluster_file_rows
        if bconf:
            doc["bloom_conf"] = bconf
        if row_tracking:
            hwm = 0
            for add in sorted(adds, key=lambda a: a["path"]):
                add["base_row_id"] = hwm
                hwm += add.get("rows", 0)
            doc["row_tracking"] = True
            doc["row_id_hwm"] = hwm
        t._commit(expected_version=-1, doc=doc)
        return t

    @property
    def cluster_by(self) -> list[str]:
        if getattr(self, "_cluster_by", None) is None:
            commits = _read_log(self.path)
            cb: list[str] = []
            rows = 1_000_000
            for c in commits:
                if "cluster_by" in c:
                    cb = c["cluster_by"]
                    rows = c.get("cluster_file_rows", rows)
            self._cluster_by = cb
            self._cluster_file_rows = rows
        return self._cluster_by

    @property
    def bloom_conf(self) -> dict[str, Any]:
        """Active bloom-index config ({} when none): cols / bits / k.
        Like ``cluster_by``, a writer config replayed from the raw log
        (latest setting wins), not snapshot state."""
        if getattr(self, "_bloom_conf", None) is None:
            conf: dict[str, Any] = {}
            for c in _read_log(self.path):
                if "bloom_conf" in c:
                    conf = c["bloom_conf"]
            self._bloom_conf = conf
        return self._bloom_conf

    def set_bloom_index(
        self, cols: list[str], bits: int = 32768, k: int = 7
    ) -> int:
        """Configure per-file bloom filters on ``cols`` (string/integral
        LOGICAL column names) for equality/IN file skipping.  Metadata-only
        commit; applies to files written AFTERWARDS — files predating the
        config simply have no sidecar and must-scan (conservative), and
        ``optimize()`` rewrites backfill them.  Size ``bits`` to the
        rows-per-file target: ~10 bits per distinct value with k=7 gives
        ~1% false positives (the standard bloom sizing), while the default
        32768 bits with k=7 on a 25k-row file is ~97% false positive.
        Copy-on-write rewrites inherit the OR of the filters they replace
        (a superset that only grows stale); OPTIMIZE and REORG rebuild
        exact ones."""
        snap = self.snapshot()
        types = {
            f.name: f.dataType.typeName() for f in _schema(snap).fields
        }
        conf = _validate_bloom_conf(types, cols, bits, k)
        v = self._commit(
            expected_version=snap.version,
            doc={"op": "alter", "bloom_conf": conf},
        )
        self._bloom_conf = conf
        return v

    def read(
        self,
        spark: SparkSession,
        version: int | None = None,
        where: str | None = None,
        with_row_ids: bool = False,
    ) -> DataFrame:
        """Snapshot read.  ``where`` both prunes files on logged min/max
        stats (data skipping) and is applied as a row filter.
        ``with_row_ids=True`` appends each row's stable ``_row_id``
        (requires row tracking)."""
        snap = self.snapshot(version)
        files = snap.files
        if where is not None:
            sch = _schema(snap)
            tz = _session_tz(spark)
            files = {
                rel: a
                for rel, a in files.items()
                if self._file_may_match(snap, a, where, sch, tz)
            }
        df = self._read_live(
            spark,
            snap,
            sorted(files),
            row_id_col="_row_id" if with_row_ids else None,
        )
        return df.filter(where) if where is not None else df

    def snapshot(self, version: int | None = None) -> Snapshot:
        commits = _read_log(self.path)
        last = commits[-1]["version"] if commits else 0
        target = last if version is None else version
        snap = _require_readable(
            _replay(commits, version, _latest_checkpoint(self.path, target))
        )
        if version is None:
            # feature state as of the snapshot every DML attempt() takes
            # right before _commit — lets the commit choke point gate
            # writer features without a second log read
            self._feat_cache = (
                snap.version,
                frozenset(snap.reader_features),
                frozenset(snap.writer_features),
            )
        return snap

    def version_as_of(self, ts: float) -> int:
        """Newest version whose commit time is <= ``ts`` (unix seconds) —
        timestamp-flavored time travel: read(version=version_as_of(ts))."""
        best = None
        for c in _read_log(self.path):
            if c.get("ts") is not None and c["ts"] <= ts:
                best = c["version"]
        if best is None:
            raise ValueError(f"no commit at or before ts={ts}")
        return best

    def restore(self, version: int) -> int:
        """RESTORE: roll the table back to an old version with a NEW
        commit (add back that snapshot's files, remove the current ones).
        History is preserved — the rolled-back states stay time-travel
        readable, and restore itself is just another atomic commit."""
        target = self.snapshot(version)
        cur = self.snapshot()
        if (
            target.files == cur.files
            and target.schema_json == cur.schema_json
            and target.dvs == cur.dvs
            and target.colmap == cur.colmap
        ):
            return cur.version
        gone = [
            rel
            for rel in target.files
            if not os.path.exists(os.path.join(self.path, rel))
        ]
        if gone:
            raise FileNotFoundError(
                f"cannot restore to v{version}: {len(gone)} data files were "
                f"vacuumed (e.g. {gone[0]})"
            )
        doc: dict[str, Any] = {
            "op": "restore",
            "schema": target.schema_json,
            "remove": sorted(set(cur.files) - set(target.files)),
            "add": [
                target.files[rel]
                for rel in sorted(set(target.files) - set(cur.files))
            ],
            # DV state is REPLACED with the target's (dv_reset), not
            # unioned: restoring past a merge-on-read delete must
            # resurrect its rows
            "dv_reset": True,
            "dv": target.dvs,
        }
        if cur.mapped or target.mapped:
            # column mapping rolls back with the schema (files re-added
            # from the target carry their original physical names, so the
            # target's colmap is exactly what reads them correctly);
            # row-id bases ride along inside the re-added add actions and
            # the high-watermark never decreases (replay takes the max)
            doc["colmap"] = target.colmap
        return self._commit(expected_version=cur.version, doc=doc)

    def clone(self, dest: str, version: int | None = None) -> "BTable":
        """Shallow clone (Delta's SHALLOW CLONE): a NEW table at ``dest``
        whose create commit references the source snapshot's data files
        (and bloom sidecars) by ABSOLUTE path — zero data bytes copied,
        O(files) driver metadata work.  At 100 TB this is how a dev/test
        snapshot or a what-if maintenance run starts in seconds instead
        of after a 100 TB copy.

        The clone is fully independent going forward: copy-on-write
        means its DML rewrites land in its OWN data dir and the source
        is never touched; deletion vectors, column mapping, row ids,
        constraints, clustering and bloom config all carry over
        (absolute-path adds equi-join the position machinery through the
        ``_rel_tail`` normalization).  ``version`` clones an old
        snapshot ("clone as of").  Same caveat as Delta: VACUUM on the
        SOURCE can remove files the clone still references — retention
        windows are the operator's contract across clones."""
        snap = self.snapshot(version)
        if os.path.exists(os.path.join(dest, _LOG_DIR)):
            raise FileExistsError(f"btable already exists: {dest}")
        src_abs = os.path.abspath(self.path)
        adds, dvs = [], {}
        for rel in sorted(snap.files):
            a = dict(snap.files[rel])  # history dicts stay immutable
            ap = rel if os.path.isabs(rel) else os.path.join(src_abs, rel)
            a["path"] = ap
            if "bloom" in a and not os.path.isabs(a["bloom"]):
                a["bloom"] = os.path.join(src_abs, a["bloom"])
            adds.append(a)
            if snap.dvs.get(rel):
                dvs[ap] = [list(r) for r in snap.dvs[rel]]
        os.makedirs(os.path.join(dest, _LOG_DIR))
        t = BTable(dest)
        doc: dict[str, Any] = {
            "op": "clone",
            "schema": snap.schema_json,
            "add": adds,
            "clone_source": src_abs,
            "clone_source_version": snap.version,
        }
        if dvs:
            doc["dv"] = dvs
        if snap.mapped:
            doc["colmap"] = dict(snap.colmap)
        if snap.constraints:
            doc["constraint_add"] = dict(snap.constraints)
        if snap.row_tracking:
            doc["row_tracking"] = True
            doc["row_id_hwm"] = snap.row_id_hwm
        if self.cluster_by:
            doc["cluster_by"] = list(self.cluster_by)
            doc["cluster_file_rows"] = self._cluster_file_rows
        if self.bloom_conf:
            doc["bloom_conf"] = dict(self.bloom_conf)
        t._commit(expected_version=-1, doc=doc)
        return t

    def count_rows(self, version: int | None = None) -> int:
        """Exact COUNT(*) answered from METADATA ONLY — per-file row
        counts from the commit log minus deletion-vector coverage; zero
        data files are opened.  At 100 TB this is the
        metadata-only-query optimization (Delta answers plain counts
        from the log the same way): O(files) driver work regardless of
        table size.  Exactness holds by construction: every add action
        carries the written row count, and DV ranges are disjoint
        per-file row indices."""
        snap = self.snapshot(version)
        return snap.live_rows(snap.files)

    def add_constraint(self, spark: SparkSession, name: str, expr: str) -> int:
        """CHECK constraint (Delta's ALTER TABLE ADD CONSTRAINT): every
        existing live row is validated now (one scan), and every future
        append/merge validates its incoming rows before committing.
        SQL CHECK semantics: a row violates only when the expression is
        FALSE — NULL passes (filter NOT(expr) is null-safe that way)."""
        snap = self.snapshot()
        if name in snap.constraints:
            raise ValueError(f"constraint {name!r} already exists")
        bad = (
            self._read_live(spark, snap, sorted(snap.files))
            .filter(f"NOT ({expr})")
            .count()
        )
        if bad:
            raise ValueError(
                f"cannot add constraint {name!r}: {bad} existing rows "
                f"violate ({expr})"
            )
        return self._commit(
            expected_version=snap.version,
            doc={"op": "alter", "constraint_add": {name: expr}},
        )

    def drop_constraint(self, name: str) -> int:
        snap = self.snapshot()
        if name not in snap.constraints:
            raise ValueError(f"no such constraint: {name!r}")
        return self._commit(
            expected_version=snap.version,
            doc={"op": "alter", "constraint_drop": [name]},
        )

    def _check_constraints(self, df: DataFrame, snap: Snapshot, what: str):
        for name, expr in snap.constraints.items():
            bad = df.filter(f"NOT ({expr})").count()
            if bad:
                raise ValueError(
                    f"{what} violates CHECK constraint {name!r} "
                    f"({expr}): {bad} rows"
                )

    def history(self) -> list[dict[str, Any]]:
        return [
            {
                "version": c["version"],
                "op": c["op"],
                "ts": c.get("ts"),
                "added": len(c.get("add", [])),
                "removed": len(c.get("remove", [])),
                "dv_files": len(c.get("dv", {})),
            }
            for c in _read_log(self.path)
        ]

    def changes(
        self,
        spark: SparkSession,
        version_from: int,
        version_to: int | None = None,
        with_row_ids: bool = False,
    ) -> DataFrame:
        """Change data feed: every row change in commits
        ``(version_from, version_to]`` — the incremental-pipeline hook
        (Delta's table_changes).  Granularity is FILE-level, the same as
        Delta without CDC files: an added file's rows emit as
        ``_change_type='insert'``, a removed file's rows as ``'delete'``,
        so a copy-on-write rewrite emits delete for every old-file row
        and insert for every kept row.  The invariant consumers rely on
        holds exactly: state(to) = state(from) - deletes + inserts as
        multisets.  Rows carry ``_commit_version`` so a consumer can
        checkpoint its progress by version.

        All files are read under the version_to schema (missing columns
        null-filled), matching what read() would report.  Raises
        FileNotFoundError if a needed file was vacuumed away.

        ``with_row_ids=True`` (requires row tracking) appends each
        change row's stable ``_row_id`` — the hook that lets a consumer
        tell an UPDATE (a delete and an insert sharing one ``_row_id``)
        from a true delete+insert pair.  Rows from files removed before
        tracking was enabled carry NULL ids."""
        commits = _read_log(self.path)
        last = commits[-1]["version"] if version_to is None else version_to
        snap = self.snapshot(last)  # validates the version + pins schema
        sch = _schema(snap)
        cols = [f.name for f in sch.fields]
        if with_row_ids:
            if not snap.row_tracking:
                raise ValueError(
                    "changes(with_row_ids=True) requires row tracking"
                )
            return self._changes_with_ids(spark, commits, version_from, last)

        # Per-version LIVE-ROW diffs (_live_diffs: generalizes the
        # original add/remove scan to deletion vectors — partial-file
        # deletes for DV commits, partial-file inserts for DV-shrinking
        # restores, live-only deletes for rewrites of DV'd files; for
        # DV-free tables every diff is the full [0, rows) range and the
        # emission reduces to the original whole-file reads).
        frames = []
        diffs_by_version: dict[int, dict] = {}
        for v, kind, rel, rngs, is_full in _live_diffs(
            commits, version_from, last
        ):
            slot = diffs_by_version.setdefault(
                v,
                {
                    "full": {"insert": [], "delete": []},
                    "part": {"insert": {}, "delete": {}},
                },
            )
            if is_full:
                slot["full"][kind].append(rel)
            else:
                slot["part"][kind][rel] = rngs
        for v in sorted(diffs_by_version):
            full_rels = diffs_by_version[v]["full"]
            part_rels = diffs_by_version[v]["part"]
            for kind in ("insert", "delete"):
                rels = sorted(full_rels[kind]) + sorted(part_rels[kind])
                missing = [
                    rel
                    for rel in rels
                    if not os.path.exists(os.path.join(self.path, rel))
                ]
                if missing:
                    raise FileNotFoundError(
                        f"changes({version_from}, {last}): {len(missing)} "
                        f"data files vacuumed (e.g. {missing[0]})"
                    )
                out = None
                if full_rels[kind]:
                    out = _to_logical(
                        spark.read.schema(_phys_schema(snap)).parquet(
                            *[
                                os.path.join(self.path, r)
                                for r in sorted(full_rels[kind])
                            ]
                        ),
                        snap,
                    )
                if part_rels[kind]:
                    part = self._apply_ranges(
                        spark,
                        self._with_pos(
                            spark, snap, sorted(part_rels[kind])
                        ),
                        part_rels[kind],
                        "left_semi",
                    ).select(*cols)
                    out = part if out is None else out.unionByName(part)
                if out is not None:
                    frames.append(
                        out.withColumn("_change_type", F.lit(kind))
                        .withColumn(
                            "_commit_version", F.lit(v).cast("long")
                        )
                    )
        if not frames:
            from pyspark.sql.types import LongType, StringType, StructField

            return _empty_frame(
                spark,
                list(sch.fields)
                + [
                    StructField("_change_type", StringType()),
                    StructField("_commit_version", LongType()),
                ],
            )
        out = frames[0]
        for f in frames[1:]:
            out = out.unionByName(f)
        return out

    def _changes_with_ids(
        self, spark, commits, version_from: int, last: int
    ) -> DataFrame:
        """Row-id flavored change feed: every diff goes through the
        position-exposing scan (ids need row indexes anyway, so the
        full/partial fast-path split buys nothing here), ranges select
        the changed rows, and coalesce(materialized, base + index)
        resolves each row's stable id exactly as the live read does."""
        from pyspark.sql.types import LongType, StringType, StructField

        snap = _replay(commits, last)
        sch = _schema(snap)
        cols = [f.name for f in sch.fields]
        # rel -> base_row_id over the WHOLE log prefix: a delete-emitted
        # file is absent from the final snapshot but its add action (or
        # the enable commit's assignment) still pins its base
        bases: dict[str, int | None] = {}
        for c in commits:
            if c["version"] > last:
                break
            for add in c.get("add", []):
                bases[add["path"]] = add.get("base_row_id")
            for rel, b in c.get("row_id_assign", {}).items():
                bases[rel] = b
        by_vk: dict[tuple, dict] = {}
        for v, kind, rel, rngs, _ in _live_diffs(commits, version_from, last):
            by_vk.setdefault((v, kind), {})[rel] = rngs
        frames = []
        for (v, kind), ranges in sorted(by_vk.items()):
            rels = sorted(ranges)
            missing = [
                r for r in rels
                if not os.path.exists(os.path.join(self.path, r))
            ]
            if missing:
                raise FileNotFoundError(
                    f"changes({version_from}, {last}): {len(missing)} data "
                    f"files vacuumed (e.g. {missing[0]})"
                )
            df = self._apply_ranges(
                spark,
                self._with_pos(
                    spark,
                    snap,
                    rels,
                    extra_fields=[StructField(_ROW_ID_COL, LongType())],
                ),
                ranges,
                "left_semi",
            )
            bdf = _meta_frame(
                spark,
                [(_rel_tail(r), bases.get(r)) for r in rels],
                "_b_rel string, _b_base bigint",
            )
            df = df.join(
                F.broadcast(bdf),
                F.col("_btable_rel") == F.col("_b_rel"),
                "left",
            )
            rid = F.coalesce(
                F.col(_ROW_ID_COL), F.col("_b_base") + F.col("_btable_ri")
            )
            frames.append(
                df.select(
                    *cols,
                    rid.alias("_row_id"),
                    F.lit(kind).alias("_change_type"),
                    F.lit(v).cast("long").alias("_commit_version"),
                )
            )
        if not frames:
            return _empty_frame(
                spark,
                list(sch.fields)
                + [
                    StructField("_row_id", LongType()),
                    StructField("_change_type", StringType()),
                    StructField("_commit_version", LongType()),
                ],
            )
        out = frames[0]
        for f in frames[1:]:
            out = out.unionByName(f)
        return out

    def scan_file_count(self, where: str | None = None) -> int:
        """How many data files a read(where=...) would scan — the data-
        skipping observability hook tests assert on."""
        snap = self.snapshot()
        if where is None:
            return len(snap.files)
        sch = _schema(snap)
        tz = _session_tz(SparkSession.getActiveSession())
        return sum(
            1
            for a in snap.files.values()
            if self._file_may_match(snap, a, where, sch, tz)
        )

    # ------------------------------------------------------ bloom prune

    def _bloom_sidecar(self, rel: str) -> dict[str, Any] | None:
        """Load + decode one bloom sidecar, cached per handle (bounded by
        live-file count x filter size).  Any read/decode failure — e.g. a
        sidecar vacuumed from under a restored file — means must-scan."""
        cache = getattr(self, "_bloom_cache", None)
        if cache is None:
            cache = self._bloom_cache = {}
        if rel not in cache:
            try:
                with open(os.path.join(self.path, rel)) as f:
                    raw = json.load(f)
                raw["cols"] = {
                    c: base64.b64decode(v) for c, v in raw["cols"].items()
                }
                cache[rel] = raw
            except (OSError, ValueError, KeyError, TypeError):
                cache[rel] = None
        return cache[rel]

    def _bloom_excludes(self, snap, add, where: str, sch) -> bool:
        """True iff some fully-parsed equality/IN conjunct PROVES via the
        file's bloom sidecar that no row can match.  Mirrors the
        _maybe_matches contract: any parse, type, or sidecar doubt keeps
        the file (pruning is never a filter)."""
        rel = add.get("bloom")
        if not rel or "\\" in where:
            return False
        sc: dict[str, Any] | None = None
        for clause in _split_top_and(where):
            clause = _strip_parens(clause)
            im = _IN_RE.match(clause)
            m = None if im else _CLAUSE_RE.match(clause)
            col, lits = None, None
            if im is not None:
                items = _split_top_commas(im.group(2))
                if items:
                    col = im.group(1)
                    lits = [
                        lm.groups() if (lm := _LIT_RE.match(i)) else None
                        for i in items
                    ]
            elif m is not None and m.group(2) in ("==", "="):
                col = m.group(1)
                lits = [(m.group(3), m.group(4), m.group(5))]
            if col is None or not lits or any(g is None for g in lits):
                continue
            try:
                ftype = sch[col].dataType.typeName()
            except KeyError:
                continue
            if ftype not in _BLOOM_ELIGIBLE:
                continue
            canon = [_bloom_canon(*g, ftype) for g in lits]
            if any(c is None for c in canon):
                continue
            if sc is None:
                sc = self._bloom_sidecar(rel)
                if sc is None:
                    return False
            words = sc["cols"].get(snap.phys(col))
            if not _bloom_words_ok(words, sc["bits"]):
                continue
            # `col == lit` / `col IN (...)` never matches a NULL, so a
            # filter built from non-null values only is exactly right
            if all(
                not _bloom_contains(words, sc["bits"], sc["k"], c)
                for c in canon
            ):
                return True
        return False

    def _file_may_match(self, snap, add, where: str, sch, tz) -> bool:
        """Combined data-skipping test: min/max + null-count stats, then
        the bloom sidecar for point predicates the stats can't decide."""
        return snap.file_maybe_matches(
            add, where, sch, tz
        ) and not self._bloom_excludes(snap, add, where, sch)

    # --------------------------------------------------------------- dml

    def _with_retry(self, attempt, retries: int) -> int:
        """Optimistic-concurrency retry: each DML body re-reads the
        snapshot at entry, so losing a commit race is recovered by simply
        re-running the body against the winner's state (the staged files
        of the losing attempt are orphans — invisible to every reader and
        reclaimed by vacuum once they age past its retention window)."""
        for i in range(retries + 1):
            try:
                return attempt()
            except CommitConflict:
                if i == retries:
                    raise
        raise AssertionError("unreachable")

    def append(
        self,
        spark: SparkSession,
        df: DataFrame,
        retries: int = 0,
        merge_schema: bool = False,
    ) -> int:
        """``merge_schema=True`` is Delta's mergeSchema: columns the table
        lacks are appended to the table schema (nullable) in the SAME
        commit, and columns the frame lacks are null-filled — a type
        conflict on a shared name still raises.  Default stays strict."""

        pinned: list[DataFrame] = []

        def attempt() -> int:
            snap = self.snapshot()
            if (
                not pinned
                and (self.cluster_by or snap.constraints)
                and not df.is_cached
            ):
                # the attempt reads the frame more than once (CHECK
                # constraints, the clustered write's count): pin it the
                # way merge pins its source
                pinned.append(df.persist())
            schema_json = None
            out = df
            if merge_schema:
                out, schema_json = self._evolve(df, snap)
            else:
                self._check_schema(df, snap)
            self._check_constraints(out, snap, "append")
            colmap = dict(snap.colmap) if snap.mapped else None
            if colmap is not None and schema_json is not None:
                # evolution on a mapped table: new logical columns get
                # FRESH physical names (a previously-dropped column's
                # physical name must never be resurrected)
                known = set(snap._logical_names())
                for f in json.loads(schema_json)["fields"]:
                    if f["name"] not in known:
                        colmap[f["name"]] = _fresh_phys(f["name"])
            adds = self._write_files(spark, out, colmap=colmap)
            doc: dict[str, Any] = {"op": "append", "add": adds}
            if schema_json is not None:
                doc["schema"] = schema_json
                if colmap is not None:
                    doc["colmap"] = colmap
            hwm = self._assign_row_ids(snap, adds)
            if hwm is not None:
                doc["row_id_hwm"] = hwm
            return self._commit(expected_version=snap.version, doc=doc)

        try:
            return self._with_retry(attempt, retries)
        finally:
            for p in pinned:
                p.unpersist()

    def _evolve(self, df: DataFrame, snap: Snapshot):
        """(frame aligned to the evolved schema, evolved schema json or
        None if the table schema is unchanged).

        Covers Delta's mergeSchema AND its typeWidening idea: a write
        whose column type is NARROWER than the table's upcasts into the
        table type; a write whose type is WIDER along a lossless chain
        (tinyint < smallint < int < bigint, float < double) widens the
        TABLE type metadata-only — old files stay untouched and read
        back upcast (Spark's parquet reader performs the int32->int64 /
        float->double promotion under the explicit read schema; verified
        for every chain step).  Anything else still raises — widening
        is lossless by construction, never a rewrite or a truncation."""
        from pyspark.sql.types import StructField

        table = _schema(snap)
        by_name = {f.name: f for f in table.fields}
        widened = False
        for f in df.schema.fields:
            have = by_name.get(f.name)
            if have is None:
                continue
            ws = f.dataType.simpleString()
            ts = have.dataType.simpleString()
            if ws == ts or (ws, ts) in _WIDENS:
                continue  # exact or narrower write: upcast at align below
            if (ts, ws) in _WIDENS:  # wider write: widen the table type
                by_name[f.name] = StructField(
                    f.name, _nullable(f.dataType), True, have.metadata
                )
                widened = True
                continue
            raise SchemaMismatch(
                f"column {f.name!r}: table type {ts} != write type {ws} "
                "(mergeSchema widens losslessly, never rewrites or "
                "truncates types)"
            )
        new_fields = [
            StructField(f.name, _nullable(f.dataType), True, f.metadata)
            for f in df.schema.fields
            if f.name not in by_name
        ]
        full = StructType(
            [by_name[f.name] for f in table.fields] + new_fields
        )
        cols = [
            F.col(f.name).cast(f.dataType)
            if f.name in df.columns
            else F.lit(None).cast(f.dataType).alias(f.name)
            for f in full.fields
        ]
        aligned = df.select(*cols)
        return aligned, (full.json() if (new_fields or widened) else None)

    def delete(
        self,
        spark: SparkSession,
        where: str,
        retries: int = 0,
        mode: str = "copy_on_write",
        max_dv_ranges_per_file: int = 10_000,
    ) -> int:
        """Delete rows matching ``where``.  A row whose predicate is NULL
        is kept, as in SQL's DELETE, in both modes.

        ``mode='copy_on_write'`` (default): rewrite only the files whose
        stats range intersects ``where`` AND that actually contain
        matching rows — the original behavior.  The rewrite inherits the
        OR of the rewritten files' bloom sidecars (a superset of the
        survivors), so no survivor is hashed again.

        ``mode='merge_on_read'``: deletion vectors — no data file is
        touched; the commit records per-file row-position ranges and
        every subsequent read filters them out.  At 100 TB this is the
        difference between rewriting a 1 GB file to drop 10 rows and
        appending a few bytes of metadata (Delta 3.x's DV feature; same
        read semantics, inline-range encoding instead of bitmap
        sidecars).  Position sets are compressed to coalesced runs
        JVM-side before the driver sees them; a pathological delete that
        fragments a file into more than ``max_dv_ranges_per_file`` runs
        falls back to copy-on-write FOR THAT FILE in the same commit, so
        commit-doc size stays metadata-bounded.  Stats/null-counts keep
        describing the physical file (a superset of live rows), so file
        pruning stays conservative-correct; OPTIMIZE materializes DVs
        (rewrites drop them)."""
        if mode == "merge_on_read":
            return self._with_retry(
                lambda: self._delete_dv_once(
                    spark, where, max_dv_ranges_per_file
                ),
                retries,
            )
        if mode != "copy_on_write":
            raise ValueError(f"delete mode={mode!r}")

        def attempt() -> int:
            snap = self.snapshot()
            sch = _schema(snap)
            tz = _session_tz(spark)
            candidates = [
                rel
                for rel, a in snap.files.items()
                if self._file_may_match(snap, a, where, sch, tz)
            ]
            touched, kept_df, kept = self._split_touched(
                spark, snap, candidates, where
            )
            if not touched:
                return snap.version  # no-op: nothing matched
            adds = self._write_files(
                spark,
                kept_df,
                colmap=snap.colmap if snap.mapped else None,
                rows=kept,
                bloom=self._inherited_bloom(snap, touched),
            )
            doc = {"op": "delete", "remove": touched, "add": adds}
            hwm = self._assign_row_ids(snap, adds)
            if hwm is not None:
                doc["row_id_hwm"] = hwm
            return self._commit(expected_version=snap.version, doc=doc)

        return self._with_retry(attempt, retries)

    def _delete_dv_once(self, spark, where: str, max_ranges: int) -> int:
        """One merge-on-read delete attempt: compute the NEWLY-deleted
        live row positions (already-DV'd rows are excluded, so DV ranges
        across commits never overlap and the change feed stays an exact
        multiset), compress them to runs, and commit them as deletion
        vectors — rewriting copy-on-write only the files whose runs
        exceed ``max_ranges``."""
        snap = self.snapshot()
        sch = _schema(snap)
        tz = _session_tz(spark)
        candidates = [
            rel
            for rel, a in snap.files.items()
            if self._file_may_match(snap, a, where, sch, tz)
        ]
        if not candidates:
            return snap.version
        live = self._apply_ranges(
            spark,
            self._with_pos(spark, snap, candidates),
            {r: snap.dvs[r] for r in candidates if snap.dvs.get(r)},
            "left_anti",
        )
        w = Window.partitionBy("_btable_rel").orderBy("_btable_ri")
        runs = (
            live.filter(where)
            .select("_btable_rel", "_btable_ri")
            .withColumn("_g", F.col("_btable_ri") - F.row_number().over(w))
            .groupBy("_btable_rel", "_g")
            .agg(
                F.min("_btable_ri").alias("s"),
                (F.max("_btable_ri") + 1).alias("e"),
            )
            .collect()  # O(#runs): metadata scale, never O(#deleted rows)
        )
        if not runs:
            return snap.version
        # map the reconstructed trailing-segment keys back to the
        # snapshot's add-action keys (identity for table-relative paths;
        # required for a shallow clone's absolute-path adds)
        by_tail = {_rel_tail(rel): rel for rel in candidates}
        dv: dict[str, list] = {}
        for r in runs:
            dv.setdefault(by_tail[r["_btable_rel"]], []).append(
                [r["s"], r["e"]]
            )
        rewrite = []
        deleted = 0  # newly-deleted rows of the rewritten files
        for rel in list(dv):
            dv[rel] = _rng_coalesce(dv[rel])
            if len(dv[rel]) > max_ranges:
                rewrite.append(rel)
                deleted += _rng_count(dv.pop(rel))
        doc: dict[str, Any] = {"op": "delete", "mode": "merge_on_read"}
        if dv:
            doc["dv"] = dv
        if rewrite:
            survivors = self._read_live(
                spark,
                snap,
                rewrite,
                row_id_col=_ROW_ID_COL if snap.row_tracking else None,
            ).filter(_not_matching(where))
            doc["remove"] = rewrite
            adds = self._write_files(
                spark,
                survivors,
                colmap=snap.colmap if snap.mapped else None,
                rows=snap.live_rows(rewrite) - deleted,
                bloom=self._inherited_bloom(snap, rewrite),
            )
            doc["add"] = adds
            hwm = self._assign_row_ids(snap, adds)
            if hwm is not None:
                doc["row_id_hwm"] = hwm
        return self._commit(expected_version=snap.version, doc=doc)

    def merge(
        self,
        spark: SparkSession,
        source: DataFrame,
        on: str,
        when_matched: str = "update",
        when_not_matched: str = "insert",
        retries: int = 0,
    ) -> int:
        """Upsert MERGE (Delta-style copy-on-write):

        * files whose ``on``-column stats range intersects the source keys
          are candidates; one probe semi-joins their live rows with the
          broadcast non-null source keys and counts the hits per file,
          narrowing to the truly-hit files;
        * hit files are rewritten with matched rows replaced
          (``when_matched='update'``) or dropped (``'delete'``);
        * source rows with no target match are inserted
          (``when_not_matched='insert'``) or ignored (``'ignore'``).

        The default upsert writes ``keep ∪ source``: every source key
        lies in the source's [min, max], so a key that any live file
        holds sits in a candidate file and therefore in a hit one (an
        update), and every other source row is an insert.  Together the
        updates and inserts are exactly the source, so the rewrite reads
        no target keys beyond the hit files, and its row count — the hit
        files' live rows minus the hits plus the source rows — comes from
        the commit log and the probe instead of a count job.  The
        rewritten files' bloom sidecars are the OR of the hit files'
        sidecars and the source's words, which the source aggregate that
        finds the key range also builds: no kept row is hashed again.

        Source must carry the full table schema (it supplies the new row
        images).  At scale the source-key frame is the small side — it is
        broadcast into both the hit probe and the rewrite's anti-join.

        Raises ``ValueError`` on duplicate source keys: with multiple row
        images per key the rewrite would keep EVERY matching image
        (duplicating target rows) — Delta's MERGE raises on multi-match
        for the same reason (ADVICE r12)."""
        if when_matched not in ("update", "delete"):
            raise ValueError(f"when_matched={when_matched!r}")
        if when_not_matched not in ("insert", "ignore"):
            raise ValueError(f"when_not_matched={when_not_matched!r}")
        source = source.persist()  # pin: read many times per attempt
        try:
            # Timestamp merge keys: collect the key range as epoch micros
            # (JVM-side, timezone-free) so it compares exactly against the
            # epoch-micros file stats — collect() of a raw TimestampType
            # renders in the PYTHON process timezone, which shifts the
            # range when it differs from the session tz (same bug class as
            # the _write_files stats fix).
            q = _quote(on)
            is_ts = source.schema[on].dataType.typeName() == "timestamp"
            key = f"unix_micros({q})" if is_ts else q
            # the same one-row aggregate builds the source rows' bloom
            # words, which the rewrite ORs into the hit files' sidecars
            bconf = self.bloom_conf
            bits, k = bconf.get("bits"), bconf.get("k")
            bcols = {}
            if bconf:
                bcols = {
                    phys: name
                    for phys, name in _bloom_cols(bconf, self.snapshot()).items()
                    if name in source.columns
                }
            r = source.agg(
                F.expr("count(1)"),
                F.expr(f"count(DISTINCT {q})"),
                F.expr(f"sum(cast({q} IS NULL AS bigint))"),
                F.expr(f"min({key})"),
                F.expr(f"max({key})"),
                *[
                    a
                    for i, name in enumerate(bcols.values())
                    for a in _bloom_aggs(name, bits, k, f"_bl{i}")
                ],
            ).collect()[0]
            n, n_keys, n_null, lo, hi = r[:5]
            src_bloom = None
            if bcols:
                src_bloom = {
                    "bits": bits,
                    "k": k,
                    "cols": {
                        phys: _bloom_fold(r, f"_bl{i}", bits, k)
                        for i, phys in enumerate(bcols)
                    },
                }
            if n == 0:
                return self.snapshot().version  # empty source: no-op
            if n_keys + (n_null or 0) != n:
                raise ValueError(
                    f"merge source has {n} rows but only {n_keys} distinct "
                    f"{on!r} keys — multiple row images per key would write "
                    "duplicate rows; dedup the source first"
                )
            return self._with_retry(
                lambda: self._merge_once(
                    spark, source, on, when_matched, when_not_matched,
                    n, lo, hi, src_bloom,
                ),
                retries,
            )
        finally:
            source.unpersist()

    def _merge_once(
        self, spark, source, on, when_matched, when_not_matched, n, lo, hi,
        src_bloom,
    ) -> int:
        snap = self.snapshot()
        self._check_schema(source, snap)
        # merged row images (updates AND inserts) all come from source
        self._check_constraints(source, snap, "merge source")
        # lo is None => every non-null source key is absent (all-null keys,
        # which never equi-match): no file can be hit, nothing to rewrite
        candidates = (
            []
            if lo is None
            else [
                rel
                for rel, a in snap.files.items()
                if _range_intersects(
                    a.get("stats", {}).get(snap.phys(on)), lo, hi
                )
            ]
        )
        # no distinct(): semi/anti joins ignore duplicate keys, and null
        # keys never equi-match, so dropping them only shrinks the
        # broadcast.  DV-aware probe: already-deleted rows neither count
        # as hits nor survive the rewrite.
        keys = source.select(on).where(F.col(on).isNotNull())
        touched, hits = self._hit_counts(
            spark,
            snap,
            candidates,
            lambda df: df.join(F.broadcast(keys), on, "left_semi"),
        )
        kept = snap.live_rows(touched) - hits
        frames: list[DataFrame] = []
        old = old_ids = None
        if touched:
            old = self._read_live(
                spark,
                snap,
                touched,
                row_id_col=_ROW_ID_COL if snap.row_tracking else None,
            )
            frames.append(old.join(F.broadcast(keys), on, "left_anti"))
            if snap.row_tracking:
                # an UPDATE keeps the target row's stable id: attach it to
                # the replacing source image (min over matched targets —
                # deterministic when target keys repeat, matching the
                # collapse-to-one-image semantics).  Fresh rows get NULL
                # materialized ids -> resolved as base_row_id + row index
                # at read time (new allocation).
                old_ids = F.broadcast(
                    old.groupBy(on).agg(F.min(_ROW_ID_COL).alias(_ROW_ID_COL))
                )
        rows = None  # unknown: _write_files counts when it must
        if when_matched == "update" and when_not_matched == "insert":
            # updates ∪ inserts == source (see merge's docstring)
            frames.append(
                source if old_ids is None
                else source.join(old_ids, on, "left")
            )
            rows = kept + n
        else:
            # a source key missing from the hit files is in no live file
            old_keys = (
                None if old is None else F.broadcast(old.select(on).distinct())
            )
            if when_matched == "update" and old is not None:
                frames.append(
                    source.join(old_keys, on, "left_semi") if old_ids is None
                    else source.join(old_ids, on, "inner")
                )
            if when_not_matched == "insert":
                inserts = (
                    source if old is None
                    else source.join(old_keys, on, "left_anti")
                )
                if old_ids is not None:
                    inserts = inserts.withColumn(
                        _ROW_ID_COL, F.lit(None).cast("long")
                    )
                frames.append(inserts)
            elif when_matched == "delete":
                rows = kept  # only the hit files' unmatched rows remain
        if not frames:
            return snap.version
        new_data = frames[0]
        for f in frames[1:]:
            new_data = new_data.unionByName(f)
        bloom = None  # no index: nothing to inherit
        if src_bloom is not None:
            writes_source = (
                when_matched == "update" or when_not_matched == "insert"
            )
            bloom = self._inherited_bloom(
                snap, touched, src_bloom if writes_source else None
            )
        adds = self._write_files(
            spark,
            new_data,
            colmap=snap.colmap if snap.mapped else None,
            rows=rows,
            bloom=bloom,
        )
        if not adds and not touched:
            return snap.version
        doc = {"op": "merge", "remove": touched, "add": adds}
        hwm = self._assign_row_ids(snap, adds)
        if hwm is not None:
            doc["row_id_hwm"] = hwm
        return self._commit(expected_version=snap.version, doc=doc)

    # ------------------------------------------------------- maintenance

    def optimize(
        self,
        spark: SparkSession,
        small_file_rows: int = 100_000,
        zorder_by: list[str] | None = None,
        zorder_file_rows: int = 1_000_000,
        where: str | None = None,
    ) -> int:
        """Compaction (OPTIMIZE): bin-pack data files smaller than
        ``small_file_rows`` into one rewrite.  Pure layout change — the
        logical table is untouched and every old version stays readable
        (the small files are only logically removed).  At scale this is
        the small-file remedy for streaming/CDC ingest, run per partition
        range; here the bin target is a single file per call.

        ``zorder_by=[c1, c2, ...]``: OPTIMIZE ZORDER — rewrite ALL live
        files ordered by the Morton interleave of the columns'
        16-bit stats-scaled buckets, so every z-ordered column's
        min/max file stats prune (multi-dimensional data skipping; a
        linear sort only prunes its leading column).  Bucket bounds come
        from the SNAPSHOT's logged stats (no extra scan, no global
        sort — the rewrite is repartitionByRange on the z-value, the
        same shuffle shape as a clustered write); numeric, timestamp
        (epoch micros) and date columns supported.  One-shot layout op,
        like Delta's: later writes follow the table's cluster_by (or
        none) until the next ZORDER.

        ``where``: predicate-SCOPED compaction (Delta's OPTIMIZE WHERE)
        — only files that MAY contain matching rows (the same stats +
        bloom test reads prune with) are compaction candidates.  File
        granularity, rows are never filtered: at 100 TB this is how a
        maintenance job compacts one day's streaming ingest without
        touching the other 10 years of files."""
        if zorder_by:
            if where is not None:
                raise ValueError(
                    "optimize(where=...) scopes compaction only; ZORDER "
                    "is a whole-table layout op"
                )
            return self._optimize_zorder(spark, zorder_by, zorder_file_rows)
        snap = self.snapshot()
        in_scope = snap.files
        if where is not None:
            sch = _schema(snap)
            tz = _session_tz(spark)
            in_scope = {
                rel: a
                for rel, a in snap.files.items()
                if self._file_may_match(snap, a, where, sch, tz)
            }
        small = [
            rel
            for rel, a in in_scope.items()
            if a.get("rows", 0) < small_file_rows
        ]
        # files carrying deletion vectors are always rewrite targets:
        # OPTIMIZE is where merge-on-read debt gets materialized (the
        # rewrite drops the DV, restoring plain-scan reads + exact stats)
        dvd = [rel for rel in in_scope if snap.dvs.get(rel)]
        targets = sorted(set(small) | set(dvd))
        if not dvd and len(small) < 2:
            return snap.version  # nothing worth packing
        df = self._read_live(
            spark,
            snap,
            targets,
            row_id_col=_ROW_ID_COL if snap.row_tracking else None,
        ).coalesce(1)
        adds = self._write_files(
            spark,
            df,
            colmap=snap.colmap if snap.mapped else None,
            rows=snap.live_rows(targets),
        )
        doc = {"op": "optimize", "remove": targets, "add": adds}
        hwm = self._assign_row_ids(snap, adds)
        if hwm is not None:
            doc["row_id_hwm"] = hwm
        return self._commit(expected_version=snap.version, doc=doc)

    def _optimize_zorder(
        self, spark, cols: list[str], file_rows: int
    ) -> int:
        snap = self.snapshot()
        sch = _schema(snap)
        types = {f.name: f.dataType.typeName() for f in sch.fields}
        missing = [c for c in cols if c not in types]
        if missing:
            raise ValueError(f"zorder_by columns not in schema: {missing}")
        orderable = {
            "long", "integer", "short", "byte", "double", "float",
            "decimal", "timestamp", "date",
        }
        bad = [c for c in cols if types[c] not in orderable]
        if bad:
            raise ValueError(
                f"zorder_by: no numeric axis for {bad} "
                f"(types {[types[c] for c in bad]}; strings/binary are "
                "unsupported)"
            )
        # numeric domain per column from the LOGGED stats (min of mins /
        # max of maxes over live files) — metadata only, no scan
        bounds: dict[str, tuple] = {}
        for c in cols:
            lo = hi = None
            for a in snap.files.values():
                rng = a.get("stats", {}).get(snap.phys(c))
                if rng is None or rng[0] is None or rng[1] is None:
                    continue
                flo, fhi = _znum(rng[0], types[c]), _znum(rng[1], types[c])
                lo = flo if lo is None else min(lo, flo)
                hi = fhi if hi is None else max(hi, fhi)
            if lo is None:
                raise ValueError(
                    f"zorder_by: no usable stats for column {c!r} "
                    f"(type {types[c]}; strings/binary are unsupported)"
                )
            bounds[c] = (float(lo), float(hi))
        targets = sorted(snap.files)
        if not targets:
            return snap.version
        df = self._read_live(
            spark,
            snap,
            targets,
            row_id_col=_ROW_ID_COL if snap.row_tracking else None,
        )
        z = _zvalue(df, cols, types, bounds)
        n = max(1, -(-snap.live_rows(targets) // file_rows))
        out = (
            df.withColumn("_btable_z", z)
            .repartitionByRange(n, "_btable_z")
            .sortWithinPartitions("_btable_z")
            .drop("_btable_z")
        )
        adds = self._write_files(
            spark,
            out,
            cluster=False,
            colmap=snap.colmap if snap.mapped else None,
        )
        doc = {
            "op": "optimize",
            "zorder_by": list(cols),
            "remove": targets,
            "add": adds,
        }
        hwm = self._assign_row_ids(snap, adds)
        if hwm is not None:
            doc["row_id_hwm"] = hwm
        return self._commit(expected_version=snap.version, doc=doc)

    def reorg(self, spark: SparkSession) -> int:
        """REORG PURGE (Delta's ``REORG TABLE ... APPLY (PURGE)``):
        rewrite every live file through the LOGICAL schema, physically
        purging what metadata-only operations left behind — dead
        physical columns from drop_column/rename cycles (their bytes
        remain in old files until a rewrite) and all deletion-vector
        debt.  Keeps drop/rename O(1) at DDL time while giving an
        explicit pass for the GDPR-style "the bytes must actually be
        gone" requirement; pair with vacuum() to reap the old files.
        Row ids are carried like every other rewrite."""
        snap = self.snapshot()
        targets = sorted(snap.files)
        if not targets:
            return snap.version
        df = self._read_live(
            spark,
            snap,
            targets,
            row_id_col=_ROW_ID_COL if snap.row_tracking else None,
        )
        adds = self._write_files(
            spark,
            df,
            colmap=snap.colmap if snap.mapped else None,
            rows=snap.live_rows(targets),
        )
        doc: dict[str, Any] = {"op": "reorg", "remove": targets, "add": adds}
        hwm = self._assign_row_ids(snap, adds)
        if hwm is not None:
            doc["row_id_hwm"] = hwm
        return self._commit(expected_version=snap.version, doc=doc)

    def vacuum(
        self,
        keep_versions: int = 2,
        retention_seconds: float = 24 * 3600,
    ) -> list[str]:
        """Physically delete data files unreferenced by the newest
        ``keep_versions`` snapshots.  Time travel older than the retention
        floor becomes unreadable — the same contract as Delta's VACUUM.
        Returns the deleted relative paths.

        ``retention_seconds`` (mtime-based, default 24 h — the same safety
        valve as Delta's ``retentionHours``) spares recently-written files
        even when unreferenced: a concurrent writer stages data files
        BEFORE its commit claims a log version, so an age-0 vacuum could
        delete a racing writer's staged files and let its commit then
        succeed pointing at nothing — silent corruption (ADVICE r12).
        Pass ``retention_seconds=0`` only when no concurrent writer can
        exist (single-writer maintenance windows)."""
        commits = _read_log(self.path)
        latest = commits[-1]["version"]
        floor = max(0, latest - keep_versions + 1)
        keep: set[str] = set()
        for v in range(floor, latest + 1):
            keep |= set(_replay(commits, v).files)
        now = time.time()
        deleted = []
        data_root = os.path.join(self.path, _DATA_DIR)
        for dirpath, _, names in os.walk(data_root):
            for name in names:
                full = os.path.join(dirpath, name)
                rel = os.path.relpath(full, self.path)
                if name.endswith(".bloom.json"):
                    # a bloom sidecar lives and dies with its data file
                    if rel[: -len(".bloom.json")] in keep:
                        continue
                elif rel in keep or not name.endswith(".parquet"):
                    continue
                try:
                    if now - os.path.getmtime(full) < retention_seconds:
                        continue  # possibly a concurrent writer's staging
                    os.unlink(full)
                except FileNotFoundError:
                    continue  # another vacuum raced us; already gone
                deleted.append(rel)
        return deleted

    def add_column(self, spark: SparkSession, name: str, ddl_type: str) -> int:
        """Schema evolution: append a nullable column (metadata-only
        commit — no data file is touched).  Files written before the
        change read back with the column as NULL (parquet missing-column
        fill under an explicit read schema)."""
        snap = self.snapshot()
        old = _schema(snap)
        if name in old.fieldNames():
            raise ValueError(f"column {name!r} already exists")
        new_field = StructType.fromDDL(f"{name} {ddl_type}")[0]
        new = StructType(list(old.fields) + [new_field])
        doc: dict[str, Any] = {"op": "alter", "schema": new.json()}
        if snap.mapped:
            # a mapped table may have DROPPED a column of this name
            # before: old data files still store its physical column, so
            # the reborn logical column needs a fresh physical name or
            # the dead data would resurrect
            doc["colmap"] = {**snap.colmap, name: _fresh_phys(name)}
        return self._commit(expected_version=snap.version, doc=doc)

    def rename_column(self, old_name: str, new_name: str) -> int:
        """ALTER TABLE RENAME COLUMN — metadata-only (Delta's column
        mapping): the LOG schema renames; data files keep their
        write-time physical names and the commit's ``colmap`` records
        logical->physical.  No data file is read or written; every old
        version stays readable under ITS schema via time travel."""
        snap = self.snapshot()
        sch = StructType.fromJson(json.loads(snap.schema_json))
        names = sch.fieldNames()
        if old_name not in names:
            raise ValueError(f"no such column: {old_name!r}")
        if new_name in names:
            raise ValueError(f"column {new_name!r} already exists")
        if new_name.startswith("_btable") or new_name in ("_row_id",):
            raise ValueError(f"reserved column name: {new_name!r}")
        self._guard_referenced(snap, old_name, "rename")
        from pyspark.sql.types import StructField

        new = StructType(
            [
                StructField(new_name, f.dataType, f.nullable, f.metadata)
                if f.name == old_name
                else f
                for f in sch.fields
            ]
        )
        colmap = dict(snap.colmap)
        phys = colmap.pop(old_name, old_name)
        if phys != new_name:
            colmap[new_name] = phys
        doc: dict[str, Any] = {
            "op": "alter",
            "schema": new.json(),
            "colmap": colmap,
        }
        if old_name in self.cluster_by:
            doc["cluster_by"] = [
                new_name if c == old_name else c for c in self.cluster_by
            ]
            doc["cluster_file_rows"] = getattr(
                self, "_cluster_file_rows", 1_000_000
            )
            self._cluster_by = None  # invalidate cache
        return self._commit(expected_version=snap.version, doc=doc)

    def drop_column(self, name: str) -> int:
        """ALTER TABLE DROP COLUMN — metadata-only: the column leaves the
        logical schema and its colmap entry dies; the physical data stays
        in old files (readable via time travel) but is never scanned by
        current-version reads (explicit read schemas never ask for it).
        A later add_column of the same name gets a FRESH physical name,
        so dropped data cannot resurrect."""
        snap = self.snapshot()
        sch = StructType.fromJson(json.loads(snap.schema_json))
        if name not in sch.fieldNames():
            raise ValueError(f"no such column: {name!r}")
        if len(sch.fields) == 1:
            raise ValueError("cannot drop the only column")
        if name in self.cluster_by:
            raise ValueError(
                f"column {name!r} is a clustering column; re-cluster first"
            )
        self._guard_referenced(snap, name, "drop")
        new = StructType([f for f in sch.fields if f.name != name])
        colmap = dict(snap.colmap)
        colmap.pop(name, None)
        return self._commit(
            expected_version=snap.version,
            doc={"op": "alter", "schema": new.json(), "colmap": colmap},
        )

    def _guard_referenced(self, snap: Snapshot, name: str, what: str):
        """Reject rename/drop of a column a CHECK constraint references
        (conservative word-token match — rewriting constraint SQL is out
        of scope, same posture as Delta's error)."""
        pat = re.compile(rf"\b{re.escape(name)}\b")
        hits = [n for n, expr in snap.constraints.items() if pat.search(expr)]
        if hits:
            raise ValueError(
                f"cannot {what} column {name!r}: referenced by CHECK "
                f"constraint(s) {sorted(hits)}; drop them first"
            )

    def enable_row_tracking(self) -> int:
        """Turn on stable row ids — metadata-only: every live file gets a
        ``base_row_id`` allocation in this commit (id = base + parquet
        row index; no data file is touched), and every future add action
        allocates from the high-watermark.  Rewrites from then on CARRY
        ids via a materialized ``_btable_row_id`` column, so a row keeps
        its id across OPTIMIZE/MERGE/DELETE — the hook incremental
        consumers need to tell an update from a delete+insert."""
        snap = self.snapshot()
        if snap.row_tracking:
            return snap.version
        hwm = snap.row_id_hwm
        assign: dict[str, int] = {}
        for rel in sorted(snap.files):
            assign[rel] = hwm
            hwm += snap.files[rel].get("rows", 0)
        return self._commit(
            expected_version=snap.version,
            doc={
                "op": "alter",
                "row_tracking": True,
                "row_id_assign": assign,
                "row_id_hwm": hwm,
            },
        )

    # ----------------------------------------------------------- helpers

    def _with_pos(
        self,
        spark,
        snap: Snapshot,
        rels: list[str],
        extra_fields: list | None = None,
    ) -> DataFrame:
        """Read data files exposing each row's provenance: full source
        path (``_btable_file``), parquet row index (``_btable_ri``), and
        the btable-relative path (``_btable_rel`` = the trailing
        data/<commit>/<name> segments, equi-joinable against commit-log
        keys).  ``_metadata`` is populated per-file by the parquet reader,
        so this works under an explicit read schema.  Columns come back
        LOGICALLY named (column mapping resolved); ``extra_fields``
        appends physical-only StructFields to the read schema (e.g. the
        materialized row-id column — absent files null-fill)."""
        sch = _phys_schema(snap)
        if extra_fields:
            sch = StructType(list(sch.fields) + list(extra_fields))
        df = spark.read.schema(sch).parquet(
            *[os.path.join(self.path, rel) for rel in rels]
        )
        return _to_logical(
            df.select(
                "*",
                F.col("_metadata.file_path").alias("_btable_file"),
                F.col("_metadata.row_index").alias("_btable_ri"),
            ).withColumn(
                "_btable_rel",
                F.concat_ws(
                    "/", F.slice(F.split(F.col("_btable_file"), "/"), -3, 3)
                ),
            ),
            snap,
        )

    @staticmethod
    def _apply_ranges(
        spark, df: DataFrame, ranges_by_rel: dict[str, list], how: str
    ) -> DataFrame:
        """Keep (``left_semi``) or drop (``left_anti``) the rows of ``df``
        (which carries ``_btable_rel``/``_btable_ri``) whose row index
        falls inside a file's ranges.  The ranges frame is METADATA-sized
        (coalesced runs, same scale as the commit log itself), so the
        broadcast is bounded regardless of table size; the join keys on
        the rel equi-component with the range bounds as residuals."""
        rows = [
            (_rel_tail(rel), int(s), int(e))
            for rel, rr in ranges_by_rel.items()
            for s, e in rr
        ]
        if not rows:
            return df if how == "left_anti" else df.limit(0)
        rdf = _meta_frame(spark, rows, "_r_rel string, _r_s bigint, _r_e bigint")
        cond = (
            (F.col("_btable_rel") == F.col("_r_rel"))
            & (F.col("_btable_ri") >= F.col("_r_s"))
            & (F.col("_btable_ri") < F.col("_r_e"))
        )
        return df.join(F.broadcast(rdf), cond, how)

    def _read_live(
        self,
        spark,
        snap: Snapshot,
        rels: list[str],
        file_col: str | None = None,
        row_id_col: str | None = None,
    ) -> DataFrame:
        """DV-aware read of the given live files: rows covered by a
        file's deletion vector are filtered out.  Files WITHOUT a DV take
        the plain scan path (identical plan to the pre-DV format — no
        metadata columns, no join); only DV'd files pay the anti-join.
        Returns exactly the (logical) table schema, plus the full source
        path as ``file_col`` and/or the stable row id as ``row_id_col``
        if requested (the latter requires row tracking: id =
        materialized _btable_row_id if the file carries one, else the
        add action's base_row_id + parquet row index)."""
        sch = _schema(snap)
        cols = [f.name for f in sch.fields]
        if row_id_col:
            return self._read_live_with_ids(
                spark, snap, rels, file_col, row_id_col
            )
        plain = [r for r in rels if not snap.dvs.get(r)]
        dvd = [r for r in rels if snap.dvs.get(r)]
        frames = []
        if plain:
            df = _to_logical(
                spark.read.schema(_phys_schema(snap)).parquet(
                    *[os.path.join(self.path, rel) for rel in plain]
                ),
                snap,
            )
            if file_col:
                df = df.withColumn(file_col, F.input_file_name())
            frames.append(df)
        if dvd:
            df = self._apply_ranges(
                spark,
                self._with_pos(spark, snap, dvd),
                {r: snap.dvs[r] for r in dvd},
                "left_anti",
            )
            if file_col:
                df = df.withColumnRenamed("_btable_file", file_col)
            frames.append(df.select(*cols, *([file_col] if file_col else [])))
        if not frames:
            from pyspark.sql.types import StringType, StructField

            return _empty_frame(
                spark,
                list(sch.fields)
                + ([StructField(file_col, StringType())] if file_col else []),
            )
        out = frames[0]
        for f in frames[1:]:
            out = out.unionByName(f)
        return out

    def _read_live_with_ids(
        self, spark, snap: Snapshot, rels, file_col, row_id_col
    ) -> DataFrame:
        """Row-id flavored live read: every file goes through the
        position-exposing scan (ids need the parquet row index), the
        per-file base comes in as a broadcast metadata join, and
        ``coalesce(materialized, base + row_index)`` resolves each row's
        stable id — fresh rows a rewrite inserted with a NULL
        materialized id land in the file's newly-allocated base range."""
        from pyspark.sql.types import LongType, StructField

        if not snap.row_tracking:
            raise ValueError(
                "row ids requested but row tracking is not enabled "
                "(BTable.enable_row_tracking / create(row_tracking=True))"
            )
        sch = _schema(snap)
        cols = [f.name for f in sch.fields]
        tail = [F.col("_btable_file").alias(file_col)] if file_col else []
        if not rels:
            from pyspark.sql.types import StringType

            return _empty_frame(
                spark,
                list(sch.fields)
                + ([StructField(file_col, StringType())] if file_col else [])
                + [StructField(row_id_col, LongType())],
            )
        no_ids = [
            rel
            for rel in rels
            if snap.files[rel].get("base_row_id") is None
        ]
        if no_ids:
            raise ValueError(
                f"{len(no_ids)} data files have no row-id base (written "
                f"or restored from before row tracking was enabled), "
                f"e.g. {no_ids[0]}"
            )
        df = self._with_pos(
            spark,
            snap,
            sorted(rels),
            extra_fields=[StructField(_ROW_ID_COL, LongType())],
        )
        df = self._apply_ranges(
            spark,
            df,
            {r: snap.dvs[r] for r in rels if snap.dvs.get(r)},
            "left_anti",
        )
        bdf = _meta_frame(
            spark,
            [
                (_rel_tail(rel), snap.files[rel]["base_row_id"])
                for rel in sorted(rels)
            ],
            "_b_rel string, _b_base bigint",
        )
        df = df.join(
            F.broadcast(bdf), F.col("_btable_rel") == F.col("_b_rel"), "left"
        )
        rid = F.coalesce(
            F.col(_ROW_ID_COL), F.col("_b_base") + F.col("_btable_ri")
        )
        return df.select(*cols, *tail, rid.alias(row_id_col))

    def _check_schema(self, df: DataFrame, snap: Snapshot) -> None:
        expected = _schema(snap).simpleString()
        if df.schema.simpleString() != expected:
            raise SchemaMismatch(
                f"write schema {df.schema.simpleString()} != table schema "
                f"{expected}"
            )

    def _write_files(
        self,
        spark,
        df: DataFrame,
        cluster: bool = True,
        colmap: dict[str, str] | None = None,
        rows: int | None = None,
        bloom: dict[str, Any] | None = None,
    ) -> list[dict[str, Any]]:
        """Write df as a new immutable commit directory; return add actions
        with per-file row counts, min/max/null-count stats and, when a
        bloom index is configured, a staged bloom sidecar each — all built
        in at most one pass.  The stats (and fresh bloom words, unless the
        clustered write is sized into several files) are observed metrics
        of the write job itself; a write that lands more than one file
        computes them in one per-file aggregate over the just-written
        files instead.  Clustered tables range-repartition + sort on the
        clustering columns first, so each file covers a narrow value range
        and stats pruning stays sharp.
        ``rows`` is df's exact row count when the caller already knows it
        (from the commit log and a hit probe): it sizes the clustered
        write without a count job, and 0 returns no adds without running
        anything.  ``None`` counts df when the sizing needs it.
        ``bloom`` is a filter a copy-on-write rewrite inherits
        (``_inherited_bloom``: bits, k and per-physical-column words, a
        superset of every row df holds): every file written gets it and
        no row is hashed.  ``None``, or words built under another config,
        hashes the written rows for exact per-file filters.
        ``colmap`` (column mapping): rename logical->physical just before
        the write, so new files share physical names with old ones and
        stats keys stay physical; a materialized ``_btable_row_id`` column
        passes through and flags the add actions."""
        if rows == 0:
            return []
        commit_id = uuid.uuid4().hex[:12]
        rel_dir = os.path.join(_DATA_DIR, commit_id)
        out_dir = os.path.join(self.path, rel_dir)
        cb = self.cluster_by if cluster else []
        n_files = None  # unknown until written
        if cb:
            # explicit partition count sized by rows-per-file: AQE would
            # otherwise coalesce small writes into one file and erase the
            # clustering granularity pruning depends on
            if rows is None:
                rows = df.count()
            n_files = max(
                1, -(-rows // getattr(self, "_cluster_file_rows", 1_000_000))
            )
            df = df.repartitionByRange(n_files, *cb).sortWithinPartitions(*cb)
        has_row_ids = _ROW_ID_COL in df.columns
        if colmap:
            df = df.select(
                *[F.col(c).alias(colmap.get(c, c)) for c in df.columns]
            )
        types = {f.name: f.dataType.typeName() for f in df.schema.fields}
        cols = [
            f.name
            for f in df.schema.fields
            if not f.name.startswith("_btable")
            and f.dataType.typeName()
            in ("integer", "long", "short", "byte", "double", "float",
                "string", "date", "timestamp", "decimal")
        ][:_STATS_COLS_MAX]
        # SQL strings, not Column-builder calls: PySpark captures a call
        # site per builder call (3 py4j round trips, ~2.2 ms vs ~0.26 ms
        # per F.expr), and a write builds 1 + 3 x cols of them
        aggs = [F.expr("count(1) AS _n")]
        for i, c in enumerate(cols):
            q = _quote(c)
            mn, mx = f"min({q})", f"max({q})"
            if types[c] == "timestamp":
                # Timestamp stats as EPOCH MICROS, computed JVM-side:
                # collect() renders TimestampType in the PYTHON process's
                # local timezone, not the session timezone — under
                # TZ=Pacific/Kiritimati with a UTC session the stats came
                # back shifted +14 h and a tight same-day file was
                # false-pruned (round-14 hostile-TZ battery).  Micros are
                # timezone-free; the prune path converts literals with the
                # live session tz (_lit_micros).
                mn, mx = f"unix_micros({mn})", f"unix_micros({mx})"
            aggs += [
                F.expr(f"{mn} AS _min{i}"),
                F.expr(f"{mx} AS _max{i}"),
                # per-file null counts (Delta's nullCount): lets IS NULL /
                # IS NOT NULL prune, and an all-null file prune ANY
                # comparison (NULL op literal is never true)
                F.expr(f"sum(cast({q} IS NULL AS bigint)) AS _null{i}"),
            ]
        bconf = self.bloom_conf
        bits, k = bconf.get("bits"), bconf.get("k")
        bcols = [
            phys
            for c in bconf.get("cols", [])
            if types.get(phys := (colmap or {}).get(c, c)) in _BLOOM_ELIGIBLE
        ]
        if bloom is not None and (
            bloom["bits"], bloom["k"], sorted(bloom["cols"])
        ) != (bits, k, sorted(bcols)):
            bloom = None  # built under another config: hash instead
        hashed = (
            []
            if bloom is not None
            else [
                a
                for i, phys in enumerate(bcols)
                for a in _bloom_aggs(phys, bits, k, f"_bl{i}")
            ]
        )
        # Stats during the write (optimization r14, guide §1.2 "don't pay
        # twice"): the same aggregate expressions ride the write job as
        # observed metrics (CollectMetrics), so single-file commits —
        # every coalesce(1) demo commit and every single-partition rewrite
        # — skip the follow-up scan-the-just-written-file aggregation job
        # entirely (measured ~0.55 s/commit at sf0.1, the LARGER half of a
        # small commit's cost).  Observed metrics are global, so a commit
        # that lands >1 data file falls back to the per-file groupBy
        # aggregate below; min/max/null-count over the pre-write rows are
        # byte-identical to re-reading the parquet (exact round-trip
        # types only are eligible for stats).  Bloom words ride along
        # unless the clustered sizing already says >1 file.
        hash_observed = n_files in (None, 1)
        obs = Observation()
        df.observe(obs, *aggs, *(hashed if hash_observed else [])).write.parquet(
            out_dir
        )
        data_files = sorted(
            f
            for f in os.listdir(out_dir)
            if f.endswith(".parquet") and not f.startswith((".", "_"))
        )
        if len(data_files) == 1 and (hash_observed or not hashed):
            r = obs.get
            per_file = [] if r["_n"] == 0 else [dict(r, _f=data_files[0])]
        else:
            written = spark.read.schema(df.schema).parquet(out_dir)
            per_file = (
                written.withColumn("_f", F.input_file_name())
                .groupBy("_f")
                .agg(*aggs, *hashed)
                .collect()
            )
        adds = []
        for r in per_file:
            fname = r["_f"].rsplit("/", 1)[-1]
            add = {
                "path": os.path.join(rel_dir, fname),
                "rows": r["_n"],
                "stats": {
                    c: [_plain(r[f"_min{i}"]), _plain(r[f"_max{i}"])]
                    for i, c in enumerate(cols)
                },
                "nulls": {c: r[f"_null{i}"] for i, c in enumerate(cols)},
            }
            if has_row_ids:
                add["row_ids_materialized"] = True
            if bcols:
                words = (
                    bloom["cols"]
                    if bloom is not None
                    else {
                        phys: _bloom_fold(r, f"_bl{i}", bits, k)
                        for i, phys in enumerate(bcols)
                    }
                )
                add["bloom"] = self._write_bloom(rel_dir, fname, words)
            adds.append(add)
        return adds

    def _write_bloom(
        self, rel_dir: str, fname: str, words: dict[str, int]
    ) -> str:
        """Stage ``<file>.bloom.json`` beside a just-written data file and
        return its table-relative path.  ``words`` maps each indexed
        physical column to its filter as one little-endian integer —
        built JVM-side by ``_bloom_aggs`` (the cross-engine md5 idiom of
        ``_bloom_pos_sql``, OR-folded into 4 KiB bitmaps, so the driver
        sees k x ceil(bits/32768) bitmaps per file and column: the
        filter's own size) or inherited by a rewrite.  A column whose
        rows are all null gets all-zero words: no non-null value exists,
        so every equality probe prunes.  Sidecars are immutable alongside
        their data file: copy-on-write means file contents never change,
        and DV deletes and inherited rewrite filters only ever make the
        filter a stale SUPERSET — still conservative-correct."""
        bconf = self.bloom_conf
        nbytes = 8 * -(-bconf["bits"] // 64)
        sc_name = fname + ".bloom.json"
        with open(os.path.join(self.path, rel_dir, sc_name), "w") as f:
            json.dump(
                {
                    "bits": bconf["bits"],
                    "k": bconf["k"],
                    "cols": {
                        phys: base64.b64encode(
                            w.to_bytes(nbytes, "little")
                        ).decode()
                        for phys, w in words.items()
                    },
                },
                f,
            )
        return os.path.join(rel_dir, sc_name)

    def _inherited_bloom(
        self, snap: Snapshot, rels: list[str], base: dict | None = None
    ) -> dict[str, Any] | None:
        """The filter a copy-on-write rewrite of ``rels`` inherits: the OR
        of their sidecars plus ``base`` (the merge source's words), a
        superset of every row the rewrite writes, so no kept row is hashed
        again.  None — the write hashes its rows — when no index is
        configured, or a file has no sidecar built under the active
        config (files predating ``set_bloom_index``, another bits/k, a
        vacuumed sidecar)."""
        bconf = self.bloom_conf
        if not bconf:
            return None
        bits, k = bconf["bits"], bconf["k"]
        if base is None:
            cols = dict.fromkeys(_bloom_cols(bconf, snap), 0)
        elif (base["bits"], base["k"]) == (bits, k):
            cols = dict(base["cols"])
        else:
            return None
        for rel in rels:
            sc_rel = snap.files[rel].get("bloom")
            sc = self._bloom_sidecar(sc_rel) if sc_rel else None
            if sc is None or (sc["bits"], sc["k"]) != (bits, k):
                return None
            for phys in cols:
                words = sc["cols"].get(phys)
                if not _bloom_words_ok(words, bits):
                    return None
                cols[phys] |= int.from_bytes(words, "little")
        return {"bits": bits, "k": k, "cols": cols}

    def _assign_row_ids(
        self, snap: Snapshot, adds: list[dict[str, Any]]
    ) -> int | None:
        """Allocate contiguous base-row-id ranges to new add actions from
        the snapshot's high-watermark; returns the new watermark for the
        commit doc (None when row tracking is off — docs stay
        byte-identical to the pre-tracking format)."""
        if not snap.row_tracking:
            return None
        hwm = snap.row_id_hwm
        for add in sorted(adds, key=lambda a: a["path"]):
            add["base_row_id"] = hwm
            hwm += add.get("rows", 0)
        return hwm

    def _split_touched(self, spark, snap, candidates, where):
        """(files that contain where-matching rows, their surviving rows
        as a DataFrame, the exact survivor count).  One probe job counts
        the matching live rows per file; survivors = the touched files'
        live rows (commit log) minus those hits, so the rewrite needs no
        emptiness check and no count of its own."""
        touched, hits = self._hit_counts(
            spark, snap, candidates, lambda df: df.filter(where)
        )
        if not touched:
            return [], None, 0
        # DV-aware: the rewrite must keep only LIVE survivors — reading
        # the raw files here would resurrect DV-deleted rows.  Row
        # tracking: survivors CARRY their ids into the rewrite.
        survivors = self._read_live(
            spark,
            snap,
            touched,
            row_id_col=_ROW_ID_COL if snap.row_tracking else None,
        ).filter(_not_matching(where))
        return touched, survivors, snap.live_rows(touched) - hits

    def _hit_counts(self, spark, snap, candidates, matching):
        """(candidate files holding at least one row of ``matching``
        applied to their live rows, total hit rows in them) — the
        prune-then-verify probe every copy-on-write DML runs once."""
        if not candidates:
            return [], 0
        cand_df = self._read_live(
            spark, snap, candidates, file_col="_btable_file"
        )
        per_file = (
            matching(cand_df).groupBy("_btable_file").count().collect()
        )
        touched = [
            rel
            for rel in candidates
            if any(r[0].endswith(rel) for r in per_file)
        ]
        return touched, sum(r[1] for r in per_file)

    def _commit(self, expected_version: int, doc: dict[str, Any]) -> int:
        # Protocol gate + stamp at the single write choke point: refuse
        # to write a table whose log requires features this code doesn't
        # implement, and record (monotone-union) the features this very
        # commit first exercises.  Tables that use no feature carry no
        # protocol key — docs stay byte-identical to the plain format.
        need_r, need_w = _features_of_doc(doc)
        if expected_version < 0:
            have_r: frozenset[str] = frozenset()
            have_w: frozenset[str] = frozenset()
        else:
            cache = getattr(self, "_feat_cache", None)
            if cache is not None and cache[0] == expected_version:
                _, have_r, have_w = cache
            else:  # cold handle / mid-race: one extra metadata read
                prior = _replay(
                    _read_log(self.path),
                    expected_version,
                    _latest_checkpoint(self.path, expected_version),
                )
                have_r = frozenset(prior.reader_features)
                have_w = frozenset(prior.writer_features)
        unknown = (have_r - SUPPORTED_READER_FEATURES) | (
            have_w - SUPPORTED_WRITER_FEATURES
        )
        if unknown:
            raise UnsupportedTableFeature(
                f"table requires features {sorted(unknown)} this writer "
                "does not implement; writing could corrupt the invariants "
                "those features maintain"
            )
        if (need_r - have_r) or (need_w - have_w):
            doc = {
                **doc,
                "protocol": {
                    "reader": sorted(have_r | need_r),
                    "writer": sorted(have_w | need_w),
                },
            }
        version = expected_version + 1
        doc = {"version": version, "ts": time.time(), **doc}
        tmp = os.path.join(
            self.path, _LOG_DIR, f".tmp-{uuid.uuid4().hex}.json"
        )
        final = _log_path(self.path, version)
        with open(tmp, "w") as f:
            json.dump(doc, f)
            f.flush()
            os.fsync(f.fileno())
        try:
            os.link(tmp, final)  # atomic create-if-absent (POSIX)
        except FileExistsError:
            raise CommitConflict(
                f"version {version} already committed by another writer"
            ) from None
        finally:
            os.unlink(tmp)
        if version > 0 and version % _CHECKPOINT_EVERY == 0:
            self._write_checkpoint(version)
        return version

    def _write_checkpoint(self, version: int) -> None:
        """Cache the replayed snapshot so later reads start from here
        instead of commit 0 (the _delta_log checkpoint idea) — replay cost
        stays bounded by _CHECKPOINT_EVERY commits at any table age.
        Best-effort: checkpoints are derived data, a failed write only
        costs replay speed, never correctness."""
        try:
            snap = _replay(_read_log(self.path), version)
            doc = {
                "version": version,
                "schema": snap.schema_json,
                "files": snap.files,
                "dvs": snap.dvs,
                "constraints": snap.constraints,
                "colmap": snap.colmap,
                "mapped": snap.mapped,
                "row_tracking": snap.row_tracking,
                "row_id_hwm": snap.row_id_hwm,
                "protocol": {
                    "reader": sorted(snap.reader_features),
                    "writer": sorted(snap.writer_features),
                },
            }
            cp = os.path.join(
                self.path, _LOG_DIR, f"{version:08d}.checkpoint.json"
            )
            tmp = cp + f".tmp-{uuid.uuid4().hex[:8]}"
            with open(tmp, "w") as f:
                json.dump(doc, f)
            os.replace(tmp, cp)  # derived data: last writer wins is fine
        except OSError as exc:  # pragma: no cover - disk-full style faults
            import sys

            print(f"btable: checkpoint {version} skipped: {exc}", file=sys.stderr)


def _nullable(dt):
    """Deep-copy a DataType with every field/element forced nullable."""
    from pyspark.sql.types import ArrayType, MapType, StructField

    if isinstance(dt, StructType):
        return StructType(
            [
                StructField(f.name, _nullable(f.dataType), True, f.metadata)
                for f in dt.fields
            ]
        )
    if isinstance(dt, ArrayType):
        return ArrayType(_nullable(dt.elementType), True)
    if isinstance(dt, MapType):
        return MapType(dt.keyType, _nullable(dt.valueType), True)
    return dt


def _schema(snap: Snapshot) -> StructType:
    """Read schema for a snapshot — all fields forced nullable, matching
    what Spark's own parquet inference would report.  ``_check_schema``
    compares ``simpleString()`` (type shape, not nullability), so an
    append of a nullable frame is accepted; applying a non-nullable logged
    schema via ``spark.read.schema`` would be a lie Spark never validates,
    and the optimizer may miscompile IS NULL over it (ADVICE r12)."""
    return _nullable(StructType.fromJson(json.loads(snap.schema_json)))


def _phys_schema(snap: Snapshot) -> StructType:
    """Physical READ schema: the logical schema with fields renamed to
    their on-file (physical) names.  Identity for unmapped tables."""
    from pyspark.sql.types import StructField

    sch = _schema(snap)
    if not snap.mapped:
        return sch
    return StructType(
        [
            StructField(snap.phys(f.name), f.dataType, True, f.metadata)
            for f in sch.fields
        ]
    )


def _to_logical(df: DataFrame, snap: Snapshot) -> DataFrame:
    """Rename a physically-named frame back to logical names.  No-op
    projection skipped entirely for unmapped tables so their plans stay
    byte-identical to the pre-column-mapping format."""
    if not snap.mapped:
        return df
    inv = {snap.phys(l): l for l in snap._logical_names()}
    return df.select(
        *[
            F.col(c).alias(inv[c]) if c in inv and inv[c] != c else F.col(c)
            for c in df.columns
        ]
    )


_ARROW_TYPES = {"string": "string", "bigint": "int64"}


def _meta_frame(spark, rows: list[tuple], ddl: str) -> DataFrame:
    """A driver-built metadata frame (DV ranges, per-file row-id bases)
    with a ``"name type, ..."`` schema of string/bigint columns.  Fed
    through Arrow it is a JVM LocalRelation; ``createDataFrame`` over
    Python rows is a Python RDD, so every action over it starts Python
    workers (a 1-row probe anti-joined to the ranges took 0.32–0.43 s
    that way, 0.12–0.14 s through Arrow)."""
    import pyarrow as pa

    fields = [f.split() for f in ddl.split(",")]
    cols = list(zip(*rows)) if rows else [()] * len(fields)
    return spark.createDataFrame(
        pa.table(
            {
                name: pa.array(list(vals), pa.type_for_alias(_ARROW_TYPES[t]))
                for (name, t), vals in zip(fields, cols)
            }
        )
    )


def _empty_frame(spark, fields: list) -> DataFrame:
    """JVM-side empty relation with the given StructFields (an empty
    ``createDataFrame`` detours through a Python RDD: measured 4.5x
    slower than range(0) on the fully-pruned read path)."""
    return spark.range(0).select(
        *[F.lit(None).cast(f.dataType).alias(f.name) for f in fields]
    )


def _quote(col: str) -> str:
    """A column name as a SQL identifier (mapped physical names carry
    '-', and any name may carry a backtick)."""
    return "`" + col.replace("`", "``") + "`"


def _fresh_phys(logical: str) -> str:
    """Fresh physical column name for a logical column born on a MAPPED
    table: uniqueness (uuid suffix) guarantees a dropped column's
    physical name — still present in old data files — is never reused."""
    return f"{logical}-{uuid.uuid4().hex[:8]}"


def _plain(v):
    """JSON-encodable stat value."""
    if hasattr(v, "isoformat"):
        return v.isoformat()
    if isinstance(v, (int, float, str)) or v is None:
        return v
    return str(v)


def _not_matching(where: str) -> str:
    """The complement of a DELETE predicate: rows where ``where`` is
    false OR NULL survive (a plain ``NOT (where)`` is NULL, i.e. dropped,
    when the predicate is NULL — merge-on-read keeps those rows, and
    copy-on-write must agree)."""
    return f"NOT coalesce(({where}), false)"


def _range_intersects(rng, lo, hi) -> bool:
    if rng is None or rng[0] is None or rng[1] is None:
        return True  # no stats -> must scan
    if hasattr(lo, "isoformat"):
        # merge keys of date/timestamp type: stats were stored isoformat
        # by _plain, so compare in parsed-datetime space, not str-vs-obj
        import datetime as _dt

        s_lo, s_hi = _parse_temporal(str(rng[0])), _parse_temporal(str(rng[1]))
        if s_lo is None or s_hi is None:
            return True
        if not isinstance(lo, _dt.datetime):  # a datetime.date key
            lo = _dt.datetime(lo.year, lo.month, lo.day)
            hi = _dt.datetime(hi.year, hi.month, hi.day)
        return not (s_hi < lo or s_lo > hi)
    try:
        return not (rng[1] < lo or rng[0] > hi)
    except TypeError:
        return True  # incomparable stat/key types -> must scan


# A prunable clause must parse COMPLETELY as `col OP literal` — residual
# tokens (OR, arithmetic, function calls) make the whole clause must-scan.
_CLAUSE_RE = re.compile(
    r"^\s*([A-Za-z_][A-Za-z0-9_]*)\s*(<=|>=|==|=|<|>)\s*"
    r"(?:'([^']*)'|\"([^\"]*)\"|(-?(?:\d+\.?\d*|\.\d+)(?:[eE][-+]?\d+)?))\s*$"
)
_ISO_RE = re.compile(r"^\d{4}-\d{2}-\d{2}([T ].+)?$")
_INT_LIT_RE = re.compile(r"-?\d+")


def _split_top_and(where: str) -> list[str]:
    """Split on top-level `` AND `` only — never inside quotes or parens,
    so a string literal containing ``AND`` can't manufacture a fake
    conjunct that then prunes a live file."""
    parts: list[str] = []
    buf: list[str] = []
    depth = 0
    quote: str | None = None
    i, n = 0, len(where)
    while i < n:
        ch = where[i]
        if quote:
            buf.append(ch)
            if ch == quote:
                quote = None
            i += 1
            continue
        if ch in "'\"":
            quote = ch
            buf.append(ch)
            i += 1
            continue
        if ch == "(":
            depth += 1
        elif ch == ")":
            depth -= 1
        if depth == 0 and where[i : i + 5].upper() == " AND ":
            parts.append("".join(buf))
            buf = []
            i += 5
            continue
        buf.append(ch)
        i += 1
    parts.append("".join(buf))
    return parts


def _strip_parens(clause: str) -> str:
    clause = clause.strip()
    while clause.startswith("(") and clause.endswith(")"):
        inner, depth = clause[1:-1], 0
        for ch in inner:  # only strip if the outer pair is balanced
            if ch == "(":
                depth += 1
            elif ch == ")":
                depth -= 1
                if depth < 0:
                    return clause
        clause = inner.strip()
    return clause


def _parse_temporal(s: str):
    """ISO date/datetime → datetime, accepting both the 'T' separator the
    stats use (datetime.isoformat) and the space Spark SQL literals use.
    None if unparseable — callers treat that as must-scan."""
    import datetime as _dt

    try:
        parsed = _dt.datetime.fromisoformat(s.strip().replace(" ", "T"))
    except ValueError:
        return None
    if parsed.tzinfo is not None:
        # Stats bounds are naive; comparing them against an aware literal
        # ('ts >= 2024-01-01 00:00:00+00:00') raised TypeError and crashed
        # read()/delete() instead of conservatively scanning (ADVICE r13).
        return None
    return parsed


def _lit_micros(s: str, tz: str | None) -> int | None:
    """Naive timestamp literal -> epoch micros under the SESSION timezone
    ``tz`` (how Spark's filter will interpret it); None means must-scan.
    A literal falling in a DST gap or overlap is ambiguous (fold 0 and 1
    disagree) and engines may resolve it differently — must-scan rather
    than risk a false prune for a twice-a-year edge."""
    if tz is None:
        return None
    dt = _parse_temporal(s)
    if dt is None:
        return None
    try:
        from zoneinfo import ZoneInfo

        zi = ZoneInfo(tz)
    except Exception:
        return None
    t0 = dt.replace(tzinfo=zi, fold=0).timestamp()
    t1 = dt.replace(tzinfo=zi, fold=1).timestamp()
    if t0 != t1:
        return None
    return int(round(t0 * 1_000_000))


_NULL_RE = re.compile(
    r"^\s*([A-Za-z_][A-Za-z0-9_]*)\s+IS\s+(NOT\s+)?NULL\s*$", re.IGNORECASE
)
_IN_RE = re.compile(
    r"^\s*([A-Za-z_][A-Za-z0-9_]*)\s+IN\s*\((.+)\)\s*$", re.IGNORECASE
)
_LIT_RE = re.compile(
    r"^\s*(?:'([^']*)'|\"([^\"]*)\"|"
    r"(-?(?:\d+\.?\d*|\.\d+)(?:[eE][-+]?\d+)?))\s*$"
)


def _split_top_commas(s: str) -> list[str] | None:
    """Split an IN-list body on commas outside quotes; None if a paren
    appears (nested expressions are not prunable literals)."""
    parts: list[str] = []
    buf: list[str] = []
    quote: str | None = None
    for ch in s:
        if quote:
            buf.append(ch)
            if ch == quote:
                quote = None
            continue
        if ch in "'\"":
            quote = ch
            buf.append(ch)
            continue
        if ch in "()":
            return None
        if ch == ",":
            parts.append("".join(buf))
            buf = []
            continue
        buf.append(ch)
    if quote:
        return None
    parts.append("".join(buf))
    return parts


def _typed_bounds(lo, hi, sq, dq, num, ftype, tz=None):
    """Resolve one parsed literal against [lo, hi] stats under the column
    type rules shared by every comparison shape; None means type doubt
    (caller must scan).  ``tz`` is the live session timezone, needed to
    convert a naive timestamp literal against epoch-micros stats."""
    if ftype == "timestamp" and isinstance(lo, int) and isinstance(hi, int):
        # current-format stats: epoch micros (timezone-free, exact)
        lit = sq if sq is not None else dq
        if lit is None:
            return None
        val = _lit_micros(lit, tz)
        if val is None:
            return None
        return val, lo, hi
    if num is not None:
        # numeric literal: compare EXACTLY.  float space loses precision for
        # bigint stats above 2^53 ('k > 9007199254740992' false-pruned the
        # file holding k=9007199254740993, ADVICE r13), and int() truncation
        # of a fractional literal ('k < 10.5' -> k < 10) false-pruned
        # boundary files (ADVICE r12).  Integer literals stay int; fractional
        # / exponent literals become Fraction of the literal TEXT — Python
        # compares int/Fraction/float cross-type exactly.
        if not isinstance(lo, (int, float)) or isinstance(lo, bool):
            return None
        try:
            val = int(num) if _INT_LIT_RE.fullmatch(num) else Fraction(num)
        except (ValueError, ZeroDivisionError):
            return None
        return val, lo, hi
    lit = sq if sq is not None else dq
    if not isinstance(lo, str) or not isinstance(hi, str):
        return None
    if ftype == "string":
        return lit, lo, hi
    if ftype in ("date", "timestamp"):
        lo_t, hi_t, val_t = (
            _parse_temporal(lo),
            _parse_temporal(hi),
            _parse_temporal(lit),
        )
        if lo_t is None or hi_t is None or val_t is None:
            return None
        if ftype == "date":
            # Spark casts the literal to date (truncation) before
            # comparing against a date column
            return val_t.date(), lo_t.date(), hi_t.date()
        return val_t, lo_t, hi_t
    if ftype is None:
        # no schema (unit-test path): lexicographic is only safe when
        # neither side is temporal-shaped — stats store timestamps as
        # isoformat ('T') while SQL literals use a space, and comparing
        # those lexicographically false-pruned same-day ranges
        if _ISO_RE.match(lo) or _ISO_RE.match(hi) or _ISO_RE.match(lit):
            return None
        return lit, lo, hi
    return None


def _clause_excludes(
    stats: dict[str, Any], clause: str, schema, nulls=None, rows=None, tz=None
) -> bool:
    """True iff the fully-parsed clause PROVES no row of the file can
    match.  Any parse or type doubt returns False (scan).  ``nulls`` is
    the per-column null-count map from the add action (Delta nullCount),
    ``rows`` the file row count — both optional (old logs lack them)."""
    clause = _strip_parens(clause)
    nm = _NULL_RE.match(clause)
    if nm:
        col, is_not = nm.group(1), bool(nm.group(2))
        n = (nulls or {}).get(col)
        if n is None:
            return False
        # IS NULL excluded iff the file has zero nulls;
        # IS NOT NULL excluded iff EVERY row is null
        return n == 0 if not is_not else (rows is not None and n == rows)
    im = _IN_RE.match(clause)
    m = None if im else _CLAUSE_RE.match(clause)
    if im is None and m is None:
        return False
    col = (im or m).group(1)

    def all_null_file() -> bool:
        # `col OP literal` / `col IN (...)` is NULL for every row of an
        # all-null file -> never true
        return (
            nulls is not None
            and rows is not None
            and nulls.get(col) == rows
            and rows > 0
        )

    ftype = None
    if schema is not None:
        try:
            ftype = schema[col].dataType.typeName()
        except KeyError:
            return False
    if all_null_file():
        return True
    rng = stats.get(col)
    if rng is None or rng[0] is None or rng[1] is None:
        return False
    lo, hi = rng

    if im is not None:
        items = _split_top_commas(im.group(2))
        if items is None or not items:
            return False
        # IN excluded iff EVERY literal falls outside [lo, hi]; any
        # unparseable item means the list may match -> scan
        for item in items:
            lm = _LIT_RE.match(item)
            if lm is None:
                return False
            bounds = _typed_bounds(lo, hi, *lm.groups(), ftype, tz)
            if bounds is None:
                return False
            val, flo, fhi = bounds
            if flo <= val <= fhi:
                return False
        return True

    op, sq, dq, num = m.group(2), m.group(3), m.group(4), m.group(5)
    bounds = _typed_bounds(lo, hi, sq, dq, num, ftype, tz)
    if bounds is None:
        return False
    val, flo, fhi = bounds
    if op in ("==", "="):
        return val < flo or val > fhi
    if op == "<":
        return flo >= val
    if op == "<=":
        return flo > val
    if op == ">":
        return fhi <= val
    return fhi < val  # op == ">="


def _maybe_matches(
    stats: dict[str, Any], where: str, schema=None, nulls=None, rows=None,
    tz=None,
) -> bool:
    """Conservative file-pruning test: may this file contain a row matching
    ``where``?  Prunes ONLY on top-level conjuncts that parse completely as
    ``col OP literal`` or ``col IS [NOT] NULL`` (full-match — an OR
    swallowed into a half-parsed clause was false-pruning files, ADVICE
    r12); anything else means "must scan" — pruning is an optimization,
    never a filter.  ``schema`` (a StructType) resolves column types so
    timestamp/date stats compare temporally instead of lexicographically;
    ``nulls``/``rows`` (per-file null counts) drive the IS NULL rules."""
    if "\\" in where:
        # A backslash can escape a quote inside a string literal
        # (Spark SQL: 'a\' AND k == 999 AND x == \'b' is ONE literal), which
        # defeats the quote tracking in _split_top_and and manufactures fake
        # conjuncts that false-prune live files (ADVICE r13).  Escapes are
        # rare in pruning predicates; must-scan is the conservative answer.
        return True
    return not any(
        _clause_excludes(stats, clause, schema, nulls, rows, tz)
        for clause in _split_top_and(where)
    )


# ------------------------------------------------------- bloom indexes
#
# Per-file bloom filters (the Delta Lake bloom-filter-index idea) for
# POINT lookups that min/max stats cannot prune: a high-cardinality id
# scattered across every file (because the table clusters on something
# else) overlaps every [min,max] range, but each file's bloom answers
# "this exact value is definitely absent" — at 100 TB that turns an
# `id == '...'` lookup from a full scan into opening O(k·fpp·files)
# false-positive files plus the one true hit.
#
# Hashing is the repo's proven cross-engine idiom (the llm_minhash md5
# trick): position = md5(canonical_string || "|" || seed) taken as the
# first 15 hex digits mod bits.  The SAME bytes hash on both sides —
# JVM expressions at build time, hashlib at prune time — so there is no
# float or xxhash-internal-layout parity risk.  Membership is restricted
# to string and integral columns with literal-parseable predicates;
# everything else must-scans (pruning is an optimization, never a
# filter).

_BLOOM_ELIGIBLE = ("string", "integer", "long", "short", "byte")

# Lossless type-widening chains (Delta's typeWidening): (narrow, wide)
# pairs by simpleString.  Spark's parquet reader promotes the physical
# narrow encoding under the wide read schema, so widening the TABLE
# type is metadata-only.
_WIDENS = frozenset(
    {
        ("tinyint", "smallint"),
        ("tinyint", "int"),
        ("tinyint", "bigint"),
        ("smallint", "int"),
        ("smallint", "bigint"),
        ("int", "bigint"),
        ("float", "double"),
    }
)


def _bloom_pos_sql(colname: str, seed: int, bits: int) -> str:
    """JVM-side bloom bit position of a column value (build path), as a
    SQL expression: one parse instead of the dozen py4j round trips per
    seed the Column builder makes (~0.1 s of driver time per write)."""
    return (
        f"pmod(cast(conv(substring(md5(concat(cast({_quote(colname)} AS "
        f"string), '|{seed}')), 1, 15), 16, 10) AS bigint), {bits})"
    )


# bits per bitmap_construct_agg buffer (a fixed 4 KiB bitmap)
_BITMAP_BITS = 32768


def _bloom_aggs(colname: str, bits: int, k: int, tag: str) -> list:
    """Aggregates whose results ``_bloom_fold`` ORs into the bloom
    filter of ``colname`` over the aggregated rows: one
    ``bitmap_construct_agg`` per seed and per 32768-bit bucket, as SQL.
    The bitmap sets bit ``p`` at byte p/8, bit p%8 — the sidecar's
    little-endian word layout — and a NULL value (NULL position) sets
    nothing, so the words equal a per-row build byte for byte."""
    buckets = -(-bits // _BITMAP_BITS)
    out = []
    for s in range(k):
        p = f"({_bloom_pos_sql(colname, s, bits)} + 1)"
        for b in range(buckets):
            pos = f"bitmap_bit_position({p})"
            if buckets > 1:
                pos = f"if(bitmap_bucket_number({p}) = {b + 1}, {pos}, NULL)"
            out.append(F.expr(f"bitmap_construct_agg({pos}) AS {tag}_{s}_{b}"))
    return out


def _bloom_fold(row, tag: str, bits: int, k: int) -> int:
    """The filter words ``_bloom_aggs(..., tag)`` built, read from a
    result row as one little-endian integer (bit p = position p)."""
    words = 0
    for s in range(k):
        for b in range(-(-bits // _BITMAP_BITS)):
            v = row[f"{tag}_{s}_{b}"]
            if v:
                words |= int.from_bytes(v, "little") << (b * _BITMAP_BITS)
    return words


def _bloom_cols(bconf: dict[str, Any], snap: Snapshot) -> dict[str, str]:
    """Physical -> logical name of each indexed column the snapshot's
    schema holds with an eligible type (sidecars key on physical names;
    a config names the logical column as it was when set)."""
    types = {f.name: f.dataType.typeName() for f in _schema(snap).fields}
    logical = {snap.phys(c): c for c in types}
    out = {}
    for c in bconf.get("cols", []):
        name = logical.get(snap.phys(c))
        if name is not None and types[name] in _BLOOM_ELIGIBLE:
            out[snap.phys(c)] = name
    return out


def _bloom_words_ok(words: bytes | None, bits: int) -> bool:
    """A decoded sidecar column holds every word of a ``bits`` filter."""
    return words is not None and len(words) >= 8 * -(-bits // 64)


def _bloom_pos_py(s: str, seed: int, bits: int) -> int:
    """Driver-side twin of ``_bloom_pos_sql`` (probe path)."""
    return int(hashlib.md5(f"{s}|{seed}".encode()).hexdigest()[:15], 16) % bits


def _bloom_contains(words: bytes, bits: int, k: int, s: str) -> bool:
    """Membership test against little-endian-packed filter words."""
    for seed in range(k):
        p = _bloom_pos_py(s, seed, bits)
        w, b = divmod(p, 64)
        word = int.from_bytes(words[w * 8 : (w + 1) * 8], "little")
        if not (word >> b) & 1:
            return False
    return True


def _bloom_canon(sq, dq, num, ftype) -> str | None:
    """Canonical string the bloom hashed for one parsed literal under
    Spark's equality semantics for column type ``ftype``; None = this
    clause cannot use the bloom (must-scan).  Integral columns accept
    integer-valued literals only ('7' and 7 both canonicalize to "7",
    "07" to "7"); `k == 7.0` matches k=7 in Spark but hashes differently,
    so any non-pure-integer literal falls back to a scan.  String columns
    accept quoted literals only (`s == 7` casts the COLUMN in Spark)."""
    if ftype == "string":
        if num is not None:
            return None
        return sq if sq is not None else dq
    raw = sq if sq is not None else dq if dq is not None else num
    if raw is None or not re.fullmatch(r"\s*-?\d+\s*", raw):
        return None
    return str(int(raw))


def _validate_bloom_conf(
    types: dict[str, str], cols: list[str], bits: int, k: int
) -> dict[str, Any]:
    if not cols:
        raise ValueError("bloom_cols must name at least one column")
    for c in cols:
        if c not in types:
            raise ValueError(f"bloom column {c!r} not in schema")
        if types[c] not in _BLOOM_ELIGIBLE:
            raise ValueError(
                f"bloom column {c!r} has type {types[c]!r}; supported: "
                f"{list(_BLOOM_ELIGIBLE)} (float/temporal literals have "
                "engine-specific string forms — equality pruning on them "
                "would risk false prunes)"
            )
    if bits < 64:
        raise ValueError("bloom_bits must be >= 64")
    if not 1 <= k <= 32:
        raise ValueError("bloom_k must be in [1, 32]")
    return {"cols": list(cols), "bits": int(bits), "k": int(k)}
