"""Optimistic-concurrency COMMIT LOG over plain parquet — the unified
transactional layer the round-9 verdict ranked first: the missing
piece that turns the engine's separate lakehouse primitives (versioned
snapshots, deletion vectors, compaction generations) into one table a
concurrent writer can safely touch.

Model (Delta/Iceberg's core contract, minimally):

- A table is ``root/data/`` (parquet files) plus ``root/_log/``
  (numbered JSON commits).  The LIVE file set is the log replay:
  each commit lists ``add`` / ``remove`` file actions.  Data files
  are immutable once written and INVISIBLE until a commit references
  them, so every reader sees an atomic snapshot and a crashed writer
  leaves only invisible orphans (swept by :func:`vacuum_orphans`).
- Writers are OPTIMISTIC: a :class:`Transaction` captures the table
  version at ``begin`` time, stages its data files, then commits by
  atomically claiming log slot N+1 (``os.link`` — exclusive create;
  the loser of a slot race re-validates and takes the next slot).
- CONFLICT DETECTION at commit time, file-granular (Delta's
  WriteSerializable posture): a commit that landed after our snapshot
  conflicts iff it REMOVED a file we read or removed (our input was
  rewritten or deleted under us — ConcurrentDeleteRead /
  ConcurrentDeleteDelete), or it added a DELETION VECTOR targeting a
  file we remove (our staged rewrite would resurrect its deletes).
  Blind appends never conflict and auto-retry their slot;
  disjoint-file deletes commute; MOR deletes commute with each other
  (position subtraction is idempotent); overlapping rewrites raise
  :class:`CommitConflict` and the CALLER re-runs its operation on
  the fresh snapshot (re-deriving the rewrite — the part no log can
  do mechanically).
- DELETION VECTORS UNDER THE LOG (:meth:`Transaction.
  delete_where_mor`): the :mod:`.mor` position-delete model as a
  logged action — ``add_dv`` sidecars become visible atomically with
  their commit, readers subtract them, and :meth:`Transaction.
  compact` settles them (applies + removes) in one generation move —
  the OPTIMIZE contract, now transactional.
- CHECKPOINTS (:mod:`.lakehouse_checkpoint`): the state at a version
  landed as a parquet generation.  The log state at v is one value, a
  :class:`Snapshot`, resolved by ONE function (:func:`snapshot`): the
  newest readable generation ≤ v (none = the empty base) plus the
  JSON tail, folded by ONE function (:func:`_tail_net`), so snapshot
  resolution is O(commits since last checkpoint) — Delta's checkpoint
  discipline, which keeps a long-lived table's metadata reads bounded.
- EXACTLY-ONCE WRITERS: commits may carry a ``(txn_app,
  txn_version)`` identity; duplicates skip (Delta txnAppId/
  txnVersion) — what a restarting foreachBatch stream needs.
- MOR UPDATES (:meth:`Transaction.update_where_mor`): position-
  delete + reinsert in one commit; updates conflict with concurrent
  DVs on the same files (their reinserts would resurrect the other
  side's removed rows — Delta's ConcurrentDeleteRead posture).
- CHANGE DATA FEED (:func:`read_changes`): full-row change records
  derived from the log's own actions — delta-sized reads, the
  Delta ``readChangeFeed`` shape; copy-on-write deletes record
  change-data sidecars when CDF is enabled
  (:meth:`Transaction.enable_cdf`), everything else derives free.
- RESTORE (:func:`restore_table`): reset to a historical version as
  one metadata-only commit, history preserved; DESCRIBE HISTORY
  (:func:`describe_history`): the audit trail as a DataFrame.
- MERGE INTO (:meth:`Transaction.merge_into`): Delta's merge
  algorithm — one find-touched-files probe scan, file-pruned
  copy-on-write rewrite of only the touched files, delta-sized
  insert append; key-unique source enforced, CDF-recorded when
  enabled.
- SHALLOW CLONE (:func:`clone_table`): fork the table as one
  metadata commit referencing the source's files by absolute path —
  zero data copied; the clone's writes land under its own root.
- DATA SKIPPING (:func:`prune_files`, :func:`read_table` with
  ``predicate``): every ``add`` action carries per-column
  min/max/null-count read from the staged file's parquet FOOTER (no
  extra data pass — parquet already computed them), checkpointed
  with the rest of the state; a predicate read prunes files whose
  stats prove no match and runs the full predicate as a residual
  filter on the survivors — identical results, delta-sized I/O.
  :func:`table_detail` is the metadata-only DESCRIBE DETAIL /
  ``COUNT(*)`` served from the same stats.
- OPTIMIZE ZORDER (:meth:`Transaction.optimize_zorder`): whole-table
  rewrite ordered along a z-order space-filling curve (quantile
  bucketing + bit interleaving, all codegen'd column arithmetic), so
  file stats are tight on EVERY clustered column at once and
  skipping works for multi-column predicates on one physical layout.
- INCREMENTAL OPTIMIZE (:meth:`Transaction.compact_small`): bin-pack
  only the files under the size threshold — the small-file debt, not
  the table — reading nothing else, so it commutes with concurrent
  writes to right-sized files (a full compact conflicts with all).
- IN-COMMIT TIMESTAMPS + TIMESTAMP AS OF: every commit carries a
  monotonic timestamp (Delta inCommitTimestamp — the log is the
  clock of record, not file mtimes); :func:`version_at_timestamp` /
  ``read_table(timestamp=...)`` resolve it.
- VERSION EXPIRY (:func:`expire_versions`): Iceberg
  expire_snapshots — delete files only expired versions reference,
  pin the retention boundary as a checkpoint, truncate the log; the
  bounded-storage contract (without it every rewrite's old
  generation lives forever).
- COLUMN MAPPING (:meth:`Transaction.rename_column` /
  :meth:`drop_column`): ALTER TABLE RENAME/DROP as one metadata
  action — physical parquet names never change, readers resolve the
  logical view through the committed colmap, new columns get opaque
  physical names so dead bytes can't resurrect.
- replaceWhere (:meth:`Transaction.replace_where`): the idempotent
  partition backfill — predicate-validated insert + stats-pruned
  copy-on-write delete of the replaced slice, one atomic commit.
- OPERATION METRICS: commits carry ``metrics`` (rows appended/
  deleted/updated, files rewritten — byproducts of staging, never
  an extra pass); DESCRIBE HISTORY surfaces them.
- IDENTITY COLUMNS (:meth:`Transaction.set_identity_column`):
  GENERATED ALWAYS AS IDENTITY — engine-assigned surrogate keys,
  unique and monotonic across commits (gaps allowed by contract,
  dense per append in practice), assigned fully distributed
  (per-partition prefix offsets, no global row-number shuffle); the
  metadata high-water advances from staged footer stats.
- GENERATED COLUMNS (:meth:`Transaction.set_generated_column`):
  GENERATED ALWAYS AS (expr) — omitted on append -> computed,
  provided -> cell-validated (update/merge postimages too); with
  footer stats the generated day/bucket column is skippable, i.e.
  partition-pruning semantics without a partition layout.
- THE TABLE CONTRACT: committed schema (enforced on every append,
  widened only via ``evolve_schema=True`` + footer-merged reads) and
  CHECK constraints (:meth:`Transaction.set_check_constraint` —
  full-table validation on ADD, whole-batch atomic rejection on
  append); metadata updates serialize with everything
  (ConcurrentMetadataUpdate).

Scale posture: commits are O(actions) metadata — KBs against a
100 TB table; replay is checkpoint-bounded, driver-side JSON, not a
data job.  Data movement stays exactly what the operation needs:
``delete_where`` rewrites ONLY the files containing matches
(file-pruned copy-on-write), ``delete_where_mor`` writes O(matches)
sidecar bytes and no data files, ``append`` moves nothing.  One
deployment caveat: the ``os.link`` exclusive-create slot claim is
LOCAL-FILESYSTEM semantics — on an object store (S3) there is no
atomic create-if-absent rename, so the slot claim needs a
putIfAbsent LogStore / commit coordinator (the known Delta-on-S3
deployment constraint); the protocol above it is unchanged.

Reference parity note: the reference pipeline (jobs/*/*.py) is
append-only with no concurrent-writer story; this is the extension
VERDICT r9 ranked as the top residual real-user gap.
"""

from __future__ import annotations

import json
import os
import pathlib
import re
import shutil
import uuid
from typing import NamedTuple

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F

_LOG_DIR = "_log"
_DATA_DIR = "data"
_DV_DIR = "_deletes"
_CDC_DIR = "_cdc"


class CommitConflict(Exception):
    """A commit that landed after this transaction's snapshot removed
    a file this transaction read or removed.  The operation's inputs
    are stale: re-run it against the current snapshot and commit
    again (the retry loop every optimistic writer wraps around its
    work)."""


class ConstraintViolation(Exception):
    """An append carried rows a CHECK constraint rejects (expression
    FALSE; NULL passes, SQL CHECK semantics), or ADD CONSTRAINT found
    existing rows that violate it.  Nothing visible was staged."""


class SchemaMismatch(Exception):
    """An append's schema does not match the table's committed schema
    (missing columns, or a type change on an existing column) — the
    Delta schema-enforcement contract.  NEW columns are accepted only
    with ``evolve_schema=True``."""


def latest_commit(path: str) -> int:
    """Highest committed version (0 = uninitialized table)."""
    log = pathlib.Path(path) / _LOG_DIR
    if not log.exists():
        return 0
    return max(
        (int(p.stem) for p in log.glob("*.json") if p.stem.isdigit()),
        default=0,
    )


def _commit_versions(path: str) -> list[int]:
    """Sorted versions whose commit file is still PRESENT — after
    :func:`expire_versions` the prefix is gone and history iterators
    (describe_history, vacuum_orphans, version_at_timestamp) must
    walk what exists, not ``range(1, latest+1)``."""
    log = pathlib.Path(path) / _LOG_DIR
    if not log.exists():
        return []
    return sorted(
        int(p.stem) for p in log.glob("*.json") if p.stem.isdigit()
    )


def _read_commit(path: str, version: int) -> dict:
    p = pathlib.Path(path) / _LOG_DIR / f"{version:08d}.json"
    return json.loads(p.read_text())


class _Tail(NamedTuple):
    """Net effect of a run of commits.  ``added`` maps file -> stats
    dict or None; ``added``/``removed`` are disjoint, likewise the DV
    pair; ``meta``, ``txns`` and ``copied`` (COPY INTO sources) are the
    folded updates.  A generation at v0 is the net of commits (0, v0]."""

    added: dict
    removed: set
    dv_added: set
    dv_removed: set
    meta: dict
    txns: dict
    copied: set

    @property
    def gone(self) -> set:
        """Files whose BASE add/dv rows must drop: all the tail removed
        or re-emits (a RESTORE's remove + re-add nets to ``added``; the
        base row would duplicate the file, ADVICE r12)."""
        return self.removed | set(self.added) | self.dv_removed | self.dv_added

    def then(self, t: "_Tail") -> "_Tail":
        """This net followed by the later net ``t``."""
        txns = dict(self.txns)
        for app, tv in t.txns.items():
            txns[app] = max(txns.get(app, -1), tv)
        added = {f: s for f, s in self.added.items() if f not in t.removed}
        return _Tail(
            {**added, **t.added}, (self.removed - set(t.added)) | t.removed,
            (self.dv_added - t.dv_removed) | t.dv_added,
            (self.dv_removed - t.dv_added) | t.dv_removed,
            {**self.meta, **t.meta}, txns, self.copied | t.copied,
        )


def _net() -> _Tail:
    """The net of no commits."""
    return _Tail({}, set(), set(), set(), {}, {}, set())


def _tail_net(path: str, v_from: int, v_to: int) -> _Tail:
    """Net effect of commits (v_from, v_to] — THE fold of log actions,
    in replay order.  Each op evicts the file from the opposite
    bucket, and a remove always lands in ``removed`` so a base add row
    can never outlive a final tail delete.  Raises ValueError when a
    commit in the range was expired."""
    t = _net()
    for i in range(v_from + 1, v_to + 1):
        try:
            c = _read_commit(path, i)
        except FileNotFoundError:
            raise ValueError(
                f"cannot reconstruct version {v_to} at {path}: commit {i} "
                f"was expired by expire_versions — time travel reaches "
                f"back only to the oldest retained version"
            ) from None
        txn = c.get("txn")
        if txn:
            t.txns[txn["app"]] = max(t.txns.get(txn["app"], -1), txn["version"])
        for a in c["actions"]:
            op = a["op"]
            if op == "add":
                t.removed.discard(a["file"])
                t.added[a["file"]] = a.get("stats") or None
            elif op == "remove":
                # ALWAYS lands in `removed`, even cancelling a tail
                # re-add: only `removed` evicts a base add row (ADVICE
                # r13); for a base-absent file it is a no-op
                t.added.pop(a["file"], None)
                t.removed.add(a["file"])
            elif op == "add_dv":
                t.dv_removed.discard(a["file"])
                t.dv_added.add(a["file"])
            elif op == "remove_dv":
                # as `remove`: only `dv_removed` evicts a base dv row
                t.dv_added.discard(a["file"])
                t.dv_removed.add(a["file"])
            elif op == "set_meta":
                t.meta.update(a["meta"])
            elif op == "copy_source":
                t.copied.add(a["file"])
    return t


class Snapshot(NamedTuple):
    """The log state of the table at ``path`` at ``version``, as one
    value.  ``base`` is the checkpoint generation it stands on (0 = the
    empty base); that generation's ADD rows stay in parquet until
    :meth:`adds` or :func:`.lakehouse_checkpoint.plan_scan` reads them.
    ``state`` is the rest, folded over base and tail: the table
    ``meta``, the live DV files (``dv_added``), the idempotent-writer
    high-water marks ``{txn_app: max txn_version}`` (``txns``) and the
    COPY INTO sources (``copied``); it holds no adds.  ``tail`` is the
    net of commits (base, version], its adds' stats decoded."""

    path: str
    version: int
    base: int
    state: _Tail
    tail: _Tail

    def adds(self) -> dict:
        """``{live file: stats dict | None}``: the base's add rows
        decoded — the O(files) read — plus the tail's."""
        from . import lakehouse_checkpoint as _ckpt  # lazy: circular import

        return _ckpt._resolve_base(self.path, self.version, _ckpt._adds, self)


def _snapshot_on(path: str, v: int, v0: int, side: _Tail) -> Snapshot:
    """The Snapshot at ``v`` on generation ``v0``, whose non-add rows
    are ``side``."""
    tail = _tail_net(path, v0, v)
    state = side.then(tail._replace(added={}, removed=set()))
    return Snapshot(path, v, v0, state, tail)


def snapshot(path: str, version: int | None = None) -> Snapshot:
    """THE resolver of log state: the :class:`Snapshot` at ``version``
    (default latest) on the newest readable checkpoint generation ≤ it
    plus the JSON tail — O(commits since that generation) JSON, no add
    row of the generation decoded.  Raises ValueError when a commit
    it needs was expired."""
    from . import lakehouse_checkpoint as _ckpt  # lazy: circular import

    v = latest_commit(path) if version is None else version
    return _ckpt._resolve_base(path, v)


def json_replay(path: str, version: int | None = None) -> Snapshot:
    """The :class:`Snapshot` from the empty base, no checkpoint read:
    the reference of checkpoint-parity checks (raises once commit 1
    expired)."""
    v = latest_commit(path) if version is None else version
    return _snapshot_on(path, v, 0, _net())


def last_txn_version(path: str, app: str) -> int:
    """Highest committed ``txn_version`` for idempotent-writer ``app``
    (−1 = never committed) — what a restarting exactly-once stream
    consults implicitly via :meth:`Transaction.commit`'s dedupe."""
    return snapshot(path).state.txns.get(app, -1)


def version_at_timestamp(path: str, ts: float) -> int:
    """TIMESTAMP AS OF resolution: the largest version whose IN-COMMIT
    timestamp is <= ``ts`` (Delta's semantics — "the table as it was
    at that moment").  Commits written before in-commit timestamps
    existed fall back to the commit file's mtime, Delta's own
    pre-feature behavior.  One O(available commits) driver-side JSON
    scan — no early exit, because the mtime fallback need not be
    monotonic even though in-commit timestamps are.  Raises when
    ``ts`` predates the oldest available commit."""
    log = pathlib.Path(path) / _LOG_DIR
    best = None
    for v in _commit_versions(path):
        p = log / f"{v:08d}.json"
        try:
            body = json.loads(p.read_text())
        except (OSError, ValueError):
            continue
        cts = float(body.get("ts") or p.stat().st_mtime)
        if cts <= ts:
            best = v
        # no early break: in-commit timestamps are monotonic, but the
        # mtime FALLBACK for pre-feature commits need not be (copies,
        # clock steps) — scan the whole O(commits) metadata list
    if best is None:
        raise ValueError(
            f"no commit at {path} at or before timestamp {ts}: the "
            f"oldest available commit is newer (or the table is empty)"
        )
    return best


def expire_versions(path: str, keep_from: int) -> dict:
    """EXPIRE history before version ``keep_from`` — Iceberg's
    ``expire_snapshots`` / Delta's log retention as one retention
    operation: data/DV/CDC files referenced ONLY by versions <
    ``keep_from`` are physically deleted, the state at ``keep_from``
    is pinned as a checkpoint generation (the FLOOR: the only copy of
    the expired prefix's state, which sweeps keep), and the expired
    commit JSONs and generations below it are removed.  Time travel
    and change feeds reaching below ``keep_from`` subsequently raise;
    reads at or after it are byte-identical to before.

    This is the bounded-storage contract a 100 TB table needs:
    without expiry every rewrite's old generation lives forever.
    Cost is O(log) driver-side JSON plus one unlink per doomed file —
    no data job.  Files referenced by absolute path (shallow-clone
    sources living under OTHER roots) are never deleted — expiring a
    clone cannot reach into its source table; conversely expiring a
    SOURCE may strand clones that pinned its files, the same caveat
    Delta documents for vacuuming a cloned table's source.  Run
    against a quiesced table or behind the same coordination as
    vacuum (a reader mid-time-travel below ``keep_from`` sees its
    files vanish — Delta documents the identical constraint).  Crash
    mid-delete is safe: the retention generation lands FIRST, a retry
    finishes the remaining unlinks, and any data file stranded after
    the last expired commit JSON went is unreferenced debris
    :func:`vacuum_orphans` sweeps.  Returns ``{"expired_through",
    "data_files_deleted", "log_files_deleted"}``."""
    root = pathlib.Path(path)
    latest = latest_commit(path)
    if not (1 <= keep_from <= latest):
        raise ValueError(
            f"keep_from must be an existing version (1..{latest}), "
            f"got {keep_from}"
        )
    avail = _commit_versions(path)
    expired = [v for v in avail if v < keep_from]
    if not expired:
        return {
            "expired_through": keep_from - 1,
            "data_files_deleted": 0,
            "log_files_deleted": 0,
        }
    from . import lakehouse_checkpoint as _ckpt  # lazy: circular import

    # the generation FIRST: once it exists, retained versions read
    # without the expired prefix even if we crash mid-delete
    _ckpt.write_parquet_checkpoint(path, keep_from)
    # files every retained version can still reach: the state at
    # keep_from plus everything added after it
    snap = snapshot(path, keep_from)
    retained: set[str] = set(snap.adds()) | snap.state.dv_added
    for v in avail:
        if v <= keep_from:
            continue
        for a in _read_commit(path, v)["actions"]:
            if a["op"] in ("add", "add_dv", "add_cdc"):
                retained.add(a["file"])
    doomed: set[str] = set()
    for v in expired:
        for a in _read_commit(path, v)["actions"]:
            if (
                a["op"] in ("add", "add_dv", "add_cdc")
                and a["file"] not in retained
            ):
                doomed.add(a["file"])
    data_deleted = 0
    for f in sorted(doomed):
        p = root / f
        try:
            # never reach outside this table's root: absolute
            # references (shallow-clone sources) belong to another log
            p.resolve().relative_to(root.resolve())
        except ValueError:
            continue
        try:
            p.unlink()
            data_deleted += 1
        except FileNotFoundError:
            pass
    log = root / _LOG_DIR
    log_deleted = 0
    for v in expired:
        try:
            (log / f"{v:08d}.json").unlink()
            log_deleted += 1
        except FileNotFoundError:
            pass
    # generations below the boundary reference deleted files AND
    # their tail's commit JSONs are gone
    for g in _ckpt._generations(path):
        if g < keep_from:
            shutil.rmtree(_ckpt._ckpt_dir(path, g), ignore_errors=True)
            log_deleted += 1
    return {
        "expired_through": keep_from - 1,
        "data_files_deleted": data_deleted,
        "log_files_deleted": log_deleted,
    }


# -- file-level column statistics + data skipping ------------------------
#
# Delta/Iceberg's data-skipping contract: every ``add`` action carries
# per-column min/max/null-count read from the staged file's PARQUET
# FOOTER (the stats parquet already computed at write time — no extra
# data pass), and a predicate read consults ONLY the log to prune
# files whose stats PROVE they hold no match.  At 100 TB this is the
# difference between opening 40 files and opening 40,000: the prune
# is O(live files) driver-side metadata, the scan is O(surviving
# files).  Footer reads here are driver-side (local-FS metadata
# speed, same cost class as the commit JSON); on an object store a
# cluster deployment would distribute them, same as Delta's stats
# collection.  Skipping is a SUPERSET guarantee: a kept file may
# still hold no match (the residual filter runs on the scan); a
# skipped file provably holds none.

_STATS_MAX_STR = 64  # drop string stats longer than this: a truncated
# max is NOT a valid upper bound, and min/max on long strings bloat
# every commit JSON for little pruning power (Delta truncates at 32)

_STATS_MAX_COLS = 32  # index only the first N schema-order columns
# (Delta's dataSkippingNumIndexedCols): commit JSON grows O(files ×
# indexed columns), so a 500-column table must not pay stats on every
# trailing column nobody predicates on; absent stats only disable
# pruning for that column — never wrong


def _json_stat(v):
    """A footer min/max as a JSON-safe, totally-ordered key — or None
    when the value cannot serve as a skipping bound (drop the column
    for that file; skipping then keeps the file, which is always
    safe).  Timestamps/dates become ISO strings: lexicographic order
    on isoformat equals chronological order, with or without a
    fractional-seconds suffix."""
    import datetime
    import math

    if isinstance(v, bool) or isinstance(v, int):
        return v
    if isinstance(v, float):
        return None if (math.isnan(v) or math.isinf(v)) else v
    if isinstance(v, str):
        return v if len(v) <= _STATS_MAX_STR else None
    if isinstance(v, datetime.datetime):
        # normalize aware -> naive UTC BEFORE isoformat: an aware
        # stamp's "+00:00" suffix breaks lexicographic comparison
        # against a naive predicate on exact boundaries (the engine
        # pins the session to UTC, so naive == UTC wall time)
        if v.tzinfo is not None:
            v = v.astimezone(datetime.timezone.utc).replace(tzinfo=None)
        return v.isoformat()
    if isinstance(v, datetime.date):
        return v.isoformat()
    return None


def _pval_stat(v: str, typ: str):
    """A decoded Hive partition-value STRING as the typed stats key
    :func:`_json_stat` would have produced had the value lived in a
    footer — so partition predicates compare against partition stats
    exactly like data predicates against data stats.  Unparseable
    values fall back to the raw string (string-typed predicates still
    prune; mistyped ones admit, which is always safe)."""
    t = typ.lower()
    try:
        if t in ("tinyint", "smallint", "int", "integer", "bigint",
                 "long", "short", "byte"):
            return int(v)
        if t in ("float", "double", "decimal") or t.startswith("decimal"):
            return float(v)
        if t == "boolean":
            return v.lower() == "true"
    except ValueError:
        return v
    # date/timestamp partition values are already ISO-formatted path
    # text — _json_stat's own representation; strings pass through
    return v


def _file_stats(p: pathlib.Path, force_cols=()) -> dict | None:
    """Per-file column statistics from the parquet FOOTER: ``{"rows":
    n, "bytes": b, "cols": {name: {"min": v, "max": v, "nulls":
    n}}}``.  Columns whose row groups lack usable min/max (nested,
    binary, NaN-polluted, over-long strings) are simply absent —
    absent means "cannot prune", never "wrong".  ``force_cols`` are
    indexed regardless of the ``_STATS_MAX_COLS`` cap — identity
    columns land LAST in the physical schema (``withColumn``) yet
    their footer max IS the high-water advance, so a 32+-column
    identity table must still carry them (ADVICE r11).  Returns None
    when the footer is unreadable (the add action then carries no
    stats)."""
    import pyarrow.parquet as pq

    try:
        md = pq.ParquetFile(str(p)).metadata
    except Exception:
        return None
    rows = md.num_rows
    cols: dict[str, dict] = {}
    dropped: set[str] = set()
    indexed: list[str] = []  # first _STATS_MAX_COLS top-level columns
    for rg in range(md.num_row_groups):
        g = md.row_group(rg)
        for ci in range(g.num_columns):
            c = g.column(ci)
            name = c.path_in_schema
            if "." in name or name in dropped:
                continue  # nested leaf — file-level bound undefined
            if name not in indexed:
                if len(indexed) >= _STATS_MAX_COLS and name not in force_cols:
                    continue
                indexed.append(name)
            st = c.statistics
            nulls = (
                st.null_count
                if st is not None and st.has_null_count
                else 0  # undercounting nulls only disables the
                # all-null prune — never unsound
            )
            entry = cols.setdefault(name, {"min": None, "max": None, "nulls": 0})
            entry["nulls"] += nulls
            if st is None or not st.has_min_max:
                # an ALL-NULL row group constrains nothing (nulls match
                # no comparison); anything else means the column has
                # values we cannot bound — drop it for this file
                if st is not None and st.has_null_count and nulls == g.num_rows:
                    continue
                dropped.add(name)
                cols.pop(name, None)
                continue
            lo, hi = _json_stat(st.min), _json_stat(st.max)
            if lo is None or hi is None:
                dropped.add(name)
                cols.pop(name, None)
                continue
            entry["min"] = lo if entry["min"] is None else min(entry["min"], lo)
            entry["max"] = hi if entry["max"] is None else max(entry["max"], hi)
    # a column whose every row group was all-null keeps min/max None
    # with nulls == rows: _stats_admit prunes it for any comparison
    return {
        "rows": rows,
        "bytes": p.stat().st_size,
        "cols": cols,
    }


_ISO_DATE_RE = re.compile(r"^\d{4}-\d{2}-\d{2}$")
_ISO_DT_RE = re.compile(r"^\d{4}-\d{2}-\d{2}T")


def _promote_dates(lo, hi, vals):
    """Align mixed date/datetime ISO shapes before lexicographic
    comparison.  A date column's footer stats serialize as
    ``YYYY-MM-DD`` while a datetime predicate value serializes as
    ``YYYY-MM-DDT..`` — comparing those raw would prune a file whose
    max day IS the predicate's day (``'..T00:00:00' > '..-15'``
    lexicographically) even though the Spark residual filter matches
    after date→timestamp promotion: silently dropped rows (ADVICE
    r11).  Spark promotes a date to that day's MIDNIGHT timestamp in
    comparisons, so appending ``T00:00:00`` to every date-shaped
    bound/value reproduces the residual filter's ordering exactly —
    the alignment is precise, not merely safe.

    Callers must only invoke this when the PREDICATE value is a real
    ``datetime.date``/``datetime.datetime`` instance (see
    :func:`_align_temporal`): a genuine STRING column whose values
    merely LOOK like dates compares lexicographically in Spark, and
    promoting its bounds would prune files whose raw strings match
    (ADVICE r12, medium)."""
    strs = [x for x in [lo, hi, *vals] if isinstance(x, str)]
    if any(_ISO_DT_RE.match(s) for s in strs) and any(
        _ISO_DATE_RE.match(s) for s in strs
    ):
        def up(x):
            if isinstance(x, str) and _ISO_DATE_RE.match(x):
                return x + "T00:00:00"
            return x

        return up(lo), up(hi), [up(v) for v in vals]
    return lo, hi, vals


def _align_temporal(lo, hi, raw, key):
    """``(lo, hi, key, ambiguous)`` with date/datetime ISO shapes
    aligned — keyed on the PREDICATE value's Python type, the only
    signal that distinguishes a temporal comparison (Spark promotes
    date → midnight timestamp; reproduce that ordering) from a plain
    STRING comparison whose values happen to look like dates (Spark
    compares the raw strings; promotion would be UNSOUND — it prunes
    files whose raw strings satisfy the predicate, ADVICE r12).  A
    plain-str predicate meeting mixed date/datetime shapes is
    undecidable from stats alone: report ``ambiguous`` and let the
    caller admit the file (skipping errs open, never wrong)."""
    import datetime

    if isinstance(raw, datetime.date):  # datetime.datetime subclasses date
        lo2, hi2, (k2,) = _promote_dates(lo, hi, [key])
        return lo2, hi2, k2, False
    if isinstance(key, str) and isinstance(lo, str):
        strs = [lo, hi, key]
        if any(
            isinstance(s, str) and _ISO_DT_RE.match(s) for s in strs
        ) and any(
            isinstance(s, str) and _ISO_DATE_RE.match(s) for s in strs
        ):
            return lo, hi, key, True
    return lo, hi, key, False


def _stats_admit(st: dict | None, col: str, op: str, value) -> bool:
    """True unless ``st`` PROVES file holds no row matching ``col op
    value``.  Unknown stats, unknown column, or incomparable types all
    ADMIT the file — skipping errs open, the residual filter closes.
    All supported ops are null-rejecting (SQL comparison semantics),
    so an all-null column admits nothing.  Mixed date/datetime shapes
    are aligned to Spark's midnight promotion first
    (:func:`_promote_dates`)."""
    if st is None:
        return True
    if st.get("rows") == 0:
        return False  # provably empty file
    c = st.get("cols", {}).get(col)
    if c is None:
        return True
    rows = st.get("rows")
    if rows is not None and c.get("nulls") == rows:
        return False  # every value NULL: no comparison matches
    lo, hi = c.get("min"), c.get("max")
    if lo is None or hi is None:
        return True
    try:
        if op == "in":
            for x in value:
                k = _json_stat(x)
                if k is None:
                    return True
                lo2, hi2, k, amb = _align_temporal(lo, hi, x, k)
                if amb or lo2 <= k <= hi2:
                    return True
            return False
        v = _json_stat(value)
        if v is None:
            return True
        lo, hi, v, amb = _align_temporal(lo, hi, value, v)
        if amb:
            return True
        if op == "=":
            return lo <= v <= hi
        if op == "<":
            return lo < v
        if op == "<=":
            return lo <= v
        if op == ">":
            return hi > v
        if op == ">=":
            return hi >= v
    except TypeError:
        return True  # stat/value types don't order together: admit
    raise ValueError(f"unsupported skipping op {op!r}")


def prune_files(
    path: str, predicate, version: int | None = None
) -> tuple[int, list[str], int]:
    """Evaluate a conjunctive predicate — an iterable of ``(column,
    op, value)`` with op in ``= < <= > >= in`` — against the log's
    per-file stats: returns ``(version, surviving live files sorted,
    total live files)``.  Pure metadata: no data file is opened.  A
    file survives unless SOME conjunct proves it empty.  Predicate
    columns are LOGICAL names; on a column-mapped table they are
    translated to the physical names the footer stats carry.  One
    :func:`.lakehouse_checkpoint.plan_scan` call."""
    from . import lakehouse_checkpoint as _ckpt  # lazy: circular import

    snap = snapshot(path, version)
    return (snap.version, *_ckpt.plan_scan(snap, predicate))


def _predicate_column(conj) -> "F.Column":
    """The Spark residual filter equivalent to a skipping predicate —
    applied on every pruned read so skipping can never change query
    results, only the file set opened."""
    cond = F.lit(True)
    for c, op, val in conj:
        col = F.col(c)
        if op == "=":
            term = col == F.lit(val)
        elif op == "<":
            term = col < F.lit(val)
        elif op == "<=":
            term = col <= F.lit(val)
        elif op == ">":
            term = col > F.lit(val)
        elif op == ">=":
            term = col >= F.lit(val)
        elif op == "in":
            term = col.isin(list(val))
        else:
            raise ValueError(f"unsupported skipping op {op!r}")
        cond = cond & term
    return cond


#: Above this many broadcast-side rows the forced ``F.broadcast``
#: hint is DROPPED and the join falls back to the planner's choice
#: (sort-merge anti under AQE) — a delete wave touching ~10^8
#: positions before the next purge must degrade to a SLOW query, not
#: an executor OOM (VERDICT r11).  Runtime-settable per session.
_BROADCAST_MAX_ROWS_CONF = "spark.market_etl.lakehouse.broadcastMaxRows"
_BROADCAST_MAX_ROWS = 4_000_000


def _broadcast_cap(spark: SparkSession) -> int:
    try:
        return int(
            spark.conf.get(
                _BROADCAST_MAX_ROWS_CONF, str(_BROADCAST_MAX_ROWS)
            )
        )
    except (TypeError, ValueError):
        return _BROADCAST_MAX_ROWS


def _dv_rowcount(root: pathlib.Path, dvs) -> int:
    """Total live delete positions, from the sidecars' parquet FOOTER
    row counts — KB-sized metadata reads bounded by the purge
    cadence.  An unreadable footer counts as over-cap: when in doubt,
    don't broadcast."""
    import pyarrow.parquet as pq

    total = 0
    for f in sorted(dvs):
        try:
            total += pq.ParquetFile(str(root / f)).metadata.num_rows
        except Exception:
            return 1 << 62
    return total


def _dv_subtract(
    spark: SparkSession, root: pathlib.Path, dvs, df: DataFrame
) -> DataFrame:
    """``df`` minus the accumulated deletion-vector positions — THE
    shared MOR read-side join.  Broadcast anti join while the
    position count fits :data:`_BROADCAST_MAX_ROWS_CONF`; above it
    the hint is dropped and the planner shuffles — identical results,
    bounded memory (test_broadcast_bounds pins plan + parity)."""
    dv = spark.read.parquet(*[str(root / f) for f in sorted(dvs)]).select(
        "_dv_file", "_dv_pos"
    )
    if _dv_rowcount(root, dvs) <= _broadcast_cap(spark):
        dv = F.broadcast(dv)
    return df.join(dv, ["_dv_file", "_dv_pos"], "left_anti")


#: Staged-part count above which footer stats are computed as ONE
#: Spark job (:func:`lakehouse_checkpoint.stats_distributed`) instead
#: of a serial driver loop — a full-table rewrite staging thousands
#: of files pays one job; incremental commits (a handful of parts)
#: keep the cheaper local reads (VERDICT r11 item 2).
_STATS_DISTRIBUTED_MIN_FILES = 64


def _staged_stats(parts, force_cols=()) -> dict[str, dict | None]:
    """Footer stats for staged part files, keyed by str(path) —
    driver-local under :data:`_STATS_DISTRIBUTED_MIN_FILES`,
    distributed (one ``mapPartitions`` job) above it."""
    parts = list(parts)
    if len(parts) >= _STATS_DISTRIBUTED_MIN_FILES:
        spark = SparkSession.getActiveSession()
        if spark is not None:
            from .lakehouse_checkpoint import stats_distributed

            return stats_distributed(spark, parts, force_cols=force_cols)
    return {
        str(p): _file_stats(p, force_cols=force_cols) for p in parts
    }


def _z_clustered(
    df: DataFrame, cols: list[str], bits: int, n_files: int
) -> DataFrame:
    """``df`` re-laid along a Z-ORDER space-filling curve over
    ``cols`` — the shared construction under :meth:`Transaction.
    optimize_zorder` (whole table) and :meth:`Transaction.
    optimize_zorder_incremental` (small-file candidates only).
    Scale-correct, no UDF anywhere: each column is quantile-bucketed
    to ``bits`` bits via ONE ``approxQuantile`` pass over ``df``
    (rank-based — skew and arbitrary ranges normalize identically;
    NULLs take bucket 0), bucket ids come from a higher-order
    ``filter`` over the literal boundary array (whole-stage codegen),
    the z-value is pure bit-interleaving arithmetic, and the layout is
    one ``repartitionByRange(z) + sortWithinPartitions(z)`` job."""
    types = {f.name: f.dataType.simpleString() for f in df.schema.fields}
    proj = df
    zn = []
    for i, c in enumerate(cols):
        t = types.get(c)
        if t is None:
            raise ValueError(f"zorder column {c!r} not in table schema")
        col = F.col(c)
        if t in ("timestamp", "date", "timestamp_ntz"):
            col = col.cast("timestamp").cast("double")
        else:
            col = col.cast("double")
        name = f"_zn_{i}"
        proj = proj.withColumn(name, col)
        zn.append(name)
    probs = [i / (1 << bits) for i in range(1, 1 << bits)]
    # one distributed pass computes every column's boundaries
    bnds = proj.stat.approxQuantile(zn, probs, 0.01)
    buckets = []
    for name, bs in zip(zn, bnds):
        arr = F.array(*[F.lit(float(b)) for b in bs])
        buckets.append(
            F.size(F.filter(arr, lambda b: b < F.col(name))).cast("long")
        )
    k = len(cols)
    z = F.lit(0).cast("long")
    for i in range(bits):
        for j, bk in enumerate(buckets):
            bit = F.shiftright(bk, i).bitwiseAND(F.lit(1))
            z = z + F.shiftleft(bit, i * k + j)
    return (
        proj.withColumn("_z", z)
        .repartitionByRange(n_files, "_z")
        .sortWithinPartitions("_z")
        .drop("_z", *zn)
    )


def table_detail(path: str, version: int | None = None) -> dict:
    """DESCRIBE DETAIL from the log alone — no data file opened:
    ``{"version", "n_files", "n_rows", "n_bytes", "n_dvs",
    "rows_exact"}``.  ``n_rows`` sums the add-action footer stats;
    it is EXACT when every live file carries stats and no deletion
    vector is live (``rows_exact``) — the Delta metadata-only
    ``COUNT(*)`` contract; with live DVs it is an upper bound (base
    positions still count until compaction settles them)."""
    snap = snapshot(path, version)
    have, dvs = list(snap.adds().values()), snap.state.dv_added
    all_stats = all(s is not None for s in have) and bool(have)
    return {
        "version": snap.version,
        "n_files": len(have),
        "n_rows": sum(s["rows"] for s in have if s is not None),
        "n_bytes": sum(s.get("bytes", 0) for s in have if s is not None),
        "n_dvs": len(dvs),
        "rows_exact": bool(all_stats and not dvs),
    }


def _colmap(meta: dict | None) -> dict:
    """LOGICAL column name -> PHYSICAL parquet column name (Delta
    column mapping).  Empty = identity (the table never renamed or
    dropped a column)."""
    return dict((meta or {}).get("colmap") or {})


#: Hive's NULL partition-value directory token.
_HIVE_NULL = "__HIVE_DEFAULT_PARTITION__"


def _hive_pvals(rel_file: str, pcols) -> dict:
    """Partition values recovered from a file's ``key=value`` path
    segments, decoded (percent-escapes; Hive's NULL token -> None),
    keyed by partition-column name.  Columns with no segment in the
    path are absent from the result — a post-convert file under
    ``_data/`` materializes its partition columns in the bytes and
    recovers nothing from its name."""
    import urllib.parse

    names = {n for n, _t in pcols}
    out: dict = {}
    for seg in pathlib.PurePosixPath(rel_file).parts[:-1]:
        k, eq, v = seg.partition("=")
        if eq and k in names:
            v = urllib.parse.unquote(v)
            out[k] = None if v == _HIVE_NULL else v
    return out


def _pval_column(name: str, typ: str):
    """The partition value of ``name`` as a Column derived from the
    scanned file's own path — JVM-side (regexp over
    ``input_file_name``), whole-stage-codegen, no per-file plan
    branches however many partitions the table holds.  NULL for files
    whose path carries no ``name=value`` segment (post-convert
    ``_data/`` files materialize the column instead) and for Hive's
    NULL token."""
    import re as _re

    raw = F.nullif(
        F.regexp_extract(
            F.input_file_name(), "/" + _re.escape(name) + "=([^/]+)/", 1
        ),
        F.lit(""),
    )
    raw = F.when(raw == _HIVE_NULL, F.lit(None)).otherwise(
        F.when(raw.contains("%"), F.url_decode(raw)).otherwise(raw)
    )
    return raw.cast(typ)


def _to_logical(df: DataFrame, meta: dict | None) -> DataFrame:
    """Physical parquet columns -> the committed LOGICAL view: mapped
    columns renamed, physicals outside the schema dropped (DROP
    COLUMN leaves the bytes in old files; readers never see them),
    later-evolved columns aligned in as typed NULLs.  Row-address
    columns (``_dv_file``/``_dv_pos``), when present, ride along.

    Partition columns of a Hive-converted table (``meta["pcols"]``)
    are recovered from the file PATH when the bytes lack them:
    converted files keep their ``key=value`` layout (CONVERT moves no
    data), while any later rewrite/append materializes the column —
    ``coalesce`` prefers the materialized value, so both kinds of
    file coexist in one scan."""
    schema = (meta or {}).get("schema", [])
    if not schema:
        return df
    cm = _colmap(meta)
    pcols = dict((meta or {}).get("pcols") or [])
    present = set(df.columns)
    cols = []
    for n, t in schema:
        p = cm.get(n, n)
        if n in pcols:
            pv = _pval_column(n, t)
            if p in present:
                cols.append(F.coalesce(F.col(p), pv).alias(n))
            else:
                cols.append(pv.alias(n))
        elif p in present:
            cols.append(F.col(p).alias(n))
        else:
            cols.append(F.lit(None).cast(t).alias(n))
    for extra in ("_dv_file", "_dv_pos"):
        if extra in present:
            cols.append(F.col(extra))
    return df.select(*cols)


def _to_physical(df: DataFrame, meta: dict | None) -> DataFrame:
    """Logical frame -> physical column names for a staged write.
    Identity unless the table is column-mapped."""
    cm = _colmap(meta)
    if not cm:
        return df
    return df.select(*[F.col(c).alias(cm.get(c, c)) for c in df.columns])


def _with_addresses(
    spark: SparkSession,
    root: pathlib.Path,
    files,
    meta: dict | None = None,
) -> DataFrame:
    """Address-keyed LOGICAL scan of table-relative ``files``.  Pass
    the table ``meta`` whenever the scan may span files with DIFFERENT
    schemas: on an evolved table, plain parquet inference takes ONE
    footer (split-size order — effectively arbitrary under UUID
    names), so a pre-evolution file can win and silently drop the
    evolved column from the scan — fatal for a rewrite that then
    REPLACES the files (review r10b finding 1).  With meta, the read
    footer-merges, any column still missing is aligned in as a typed
    NULL from the committed schema, and column mapping resolves
    physical names to the logical view."""
    from .mor import with_row_addresses

    reader = spark.read
    evolved = bool(meta and meta.get("evolved"))
    if evolved:
        reader = reader.option("mergeSchema", "true")
    df = with_row_addresses(
        reader.parquet(*[str(root / f) for f in sorted(files)])
    )
    return _to_logical(df, meta)


def read_table(
    spark: SparkSession,
    path: str,
    version: int | None = None,
    predicate=None,
    timestamp: float | None = None,
) -> DataFrame:
    """Snapshot read: exactly the files the log says are live at
    ``version``, minus the committed deletion vectors — never a
    directory listing, so staged/orphaned files and uncommitted DVs
    are invisible and the read is atomic w.r.t. concurrent commits.

    With ``predicate`` — a conjunctive list of ``(column, op, value)``
    triples (see :func:`prune_files`) — files whose add-action footer
    stats PROVE no match are never opened (Delta data skipping), and
    the full predicate still runs as a residual filter on the
    survivors, so the result is identical to filtering the whole
    table; only the I/O changes.  Pruning is sound under deletion
    vectors (a DV only shrinks a file's row set — stats stay a valid
    superset bound).

    ``timestamp`` (epoch seconds) is TIMESTAMP AS OF: the snapshot is
    the one :func:`version_at_timestamp` resolves — mutually
    exclusive with ``version``."""
    if timestamp is not None:
        if version is not None:
            raise ValueError("pass version OR timestamp, not both")
        version = version_at_timestamp(path, timestamp)
    conj = list(predicate) if predicate is not None else []
    from . import lakehouse_checkpoint as _ckpt  # lazy: circular import

    # one planner over one snapshot; footer stats are keyed by PHYSICAL
    # column names and plan_scan translates the logical predicate
    # columns itself (the residual filter below runs on the logical
    # frame untranslated)
    snap = snapshot(path, version)
    scan, total = _ckpt.plan_scan(snap, conj)
    v, dvs, meta = snap.version, sorted(snap.state.dv_added), snap.state.meta
    if v == 0:
        raise ValueError(f"no commits at {path}")
    if not total:
        raise ValueError(f"table at {path} is empty at version {v}")
    root = pathlib.Path(path)
    if not scan:
        # every file pruned: a correct empty frame of the committed
        # schema (never an empty parquet() call, which would throw)
        fields = meta.get("schema", [])
        return spark.range(0).select(
            *[F.lit(None).cast(t).alias(n) for n, t in fields]
        )
    reader = spark.read
    if meta.get("evolved"):
        # schema evolved: old files lack the new columns — footer-merge
        # so they surface as typed NULLs (paid only on evolved tables)
        reader = reader.option("mergeSchema", "true")
    if not dvs:
        df = _to_logical(reader.parquet(*[str(root / f) for f in scan]), meta)
        return df.filter(_predicate_column(conj)) if conj else df
    from .mor import with_row_addresses

    df = _to_logical(
        with_row_addresses(reader.parquet(*[str(root / f) for f in scan])),
        meta,
    )
    df = _dv_subtract(spark, root, dvs, df).drop("_dv_file", "_dv_pos")
    return df.filter(_predicate_column(conj)) if conj else df


def read_changes(
    spark: SparkSession, path: str, v_from: int, v_to: int
) -> DataFrame:
    """CHANGE DATA FEED derived from the COMMIT LOG itself — Delta's
    ``readChangeFeed`` over the transactional table (VERDICT r10 item
    1; the keyed snapshot-diff sibling is :func:`merge.read_changes`): for
    every commit v in (``v_from``, ``v_to``] emit full-row change
    records tagged ``_change_type`` ∈ {``insert``, ``delete``,
    ``update_preimage``, ``update_postimage``} and
    ``_commit_version`` = v, derived from the commit's own actions:

    - ``append`` adds -> their rows as ``insert`` (no recorded change
      data needed — Delta's add-only derivation);
    - MOR delete ``add_dv`` -> the sidecar's positions joined back to
      the (immutable) target files = the exact deleted row images;
    - MOR update -> the same join for ``update_preimage`` plus the
      logged reinsert file's rows as ``update_postimage``;
    - copy-on-write delete -> the change-data sidecars the writer
      recorded under CDF (:meth:`Transaction.enable_cdf`); a CoW
      rewrite WITHOUT recorded change data raises (its add/remove
      actions alone cannot say which rows changed — Delta errors
      identically for pre-enablement commits);
    - ``compact`` / metadata commits -> nothing (the dataChange=false
      analog: the logical row set is unchanged);
    - ``restore`` -> re-added files' rows as ``insert``, removed
      files' still-live rows as ``delete`` (file-level diff).

    Read cost is DELTA-SIZED by construction: only files an in-range
    commit references are opened — never the table; at 100 TB a
    3-commit range reads KBs–MBs while the table holds TBs.  This is
    the incremental consumer's input (IVM refresh, streaming tail —
    ``q_streaming_lakehouse_source``); rows are aligned to the
    committed schema as of ``v_to`` (typed NULLs for later-evolved
    columns)."""
    if not (0 <= v_from < v_to <= latest_commit(path)):
        raise ValueError(
            f"invalid change range ({v_from}, {v_to}] at {path}: "
            f"latest commit is {latest_commit(path)}"
        )
    root = pathlib.Path(path)
    meta = snapshot(path, v_to).state.meta
    cols = [n for n, _t in meta.get("schema", [])]
    if not cols:
        raise ValueError(f"table at {path} has no committed schema")

    def rows_of(files, with_addr=False) -> DataFrame:
        df = _with_addresses(spark, root, sorted(files), meta)
        if not with_addr:
            df = df.drop("_dv_file", "_dv_pos")
        return df

    def tag(df: DataFrame, change: str, v: int) -> DataFrame:
        return df.select(
            *cols,
            F.lit(change).alias("_change_type"),
            F.lit(v).cast("int").alias("_commit_version"),
        )

    def dv_preimages(spark, dv_files, targets, prior_dvs=()) -> DataFrame:
        # distinct within the commit (a transaction may stage several
        # composing MOR deletes whose positions overlap), and minus
        # the positions ALREADY dead at v-1: two concurrent
        # overlapping deletes both commit legally (position
        # subtraction is idempotent), but the feed must emit each
        # row's death ONCE or an IVM consumer double-subtracts
        # (review r11 finding 5).  Sidecars are KBs — broadcast-scale.
        dv = (
            spark.read.parquet(*[str(root / f) for f in sorted(dv_files)])
            .select("_dv_file", "_dv_pos")
            .distinct()
        )
        if prior_dvs:
            prior = spark.read.parquet(
                *[str(root / f) for f in sorted(prior_dvs)]
            ).select("_dv_file", "_dv_pos")
            dv = dv.subtract(prior)
        return rows_of(targets, with_addr=True).join(
            F.broadcast(dv), ["_dv_file", "_dv_pos"], "left_semi"
        )

    pieces: list[DataFrame] = []
    for v in range(v_from + 1, v_to + 1):
        try:
            c = _read_commit(path, v)
        except FileNotFoundError:
            raise ValueError(
                f"change range ({v_from}, {v_to}] at {path} reaches "
                f"version {v}, which was expired by expire_versions — "
                f"an incremental consumer that fell behind the retention "
                f"window must re-bootstrap from a snapshot"
            ) from None
        acts = c["actions"]
        roleless = [
            a for a in acts
            if a["op"] in ("add", "add_dv") and "role" not in a
        ]
        if roleless:
            raise ValueError(
                f"commit {v} at {path} predates change-feed support "
                f"(untagged {roleless[0]['op']} action) — start the "
                f"feed after it, or diff snapshots"
            )
        by_role: dict[tuple, list] = {}
        for a in acts:
            by_role.setdefault((a["op"], a.get("role")), []).append(a)
        if ("add", "rewrite") in by_role and not any(
            a["op"] == "add_cdc" for a in acts
        ):
            raise ValueError(
                f"commit {v} at {path} is a copy-on-write rewrite with "
                f"no recorded change data — CDF was not enabled when it "
                f"landed (Transaction.enable_cdf); start the feed after "
                f"it, or diff snapshots"
            )
        adds = lambda role: [  # noqa: E731
            a["file"] for a in by_role.get(("add", role), [])
        ]
        if c.get("operation") in ("clone", "deep_clone"):
            # the clone's v1 IS the source's logical snapshot: cloned
            # files' rows minus the cloned deletion vectors
            side = rows_of(adds("clone"), with_addr=True)
            cdvs = snapshot(path, v).state.dv_added
            if cdvs:
                dv = spark.read.parquet(
                    *[str(root / f) for f in sorted(cdvs)]
                ).select("_dv_file", "_dv_pos")
                side = side.join(
                    F.broadcast(dv), ["_dv_file", "_dv_pos"], "left_anti"
                )
            pieces.append(tag(side, "insert", v))
            continue
        ins = adds("append") + adds("convert")  # CONVERT's files ARE
        if ins:                                 # the initial inserts
            pieces.append(tag(rows_of(ins), "insert", v))
        for a in by_role.get(("add_cdc", None), []):
            pieces.append(
                tag(rows_of([a["file"]]), a["change"], v)
            )
        del_dvs = by_role.get(("add_dv", "delete"), [])
        if del_dvs:
            targets = sorted(
                {t for a in del_dvs for t in a.get("targets", ())}
            )
            prior_dvs = snapshot(path, v - 1).state.dv_added
            pieces.append(
                tag(
                    dv_preimages(
                        spark,
                        [a["file"] for a in del_dvs],
                        targets,
                        prior_dvs,
                    ),
                    "delete",
                    v,
                )
            )
        upd_dvs = by_role.get(("add_dv", "update"), [])
        if upd_dvs:
            targets = sorted(
                {t for a in upd_dvs for t in a.get("targets", ())}
            )
            pieces.append(
                tag(
                    dv_preimages(spark, [a["file"] for a in upd_dvs], targets),
                    "update_preimage",
                    v,
                )
            )
            pieces.append(tag(rows_of(adds("update")), "update_postimage", v))
        if c.get("operation") == "restore":
            # row-level diff of logical(v-1) -> logical(v), in three
            # delta-sized parts: (a) files only live AFTER the restore
            # -> their rows (minus the after-side DVs) are inserts;
            # (b) files only live BEFORE -> their rows (minus the
            # before-side DVs) are deletes; (c) files live on BOTH
            # sides where the DV SET changed -> positions un-hidden by
            # a dropped DV are inserts, positions newly hidden by a
            # re-added DV are deletes.  Only changed files and
            # DV-targeted files are ever read — never the table.
            prev, new = snapshot(path, v - 1), snapshot(path, v)
            plive, pdvs = set(prev.adds()), prev.state.dv_added
            nlive, ndvs = set(new.adds()), new.state.dv_added
            for files, dvs_side, change in (
                (sorted(nlive - plive), ndvs, "insert"),
                (sorted(plive - nlive), pdvs, "delete"),
            ):
                if not files:
                    continue
                side = rows_of(files, with_addr=True)
                if dvs_side:
                    dv = spark.read.parquet(
                        *[str(root / f) for f in sorted(dvs_side)]
                    ).select("_dv_file", "_dv_pos")
                    side = side.join(
                        F.broadcast(dv), ["_dv_file", "_dv_pos"], "left_anti"
                    )
                pieces.append(tag(side, change, v))
            common = plive & nlive
            if common and pdvs != ndvs:
                by_name = {
                    pathlib.PurePosixPath(f).name: f for f in common
                }

                def dv_positions(dv_files) -> DataFrame | None:
                    if not dv_files:
                        return None
                    return (
                        spark.read.parquet(
                            *[str(root / f) for f in sorted(dv_files)]
                        )
                        .select("_dv_file", "_dv_pos")
                        .distinct()
                    )

                pdv_df = dv_positions(pdvs)
                ndv_df = dv_positions(ndvs)

                def minus(a: DataFrame | None, b: DataFrame | None):
                    if a is None:
                        return None
                    return a if b is None else a.subtract(b)

                for delta, change in (
                    # positions a dropped DV un-hides -> inserts
                    (minus(pdv_df, ndv_df), "insert"),
                    # positions a re-added DV newly hides -> deletes
                    (minus(ndv_df, pdv_df), "delete"),
                ):
                    if delta is None:
                        continue
                    hit_files = sorted(
                        by_name[r._dv_file]
                        for r in delta.select("_dv_file").distinct().collect()
                        if r._dv_file in by_name
                    )  # bounded by file count
                    if not hit_files:
                        continue
                    rows = rows_of(hit_files, with_addr=True).join(
                        F.broadcast(delta), ["_dv_file", "_dv_pos"],
                        "left_semi",
                    )
                    pieces.append(tag(rows, change, v))
    if not pieces:
        # a range of pure compaction/metadata commits: an EMPTY feed
        # with the right schema, not an error
        empty = spark.range(0).select(
            *[
                F.lit(None).cast(t).alias(n)
                for n, t in meta.get("schema", [])
            ],
            F.lit(None).cast("string").alias("_change_type"),
            F.lit(None).cast("int").alias("_commit_version"),
        )
        return empty
    out = pieces[0]
    for p in pieces[1:]:
        out = out.unionByName(p)
    return out


def restore_table(spark: SparkSession, path: str, version: int) -> int:
    """RESTORE TABLE ... TO VERSION ``version`` (Delta RESTORE): ONE
    new commit whose actions reset the live file / deletion-vector /
    metadata state to the target version's — metadata-only, no data
    movement (the historical files still exist; vacuum retains every
    referenced file), and history is PRESERVED: the restore is itself
    a version, so time travel to the pre-restore state still works.
    Goes through :class:`Transaction`, so it serializes with
    concurrent writers (it reads and rewrites the whole live set —
    any concurrent commit conflicts).  Returns the new version."""
    t = Transaction(path)
    cur = {
        "live": set(t._live),
        "dvs": set(t._dvs),
        "meta": dict(t._meta),
    }
    tgt = snapshot(path, version)
    tgt_stats, tgt_dvs, tgt_meta = tgt.adds(), tgt.state.dv_added, tgt.state.meta
    tgt_live = set(tgt_stats)
    if not tgt_live:
        raise ValueError(f"cannot restore {path} to empty version {version}")
    t._ops.append("restore")
    for f in sorted(cur["live"] - tgt_live):
        t.actions.append({"op": "remove", "file": f})
    for f in sorted(tgt_live - cur["live"]):
        t.actions.append(
            {"op": "add", "file": f, "role": "restore",
             "stats": tgt_stats.get(f)}
        )
    for f in sorted(cur["dvs"] - tgt_dvs):
        t.actions.append({"op": "remove_dv", "file": f})
    root = pathlib.Path(path)
    by_name = {
        pathlib.PurePosixPath(f).name: f for f in tgt_live | cur["live"]
    }
    for f in sorted(tgt_dvs - cur["dvs"]):
        # recover the re-added vector's TARGETS from its own content
        # (basenames -> live paths): targets=[] would blind the
        # DV-vs-remove conflict check and let a concurrent rewrite
        # resurrect the vector's deletes (review r11 finding 1)
        targets = sorted(
            by_name[r._dv_file]
            for r in spark.read.parquet(str(root / f))
            .select("_dv_file")
            .distinct()
            .collect()
            if r._dv_file in by_name
        )  # sidecars are KBs; bounded by file count
        t.actions.append(
            {"op": "add_dv", "file": f, "role": "restore",
             "targets": targets}
        )
    if tgt_meta != cur["meta"]:
        t.actions.append({"op": "set_meta", "meta": tgt_meta})
    if not t.actions:
        raise ValueError(
            f"restore to version {version} is a no-op: table state "
            f"already equals it"
        )
    # the restore depends on the WHOLE current state: any concurrent
    # change invalidates it
    t.read_files = cur["live"] | cur["dvs"]
    return t.commit()


def clone_table(src_path: str, dst_path: str) -> int:
    """SHALLOW CLONE (Delta ``CREATE TABLE ... SHALLOW CLONE``): a NEW
    table whose first commit references the source's CURRENT live
    data/DV files by ABSOLUTE path — one metadata commit, ZERO bytes
    of data copied, however many terabytes the source holds.  The
    clone then diverges freely: its writes (appends, deletes, merges,
    compactions) land under its OWN root — a copy-on-write fork, so
    the source never observes them and vice versa (the source's
    history continues independently; the clone pinned one snapshot).

    Dev/test-against-prod and experiment-branching are the 100 TB use
    cases: forking the table costs O(files) JSON, not a data job.

    Safety: the clone's validity rests on the source's referenced
    files staying put — :func:`vacuum_orphans` never removes a file a
    commit referenced, so clones survive source vacuums; but
    :func:`expire_versions` ON THE SOURCE can delete files the clone
    pinned (the source's log cannot see the clone's references) — the
    same caveat Delta documents for shallow clones.  Expiring the
    CLONE never deletes source files (absolute references outside the
    clone's root are skipped).  Returns the clone's version (1)."""
    src = snapshot(src_path)
    src_stats, dvs, meta = src.adds(), src.state.dv_added, src.state.meta
    live = set(src_stats)
    if not live:
        raise ValueError(f"cannot clone empty table at {src_path}")
    src_root = pathlib.Path(src_path).resolve()
    t = Transaction(dst_path)
    if t.read_version != 0:
        raise ValueError(f"clone destination {dst_path} already exists")
    t._ops.append("clone")
    for f in sorted(live):
        # absolute reference: pathlib's `root / "/abs"` yields the
        # absolute path, so every reader resolves it unchanged
        t.actions.append(
            {"op": "add", "file": str(src_root / f), "role": "clone",
             "stats": src_stats.get(f)}
        )
    for f in sorted(dvs):
        t.actions.append(
            {
                "op": "add_dv",
                "file": str(src_root / f),
                "targets": [],
                "role": "clone",
            }
        )
    if meta:
        t.actions.append({"op": "set_meta", "meta": meta})
    return t.commit()


def clone_table_deep(
    spark: SparkSession, src_path: str, dst_path: str
) -> int:
    """DEEP CLONE (Delta ``CREATE TABLE ... DEEP CLONE``): a NEW table
    holding a physical COPY of the source's current snapshot — data
    files and DV sidecars copied byte-for-byte (relative layout
    preserved, so a converted table's ``key=value`` partition paths
    keep recovering), footer stats carried over (no re-derivation),
    table metadata (schema, constraints, column mapping, partition
    spec) copied verbatim, and the COPY INTO skip ledger carried so
    re-running the source's ingestion against the clone skips too.

    Unlike SHALLOW CLONE the result is self-contained: expiring or
    vacuuming the SOURCE can never invalidate it.  Unlike CTAS there
    is no decode/shuffle/re-encode — the copy is I/O only, runs
    DISTRIBUTED past the staging threshold (one task per file), and
    preserves the source's file layout and stats exactly.

    Change-feed posture: the clone's v1 is its initial snapshot
    (``operation: deep_clone``) — :func:`read_changes` derives it as
    inserts minus the cloned DVs, like a shallow clone's v1; the
    streaming source refuses it the same way (re-bootstrap from a
    snapshot).  Returns the clone's version (1)."""
    import pyarrow.parquet as pq

    src = snapshot(src_path)
    src_stats, dvs, meta = src.adds(), src.state.dv_added, src.state.meta
    live = set(src_stats)
    if not live:
        raise ValueError(f"cannot clone empty table at {src_path}")
    src_root = pathlib.Path(src_path).resolve()
    dst_root = pathlib.Path(dst_path)
    t = Transaction(dst_path)
    if t.read_version != 0:
        raise ValueError(f"clone destination {dst_path} already exists")
    # destination-relative name per source ref.  A source that is
    # itself a SHALLOW clone references files ABSOLUTELY (outside its
    # root) — deep-cloning it is the documented way to make it
    # durable; those land under the clone's own dirs KEEPING their
    # basename (row addresses and DV contents key by basename).
    dest_of: dict[str, str] = {}
    for f in sorted(live):
        if os.path.isabs(f):
            # keep any key=value segments: a converted table's
            # partition values live in the PATH, and readers recover
            # them from it (shallow-clone-of-converted sources)
            pp = pathlib.PurePosixPath(f)
            hive = [seg for seg in pp.parts[:-1] if "=" in seg]
            dest_of[f] = "/".join([_DATA_DIR, *hive, pp.name])
        else:
            dest_of[f] = f
    for f in sorted(dvs):
        dest_of[f] = (
            f"{_DV_DIR}/{pathlib.PurePosixPath(f).name}"
            if os.path.isabs(f) else f
        )
    pairs = sorted(dest_of.items())

    def _copy_one(pair) -> None:
        src_ref, dst_rel = pair
        src = src_root / src_ref  # absolute refs resolve unchanged
        dst = dst_root / dst_rel
        dst.parent.mkdir(parents=True, exist_ok=True)
        shutil.copy2(src, dst)

    if len(pairs) >= _STATS_DISTRIBUTED_MIN_FILES:
        sc = spark.sparkContext
        n = max(1, min(len(pairs), sc.defaultParallelism))
        sc.parallelize(pairs, n).foreach(_copy_one)
    else:
        for pair in pairs:
            _copy_one(pair)
    t._ops.append("deep_clone")
    for f in sorted(live):
        t.actions.append(
            {"op": "add", "file": dest_of[f], "role": "clone",
             "stats": src_stats.get(f)}
        )
    by_name = {
        pathlib.PurePosixPath(x).name: dest_of[x] for x in live
    }
    for f in sorted(dvs):
        # recover each vector's TARGETS from its own content, like
        # restore_table — targets=[] would blind the DV-vs-remove
        # conflict check
        targets = sorted(
            {
                by_name[b]
                for b in set(
                    pq.read_table(
                        str(src_root / f), columns=["_dv_file"]
                    ).column("_dv_file").to_pylist()
                )
                if b in by_name
            }
        )
        t.actions.append(
            {"op": "add_dv", "file": dest_of[f], "targets": targets,
             "role": "clone"}
        )
    if meta:
        t.actions.append({"op": "set_meta", "meta": meta})
    for src_file in sorted(copy_sources(src_path)):
        t.actions.append(
            {"op": "copy_source", "file": src_file, "etag": "cloned"}
        )
    return t.commit()


def describe_history(spark: SparkSession, path: str) -> DataFrame:
    """DESCRIBE HISTORY: the commit log as a DataFrame — (version,
    operation, n_adds, n_removes, n_dv_adds, n_meta, txn_app,
    txn_version, read_version), newest first.  Driver-side JSON over
    O(commits) metadata (KBs against a 100 TB table), surfaced as a
    DataFrame so the audit trail joins/filters like any table."""
    rows = []
    for v in _commit_versions(path):
        c = _read_commit(path, v)
        ops = [a["op"] for a in c["actions"]]
        txn = c.get("txn") or {}
        rows.append(
            (
                v,
                c.get("operation", "unknown"),
                ops.count("add"),
                ops.count("remove"),
                ops.count("add_dv"),
                ops.count("set_meta"),
                txn.get("app"),
                txn.get("version"),
                c.get("read_version"),
                json.dumps(c["metrics"], sort_keys=True)
                if c.get("metrics")
                else None,
            )
        )
    if not rows:
        raise ValueError(f"no commits at {path}")
    return spark.createDataFrame(
        rows,
        "version int, operation string, n_adds int, n_removes int, "
        "n_dv_adds int, n_meta int, txn_app string, txn_version long, "
        "read_version int, metrics string",
    ).orderBy(F.desc("version"))


class Transaction:
    """One optimistic writer: stage work against the snapshot captured
    at construction, then :meth:`commit`.

    The staged actions record both the file-set delta (add/remove) and
    the READ set (files whose contents this transaction's rewrites
    were derived from) — the conflict-detection input."""

    def __init__(
        self,
        path: str,
        txn_app: str | None = None,
        txn_version: int | None = None,
        commit_ts: float | None = None,
    ):
        """``txn_app``/``txn_version`` declare an IDEMPOTENT writer
        identity (Delta's txnAppId/txnVersion): if a commit with the
        same app and a >= version already landed, :meth:`commit`
        SKIPS (returns None) instead of double-applying — the
        exactly-once contract a restarting foreachBatch stream needs
        when its checkpoint acks lag its sink commits.

        ``commit_ts`` overrides the IN-COMMIT TIMESTAMP (epoch
        seconds) stamped into the commit body — Delta's
        inCommitTimestamp: the log, not the filesystem, is the clock
        of record for TIMESTAMP AS OF time travel
        (:func:`version_at_timestamp`), so mtime-mangling copies and
        clock-skewed writers can't reorder history.  Defaults to wall
        clock; either way :meth:`commit` clamps it to strictly after
        the previous commit's timestamp (monotonic by construction)."""
        self.path = str(path)
        snap = snapshot(path)
        self.read_version, txns = snap.version, snap.state.txns
        self._meta = snap.state.meta
        self._stats = snap.adds()
        self._live = sorted(self._stats)
        self._dvs = sorted(snap.state.dv_added)
        self.actions: list[dict] = []
        self.read_files: set[str] = set()
        #: set by whole-table-read operations (WHEN NOT MATCHED BY
        #: SOURCE): the staged result is invalidated by ANY concurrent
        #: data change, including pure appends the read_files overlap
        #: check cannot see
        self.read_whole_table = False
        self._committed = False
        self._rewrote = False
        self._ops: list[str] = []  # staged op names -> commitInfo.operation
        if (txn_app is None) != (txn_version is None):
            raise ValueError("txn_app and txn_version come together")
        self.txn_app = txn_app
        self.txn_version = txn_version
        self.commit_ts = commit_ts
        #: operation metrics accumulated by staging ops and written
        #: into the commit body (Delta's operationMetrics) — every
        #: number is a byproduct of work already done (staged-file
        #: stats, hit counts), never an extra pass
        self.metrics: dict = {}
        # snapshot-carried idempotence high-water: commit() folds in
        # only the commits AFTER read_version instead of replaying the
        # whole log per attempt (review r10 finding 8)
        self._txn_highwater = (
            txns.get(txn_app, -1) if txn_app is not None else -1
        )

    def _require_first_rewrite(self, op: str) -> None:
        """Staging ops that REWRITE (delete_where, compact) derive
        from the begin snapshot and know nothing about files this same
        transaction already staged — a second rewrite would stage a
        second replacement for the same source files and the replay
        would keep BOTH (duplicated survivors, resurrected deletes —
        review r10 finding 2).  One rewrite per transaction; appends
        compose freely and MOR deletes compose with everything
        (position subtraction is idempotent)."""
        if self._rewrote:
            raise ValueError(
                f"cannot stage {op}: this transaction already staged a "
                f"rewrite — one rewriting operation per transaction "
                f"(commit and start a new one)"
            )
        self._rewrote = True

    def _snapshot_frame(self, spark: SparkSession, files=None) -> DataFrame:
        """The table as of THIS transaction's snapshot, with row
        addresses: live files minus committed DVs.  Every rewrite
        derives from this — a copy-on-write rewrite that read the raw
        files would resurrect DV-deleted rows.  ``files`` restricts
        the scan to a subset of the live set (stats-pruned
        candidates — the caller must have PROVEN the excluded files
        irrelevant, e.g. via :func:`_stats_admit`).

        The subtracted DV files enter the READ SET: an operation that
        derived its row view through a vector is invalidated by a
        concurrent commit that REMOVES that vector (a restore dropping
        a DV un-hides rows this operation never saw — neither serial
        order produces the combined state; review r11 finding 2)."""
        root = pathlib.Path(self.path)
        scan = self._live if files is None else sorted(
            set(files) & set(self._live)
        )
        df = _with_addresses(spark, root, scan, self._meta)
        if self._dvs:
            self.read_files.update(self._dvs)
            df = _dv_subtract(spark, root, self._dvs, df)
        return df

    # -- staging operations -------------------------------------------

    def _effective_meta(self) -> dict:
        """Snapshot metadata overlaid with this transaction's own
        staged ``set_meta`` actions (a constraint added in this txn
        applies to this txn's later appends)."""
        meta = dict(self._meta)
        for a in self.actions:
            if a["op"] == "set_meta":
                meta.update(a["meta"])
        return meta

    def set_check_constraint(self, spark: SparkSession, name: str, sql_expr: str) -> None:
        """ADD a CHECK constraint (Delta ``ALTER TABLE ... ADD
        CONSTRAINT``): EXISTING rows are validated first — one
        violation-count pass over the snapshot — and every later
        append (this transaction's and all future ones) is validated
        against it.  SQL CHECK semantics: a row violates only when
        the expression is FALSE; NULL passes (express NOT NULL as
        ``col IS NOT NULL``).  Metadata changes conflict with every
        concurrent commit (Delta's ConcurrentMetadataUpdate): the
        constraint's full-table validation is only sound against the
        snapshot it scanned.

        The EXPRESSION itself is always validated — on an empty table
        it is resolved against a zero-row frame of the committed
        schema, so a typo'd column name fails HERE with a clear error
        instead of bricking every later append (review r10b; and
        :meth:`drop_check_constraint` is the escape hatch either
        way)."""
        meta = self._effective_meta()
        if self._live:
            frame = self._snapshot_frame(spark)
        elif meta.get("schema"):
            # zero-row typed frame from the committed schema — the
            # spark.range(0) idiom (an empty createDataFrame would
            # fork a 32-worker empty-RDD job)
            frame = spark.range(0).select(
                *[
                    F.lit(None).cast(t).alias(n)
                    for n, t in meta["schema"]
                ]
            )
        else:
            frame = None
        if frame is not None:
            try:
                bad = frame.filter(
                    ~F.coalesce(F.expr(sql_expr), F.lit(True))
                ).count()
            except Exception as e:
                raise ValueError(
                    f"CHECK {name!r} expression {sql_expr!r} does not "
                    f"resolve against the table schema: {e}"
                ) from None
            if bad:
                raise ConstraintViolation(
                    f"cannot add CHECK {name!r} ({sql_expr}): {bad} "
                    f"existing row(s) violate it"
                )
        cons = dict(meta.get("constraints", {}))
        cons[name] = sql_expr
        self._ops.append("add_constraint")
        self.actions.append({"op": "set_meta", "meta": {"constraints": cons}})

    def drop_check_constraint(self, name: str) -> None:
        """DROP CONSTRAINT — a metadata action like ADD (serializes
        with everything).  Raises KeyError for an unknown name."""
        cons = dict(self._effective_meta().get("constraints", {}))
        del cons[name]
        self._ops.append("drop_constraint")
        self.actions.append({"op": "set_meta", "meta": {"constraints": cons}})

    def _guard_constraint_reference(self, meta: dict, col: str, op: str):
        """CHECK constraint expressions are stored as SQL text against
        LOGICAL names: renaming or dropping a referenced column would
        silently break every later append's validation, so it is
        refused up front (Delta blocks the same way).  Word-boundary
        text match — conservative: a false positive refuses a safe
        rename, never the other way around."""
        import re

        for cname, expr in sorted(meta.get("constraints", {}).items()):
            if re.search(rf"\b{re.escape(col)}\b", expr):
                raise ValueError(
                    f"cannot {op} column {col!r}: CHECK constraint "
                    f"{cname!r} ({expr}) references it — drop the "
                    f"constraint first"
                )
        for gname, spec in sorted(meta.get("generated", {}).items()):
            if col == gname or re.search(
                rf"\b{re.escape(col)}\b", spec["expr"]
            ):
                raise ValueError(
                    f"cannot {op} column {col!r}: generated column "
                    f"{gname!r} (AS {spec['expr']}) depends on it"
                )

    def rename_column(self, old: str, new: str) -> None:
        """ALTER TABLE RENAME COLUMN — METADATA-ONLY via column
        mapping (Delta's columnMapping.mode=name): no data file is
        touched, the physical parquet name stays what it always was,
        and the committed schema plus the logical->physical colmap
        change in one metadata action.  Readers resolve the map on
        every scan; writers translate staged frames back to physical
        names; footer stats keep their physical keys and predicate
        pruning translates before consulting them.  At 100 TB a
        rename is a KB of JSON instead of a table rewrite.

        Enabling mapping is one-way: from the first rename/drop the
        colmap is materialized for EVERY column and later-added
        columns get opaque physical names (a new logical name may
        not collide with dead physical bytes in old files).
        Metadata actions serialize with every concurrent commit."""
        meta = self._effective_meta()
        schema = meta.get("schema", [])
        names = [n for n, _t in schema]
        if old not in names:
            raise ValueError(f"no column {old!r} in the table schema")
        if new in names:
            raise ValueError(f"column {new!r} already exists")
        self._guard_constraint_reference(meta, old, "rename")
        full = {n: _colmap(meta).get(n, n) for n in names}
        full[new] = full.pop(old)
        new_meta = {
            "schema": [(new if n == old else n, t) for n, t in schema],
            "colmap": full,
            "mapped": True,
        }
        idn = meta.get("identity", {})
        if old in idn:
            # identity specs follow the logical name
            new_meta["identity"] = {
                (new if k == old else k): v for k, v in idn.items()
            }
        self._ops.append("rename_column")
        self.actions.append({"op": "set_meta", "meta": new_meta})

    def add_column(self, name: str, dtype: str) -> None:
        """ALTER TABLE ADD COLUMN — METADATA-ONLY widening (schema
        evolution without data): existing files simply lack the
        column and every read aligns it in as a typed NULL
        (:func:`_to_logical` / the registered source's Arrow
        alignment — the same path a data-carrying evolution takes);
        appends from this commit on must carry it.  On a MAPPED table
        the new logical name binds to a fresh opaque physical name,
        so it can never collide with dead physical bytes in old
        files.  A KB of JSON at any table size."""
        meta = self._effective_meta()
        schema = meta.get("schema", [])
        if not schema:
            raise ValueError(
                "add_column needs a committed schema — append data "
                "first (the first append fixes the table schema)"
            )
        names = [n for n, _t in schema]
        if name in names:
            raise ValueError(f"column {name!r} already exists")
        spark = SparkSession.getActiveSession()
        if spark is not None:
            # a typo'd type must fail HERE, not on the next read
            from pyspark.sql.types import _parse_datatype_string

            _parse_datatype_string(dtype)
        new_meta = {
            "schema": [(n, t) for n, t in schema] + [(name, dtype)],
            "evolved": True,
        }
        cm = _colmap(meta)
        if cm:
            full = {n: cm.get(n, n) for n in names}
            full[name] = f"col-{uuid.uuid4().hex[:12]}"
            new_meta["colmap"] = full
            new_meta["mapped"] = True
        self._ops.append("add_column")
        self.actions.append({"op": "set_meta", "meta": new_meta})

    def drop_column(self, name: str) -> None:
        """ALTER TABLE DROP COLUMN — METADATA-ONLY (Delta column
        mapping): the bytes stay in existing files but leave every
        logical view immediately; later rewrites (compaction, delete)
        physically shed them file by file, and appends no longer
        carry the column.  Same mapping rules and constraint guard as
        :meth:`rename_column`."""
        meta = self._effective_meta()
        schema = meta.get("schema", [])
        names = [n for n, _t in schema]
        if name not in names:
            raise ValueError(f"no column {name!r} in the table schema")
        if len(names) == 1:
            raise ValueError("cannot drop the table's only column")
        self._guard_constraint_reference(meta, name, "drop")
        full = {n: _colmap(meta).get(n, n) for n in names}
        full.pop(name)
        new_meta = {
            "schema": [(n, t) for n, t in schema if n != name],
            "colmap": full,
            "mapped": True,
        }
        idn = meta.get("identity", {})
        if name in idn:
            # dropping an identity column retires its spec with it
            new_meta["identity"] = {
                k: v for k, v in idn.items() if k != name
            }
        self._ops.append("drop_column")
        self.actions.append({"op": "set_meta", "meta": new_meta})

    def set_generated_column(
        self, spark: SparkSession, name: str, sql_expr: str, dtype: str
    ) -> None:
        """GENERATED ALWAYS AS (``sql_expr``) — Delta generated
        columns, the engine-maintained derived column (the canonical
        use: a ``day`` column generated from the event timestamp that
        the footer stats then make SKIPPABLE — partition-pruning
        semantics without a partition layout).  From this commit on,
        every append that OMITS the column gets it computed, and every
        append that PROVIDES it is validated cell-by-cell against the
        expression (one null-safe-equality count pass — a wrong
        provided value rejects the whole batch, Delta's contract);
        MOR-update and merge postimages are validated the same way.

        Declared on an EMPTY table the column materializes with the
        first append (a typo'd expression fails there — nothing else
        exists to resolve it against); on a table whose schema already
        HAS the column, every existing row is validated first (one
        snapshot pass, like ADD CONSTRAINT).  Declaring a NEW column
        on a non-empty table is refused — old rows could never satisfy
        the generation invariant (Delta refuses identically).
        Metadata actions serialize with every concurrent commit."""
        import re

        meta = self._effective_meta()
        gen = dict(meta.get("generated", {}))
        if name in gen:
            raise ValueError(f"column {name!r} is already generated")
        if re.search(rf"\b{re.escape(name)}\b", sql_expr):
            raise ValueError(
                f"generated column {name!r} may not reference itself "
                f"in ({sql_expr})"
            )
        if name in meta.get("identity", {}):
            raise ValueError(
                f"column {name!r} is an identity column — it cannot "
                f"also be generated from an expression"
            )
        schema = meta.get("schema", [])
        names = [n for n, _t in schema]
        spec = {"expr": sql_expr, "type": dtype}
        if schema and name not in names:
            raise ValueError(
                f"cannot declare generated column {name!r} on a table "
                f"that already has data without it — existing rows "
                f"could never satisfy the generation invariant"
            )
        if schema and name in names and self._live:
            frame = self._snapshot_frame(spark).drop("_dv_file", "_dv_pos")
            bad = frame.filter(
                ~F.col(name).eqNullSafe(F.expr(sql_expr).cast(dtype))
            ).count()
            if bad:
                raise ConstraintViolation(
                    f"cannot declare {name!r} generated as "
                    f"({sql_expr}): {bad} existing row(s) don't match"
                )
        self._ops.append("set_generated")
        gen[name] = spec
        self.actions.append({"op": "set_meta", "meta": {"generated": gen}})

    def set_identity_column(
        self, name: str, start: int = 1, step: int = 1
    ) -> None:
        """GENERATED ALWAYS AS IDENTITY — the engine-assigned
        surrogate key (Delta identity columns): every later append
        MUST omit the column and receives unique values
        ``start + step·k`` with k strictly increasing ACROSS commits
        (everything in commit N+1 outranks everything in commit N).
        Values may have GAPS by contract — uniqueness and
        monotonicity are promised, density is not (Delta documents the
        same) — though this assignment is in fact DENSE per append:
        one P-row per-partition count aggregate yields exact prefix
        offsets, the within-partition index comes from
        ``monotonically_increasing_id``'s low 33 bits, and no global
        row-numbering shuffle or driver loop ever runs.  The
        watermark therefore advances by exactly the rows appended
        (ceiling ~2^63/step total rows, not appends).

        The high-water lives in table metadata and advances with each
        append's staged footer stats (no extra pass), so identity
        appends carry a METADATA action and therefore serialize with
        every concurrent commit (ConcurrentMetadataUpdate — the loser
        re-runs and re-stamps; Delta's identity high-watermark has
        the identical concurrency cost).  Declarable only while the
        table is EMPTY (existing rows can't be retro-stamped), and
        only with a non-zero step."""
        if step == 0:
            raise ValueError("identity step must be non-zero")
        meta = self._effective_meta()
        if meta.get("schema") or self._live:
            raise ValueError(
                "identity columns are declared before the first "
                "append — existing rows cannot be retro-stamped"
            )
        idn = dict(meta.get("identity", {}))
        if name in idn:
            raise ValueError(f"column {name!r} is already an identity")
        if name in meta.get("generated", {}):
            raise ValueError(
                f"column {name!r} is a generated column — it cannot "
                f"also be an identity"
            )
        idn[name] = {"start": int(start), "step": int(step), "high_k": -1}
        self._ops.append("set_identity")
        self.actions.append({"op": "set_meta", "meta": {"identity": idn}})

    def _validate_generated(
        self, df: DataFrame, gen: dict, provided: list, what: str
    ) -> None:
        """One null-safe-equality count pass over every PROVIDED
        generated column; any mismatch rejects the whole batch."""
        checks = [
            F.when(
                ~F.col(n).eqNullSafe(
                    F.expr(gen[n]["expr"]).cast(gen[n]["type"])
                ),
                F.lit(n),
            )
            for n in sorted(provided)
        ]
        if not checks:
            return
        bad = (
            df.select(
                F.coalesce(*checks, F.lit(None).cast("string")).alias("_g")
                if len(checks) > 1
                else checks[0].alias("_g")
            )
            .filter(F.col("_g").isNotNull())
            .groupBy("_g")
            .count()
            .collect()
        )
        if bad:
            detail = ", ".join(f"{r._g}: {r['count']}" for r in bad)
            raise ConstraintViolation(
                f"{what} rejected — generated-column mismatch: {detail}"
            )

    def append(self, df: DataFrame, evolve_schema: bool = False) -> int:
        """Stage an append: validate the batch against the table
        CONTRACT (committed schema + CHECK constraints), then write
        ``df`` distributed into a hidden staging dir and move the part
        files under ``data/`` with unique names (invisible until
        commit — no log entry references them yet).

        Schema enforcement (Delta's): existing columns must match by
        (name, type); a batch MISSING table columns is rejected; NEW
        columns are rejected unless ``evolve_schema=True``, which
        commits the widened schema in the same transaction and flags
        the table so readers footer-merge (``mergeSchema``) — old
        files simply lack the new column (typed NULLs).  CHECK
        constraints: one violation-count pass over the batch; any
        violation rejects the whole append (atomic — nothing staged).

        Never reads table DATA: appends carry an empty read set and
        never conflict (a concurrent metadata change conflicts with
        us instead, from its side).  Returns files staged."""
        meta = self._effective_meta()
        idn = meta.get("identity", {})
        if idn:
            for name in sorted(idn):
                if name in df.columns:
                    raise ValueError(
                        f"column {name!r} is GENERATED ALWAYS AS "
                        f"IDENTITY — the append may not supply it"
                    )
            # pin FIRST: partitioning and per-partition row order must
            # be identical for the count pass and the stamping pass
            # (monotonically_increasing_id is evaluation-dependent)
            df = df.localCheckpoint()
            # DENSE per-append assignment: one P-row count aggregate
            # gives exact per-partition prefix offsets, so the
            # watermark advances by exactly the rows appended — a raw
            # monotonically_increasing_id would burn ~P·2^33 of id
            # space per append (per-partition block size), hitting the
            # long ceiling within ~10^6 wide appends; this way the
            # ceiling is ~2^63/step total ROWS.  Within-partition index
            # = the id's low 33 bits (the documented block layout;
            # partitions must stay under 2^33 rows — Spark's own bound)
            pid = F.spark_partition_id()
            counts = {
                r.p: r.c
                for r in df.groupBy(pid.alias("p"))
                .agg(F.count(F.lit(1)).alias("c"))
                .collect()
            }  # one row per partition — bounded metadata
            offs: dict[int, int] = {}
            acc = 0
            for p_ in sorted(counts):
                offs[p_] = acc
                acc += counts[p_]
            off_map = F.create_map(
                *[
                    F.lit(x)
                    for kv in sorted(offs.items())
                    for x in kv
                ]
            )
            idx = F.monotonically_increasing_id().bitwiseAND(
                F.lit((1 << 33) - 1)
            )
            for name, spec in sorted(idn.items()):
                k0 = spec["high_k"] + 1
                df = df.withColumn(
                    name,
                    (
                        F.lit(int(spec["start"]))
                        + F.lit(int(spec["step"]))
                        * (
                            F.lit(int(k0))
                            + F.element_at(off_map, pid)
                            + idx
                        )
                    ).cast("long"),
                )
            df = df.localCheckpoint()
        gen = meta.get("generated", {})
        if gen:
            provided = [n for n in gen if n in df.columns]
            for n, spec in sorted(gen.items()):
                if n not in df.columns:
                    df = df.withColumn(
                        n, F.expr(spec["expr"]).cast(spec["type"])
                    )
            if provided:
                # pin before validating: the mismatch count and the
                # staged write must see the same rows
                df = df.localCheckpoint()
                self._validate_generated(df, gen, provided, "append")
        table_schema: list = meta.get("schema", [])
        batch = [(f.name, f.dataType.simpleString()) for f in df.schema.fields]
        if table_schema:
            table_types = dict((n, t) for n, t in table_schema)
            batch_types = dict(batch)
            missing = [n for n, _t in table_schema if n not in batch_types]
            if missing:
                raise SchemaMismatch(
                    f"append is missing table column(s) {missing}"
                )
            wrong = [
                (n, table_types[n], t)
                for n, t in batch
                if n in table_types and table_types[n] != t
            ]
            if wrong:
                raise SchemaMismatch(
                    f"append changes column type(s): "
                    + ", ".join(f"{n}: {a} -> {b}" for n, a, b in wrong)
                )
            new_cols = [(n, t) for n, t in batch if n not in table_types]
            if new_cols and not evolve_schema:
                raise SchemaMismatch(
                    f"append carries new column(s) "
                    f"{[n for n, _t in new_cols]} — pass "
                    f"evolve_schema=True to widen the table schema"
                )
            if new_cols:
                new_meta = {
                    "schema": table_schema + new_cols,
                    "evolved": True,
                }
                if meta.get("mapped"):
                    # under column mapping a new logical name may
                    # collide with a dropped/renamed column's physical
                    # bytes in old files — new columns get opaque
                    # physical names, the Delta column-mapping rule
                    cmap = _colmap(meta)
                    for n, _t in new_cols:
                        cmap[n] = f"c-{uuid.uuid4().hex[:12]}"
                    new_meta["colmap"] = cmap
                meta_actions = [{"op": "set_meta", "meta": new_meta}]
            else:
                meta_actions = []
        else:
            # first append fixes the table schema
            meta_actions = [{"op": "set_meta", "meta": {"schema": batch}}]
        if meta.get("constraints"):
            # pin the batch BEFORE validating: the violation count and
            # the staged write below are two separate evaluations of
            # ``df``, so a non-deterministic batch (rand(), sampling,
            # ties in a window) could pass validation yet persist rows
            # that violate the constraint (ADVICE r10).  localCheckpoint
            # materializes once; both passes read the pinned rows.
            df = df.localCheckpoint()
            self._check_constraints(df, meta, "append")
        # stage ONLY after every validation passed: a rejected append
        # must leave no schema action behind either — a staged phantom
        # schema would poison this transaction's retries and, if other
        # work committed, the table (review r10b finding 2)
        self.actions.extend(meta_actions)
        self._ops.append("append")
        root = pathlib.Path(self.path)
        stage = root / f".stage-{uuid.uuid4().hex[:8]}"
        _to_physical(df, self._effective_meta()).write.mode(
            "overwrite"
        ).parquet(str(stage))
        (root / _DATA_DIR).mkdir(parents=True, exist_ok=True)
        n = 0
        # identity columns must be indexed past the stats cap: their
        # footer max IS the high-water advance below (ADVICE r11)
        idn_phys = tuple(
            _colmap(self._effective_meta()).get(nm, nm) for nm in idn
        )
        parts = sorted(stage.glob("part-*.parquet"))
        all_stats = _staged_stats(parts, force_cols=idn_phys)
        for part in parts:
            st = all_stats[str(part)]
            if st is not None and st["rows"] == 0:
                continue  # empty-partition debris: stage nothing
            name = f"{_DATA_DIR}/add-{uuid.uuid4().hex}.parquet"
            part.rename(root / name)
            self.actions.append(
                {"op": "add", "file": name, "role": "append", "stats": st}
            )
            if st is not None:
                self.metrics["rows_appended"] = (
                    self.metrics.get("rows_appended", 0) + st["rows"]
                )
            n += 1
        shutil.rmtree(stage)
        if idn and n:
            new_idn = {}
            for name, spec in idn.items():
                phys = _colmap(self._effective_meta()).get(name, name)
                bound = "min" if spec["step"] < 0 else "max"
                highs = [
                    a_["stats"]["cols"][phys][bound]
                    for a_ in self.actions[-n:]
                    if a_["op"] == "add"
                    and a_.get("stats")
                    and phys in a_["stats"].get("cols", {})
                ]
                if len(highs) != n:
                    raise RuntimeError(
                        f"identity column {name!r} missing from staged "
                        f"footer stats — it must sit within the first "
                        f"{_STATS_MAX_COLS} schema columns"
                    )
                extreme = min(highs) if spec["step"] < 0 else max(highs)
                # exact by construction: every value is start + step·k
                new_k = (extreme - spec["start"]) // spec["step"]
                new_idn[name] = {**spec, "high_k": int(new_k)}
            # the high-water advance is a METADATA action: identity
            # appends serialize with concurrent commits by design
            self.actions.append(
                {"op": "set_meta", "meta": {"identity": new_idn}}
            )
        return n

    def delete_where(
        self, spark: SparkSession, predicate, _candidates=None
    ) -> int:
        """Stage ``DELETE WHERE predicate`` copy-on-write, file-pruned:
        only the files actually CONTAINING matches are rewritten
        (minus their matching rows) and swapped; untouched files never
        enter the read set, so deletes on disjoint files commute
        without conflict.  NULL predicate rows survive (DELETE removes
        rows where the predicate is TRUE, not non-FALSE).  Returns the
        number of rows deleted.

        With CDF enabled (:meth:`enable_cdf`), the deleted row images
        are also staged as change-data sidecars under ``_cdc/`` —
        Delta's ``_change_data`` model: a copy-on-write rewrite's
        add/remove actions alone cannot say WHICH rows changed, so
        the feed is recorded at write time, O(deleted rows) extra
        bytes.  Without CDF the commit is not change-feed-derivable
        (:func:`read_changes` raises for it)."""
        from .sinks import write_single_file

        root = pathlib.Path(self.path)
        if not self._live:
            return 0
        if _candidates is not None and not _candidates:
            # stats pruned EVERY live file: provably zero matches —
            # e.g. replace_where backfilling a slice not yet present.
            # Building the snapshot frame over zero paths would raise;
            # the delete half is simply a no-op (ADVICE r11).
            return 0
        self._require_first_rewrite("delete_where")
        self._ops.append("delete_where")
        cdf = bool(self._effective_meta().get("cdf"))
        df = self._snapshot_frame(spark, files=_candidates)
        hit = F.coalesce(predicate, F.lit(False))
        # one pass over the predicate columns: per-file hit counts
        per_file = (
            df.groupBy("_dv_file")
            .agg(F.sum(hit.cast("long")).alias("n_hits"))
            .filter(F.col("n_hits") > 0)
            .collect()
        )  # bounded by file count — metadata-scale
        if not per_file:
            return 0
        deleted = sum(r.n_hits for r in per_file)
        by_name = {pathlib.PurePosixPath(f).name: f for f in self._live}
        hit_rels = sorted(by_name[r._dv_file] for r in per_file)
        # ONE distributed rewrite over exactly the hit files (each
        # scanned once, all in parallel) — a per-file loop of
        # single-file jobs pays fixed job-scheduling cost × files,
        # serially, and on a real cluster leaves the executors idle.
        # Still DV-subtracted: a raw rewrite would resurrect the hit
        # files' DV-deleted rows.
        single = _with_addresses(spark, root, hit_rels, self._meta)
        if self._dvs:
            single = _dv_subtract(spark, root, self._dvs, single)
        if cdf:
            images = single.filter(hit).drop("_dv_file", "_dv_pos")
            cdc = f"{_CDC_DIR}/cdc-{uuid.uuid4().hex}.parquet"
            (root / _CDC_DIR).mkdir(parents=True, exist_ok=True)
            # physical names, same as data files: the change feed's
            # reader maps them back through the colmap as of v_to
            write_single_file(
                _to_physical(images, self._effective_meta()), root / cdc
            )
            self.actions.append(
                {"op": "add_cdc", "file": cdc, "change": "delete"}
            )
        survivors = single.filter(~hit).drop("_dv_file", "_dv_pos")
        stage = root / f".stage-{uuid.uuid4().hex[:8]}"
        _to_physical(survivors, self._effective_meta()).write.mode(
            "overwrite"
        ).parquet(str(stage))
        (root / _DATA_DIR).mkdir(parents=True, exist_ok=True)
        parts = sorted(stage.glob("part-*.parquet"))
        all_stats = _staged_stats(parts)
        for part in parts:
            st = all_stats[str(part)]
            if st is not None and st["rows"] == 0:
                continue
            name = f"{_DATA_DIR}/rw-{uuid.uuid4().hex}.parquet"
            part.rename(root / name)
            self.actions.append(
                {"op": "add", "file": name, "role": "rewrite", "stats": st}
            )
        shutil.rmtree(stage)
        for rel in hit_rels:
            self.actions.append({"op": "remove", "file": rel})
            self.read_files.add(rel)
        self.metrics["rows_deleted"] = (
            self.metrics.get("rows_deleted", 0) + int(deleted)
        )
        self.metrics["files_rewritten"] = len(hit_rels)
        return int(deleted)

    def replace_where(
        self, spark: SparkSession, predicate, df: DataFrame
    ) -> tuple[int, int]:
        """INSERT OVERWRITE with ``replaceWhere`` (Delta's idempotent
        partition/backfill op): atomically replace every row matching
        ``predicate`` — a conjunctive ``(col, op, value)`` list, the
        :func:`read_table` predicate shape — with ``df``, in ONE
        commit.  The canonical use: re-run day D's pipeline and swap
        day D's slice without touching day E or leaving a window
        where D is missing.

        Semantics and scale posture:

        - every NEW row must satisfy the predicate — a backfill for
          day D that smuggles day-E rows raises BEFORE anything
          stages (Delta errors identically);
        - the delete half is file-pruned TWICE: add-action stats
          first prove which files can hold matches at metadata speed
          (:func:`_stats_admit` — on a day-clustered 100 TB table
          that is one day's files, not the table), then only those
          candidates are scanned for per-file hit counts;
        - the insert half is the schema/constraint-enforcing append.
        Returns ``(rows_deleted, files_appended)``."""
        conj = list(predicate)
        idn = self._effective_meta().get("identity", {})
        owned = sorted({c for c, _op, _v in conj} & set(idn))
        if owned:
            raise ValueError(
                f"replace_where predicate references identity "
                f"column(s) {owned}: the replacement rows receive NEW "
                f"engine-assigned values, so they could never satisfy "
                f"the slice being replaced — slice on a data column"
            )
        col = _predicate_column(conj)
        # materialize GENERATED columns first: the canonical backfill
        # predicate is on the generated day/bucket column, and the
        # incoming batch legitimately omits it (append would compute
        # it later — too late for the validation filter below)
        gen = self._effective_meta().get("generated", {})
        for n_, spec in sorted(gen.items()):
            if n_ not in df.columns:
                df = df.withColumn(
                    n_, F.expr(spec["expr"]).cast(spec["type"])
                )
        # pin: the validation count and the staged write must see the
        # same rows even for a non-deterministic batch
        df = df.localCheckpoint()
        bad = df.filter(~F.coalesce(col, F.lit(False))).count()
        if bad:
            raise ValueError(
                f"replace_where rejected: {bad} new row(s) do not "
                f"satisfy the predicate {conj} — a backfill may only "
                f"write rows inside the slice it replaces"
            )
        cm = _colmap(self._effective_meta())
        conj_phys = [(cm.get(c, c), op, val) for c, op, val in conj]
        candidates = [
            f
            for f in self._live
            if all(
                _stats_admit(self._stats.get(f), c, op, val)
                for c, op, val in conj_phys
            )
        ]
        ops_before = list(self._ops)
        deleted = self.delete_where(spark, col, _candidates=candidates)
        added = self.append(df)
        # one operation name in the history, not its two halves — but
        # only THIS call's halves: an append staged earlier in the
        # same transaction keeps its own tag
        self._ops = ops_before + ["replace_where"]
        return deleted, added

    def delete_where_mor(self, spark: SparkSession, predicate) -> int:
        """Stage ``DELETE WHERE predicate`` MERGE-ON-READ: the matching
        rows' addresses land in ONE deletion-vector sidecar under
        ``_deletes/`` — O(matches) metadata, zero data files rewritten
        (the :mod:`.mor` model composed under the commit log, where
        the DV becomes VISIBLE only when this transaction commits).
        At 100 TB this is the GDPR-delete fast path: kilobytes of
        sidecar against terabytes of table, the rewrite deferred to
        the next DV-applying compaction.

        Concurrency: MOR deletes COMMUTE with each other (position
        subtraction is idempotent — overlapping concurrent DVs are
        safe), never conflict with appends, and conflict exactly with
        transactions that REMOVE a targeted file (their rewrite,
        staged without this DV, would resurrect the deleted rows —
        see :meth:`_validate_against` both directions).  Returns the
        number of positions written."""
        from .sinks import write_single_file

        root = pathlib.Path(self.path)
        if not self._live:
            return 0
        hits = self._snapshot_frame(spark).filter(
            F.coalesce(predicate, F.lit(False))
        ).select("_dv_file", "_dv_pos")
        by_name = {pathlib.PurePosixPath(f).name: f for f in self._live}
        targets = sorted(
            by_name[r._dv_file]
            for r in hits.select("_dv_file").distinct().collect()
        )  # bounded by file count
        if not targets:
            return 0
        name = f"{_DV_DIR}/dv-{uuid.uuid4().hex}.parquet"
        (root / _DV_DIR).mkdir(parents=True, exist_ok=True)
        write_single_file(hits, root / name)
        self._ops.append("delete_where_mor")
        self.actions.append(
            {"op": "add_dv", "file": name, "targets": targets,
             "role": "delete"}
        )
        self.read_files.update(targets)
        n = spark.read.parquet(str(root / name)).count()
        self.metrics["rows_deleted"] = self.metrics.get("rows_deleted", 0) + n
        return n

    def update_where_mor(
        self, spark: SparkSession, predicate, set_exprs: dict
    ) -> int:
        """Stage ``UPDATE ... SET ... WHERE predicate`` MERGE-ON-READ
        under the log: the matched rows' positions land in one logged
        deletion vector (``add_dv`` role ``update`` — the preimages)
        and their rewritten images in one logged reinsert file
        (``add`` role ``update`` — the postimages), both visible
        atomically at commit — the Delta DV-update / Iceberg
        position-delete+insert model, now transactional (the
        non-logged sibling is :func:`mor.write_update_vector`).  At
        100 TB an update of kilobytes costs kilobytes: no base file
        is rewritten.

        ``set_exprs`` maps column name -> Column evaluated on the
        matched row.  The rewritten batch is validated against the
        table contract (types unchanged, CHECK constraints hold on
        the POST-images) before anything stages.  One update per
        transaction (same rule as rewrites: a second update's
        snapshot would not see the first's staged reinserts).

        Concurrency: an update DERIVES new row images from the rows
        it read, so unlike plain MOR deletes it cannot commute with a
        concurrent DV on the same files — its reinserts would
        resurrect the concurrent delete/update's removed rows.
        :meth:`_validate_against` conflicts updates with any
        concurrent ``add_dv``/``remove`` touching their target files,
        both directions.  Returns rows updated."""
        from .sinks import write_single_file

        root = pathlib.Path(self.path)
        if not self._live:
            return 0
        self._require_first_rewrite("update_where_mor")
        meta = self._effective_meta()
        known = {n for n, _t in meta.get("schema", [])}
        unknown = sorted(set(set_exprs) - known) if known else []
        if unknown:
            # a typo'd SET column would otherwise withColumn a NEW
            # column into the reinsert file and silently no-op the
            # intended update (review r11 finding 4)
            raise SchemaMismatch(
                f"update sets unknown column(s) {unknown} — not in the "
                f"table schema"
            )
        owned = sorted(set(set_exprs) & set(meta.get("identity", {})))
        if owned:
            raise ValueError(
                f"cannot SET identity column(s) {owned} — values are "
                f"engine-assigned (GENERATED ALWAYS AS IDENTITY)"
            )
        hits = self._snapshot_frame(spark).filter(
            F.coalesce(predicate, F.lit(False))
        )
        # one materialization feeds positions, postimages and count
        hits = hits.localCheckpoint()
        n = hits.count()
        if n == 0:
            return 0
        rewritten = hits
        for c, expr in set_exprs.items():
            rewritten = rewritten.withColumn(c, expr)
        rewritten = rewritten.drop("_dv_file", "_dv_pos")
        # contract validation on the POST-images: an update may not
        # change a column's type, and must leave CHECK constraints
        # holding — same enforcement as append, before anything stages
        table_schema = dict(meta.get("schema", []))
        wrong = [
            (f.name, table_schema[f.name], f.dataType.simpleString())
            for f in rewritten.schema.fields
            if f.name in table_schema
            and table_schema[f.name] != f.dataType.simpleString()
        ]
        if wrong:
            raise SchemaMismatch(
                "update changes column type(s): "
                + ", ".join(f"{n_}: {a} -> {b}" for n_, a, b in wrong)
            )
        self._check_constraints(rewritten, meta, "update")
        gen = meta.get("generated", {})
        if gen:
            self._validate_generated(
                rewritten,
                gen,
                [n for n in gen if n in rewritten.columns],
                "update",
            )
        self._ops.append("update_where_mor")
        by_name = {pathlib.PurePosixPath(f).name: f for f in self._live}
        targets = sorted(
            by_name[r._dv_file]
            for r in hits.select("_dv_file").distinct().collect()
        )  # bounded by file count
        (root / _DV_DIR).mkdir(parents=True, exist_ok=True)
        dv_name = f"{_DV_DIR}/dv-{uuid.uuid4().hex}.parquet"
        write_single_file(hits.select("_dv_file", "_dv_pos"), root / dv_name)
        upd_name = f"{_DATA_DIR}/upd-{uuid.uuid4().hex}.parquet"
        write_single_file(_to_physical(rewritten, meta), root / upd_name)
        self.actions.append(
            {"op": "add_dv", "file": dv_name, "targets": targets,
             "role": "update"}
        )
        self.actions.append(
            {"op": "add", "file": upd_name, "role": "update",
             "stats": _file_stats(root / upd_name)}
        )
        self.read_files.update(targets)
        self.metrics["rows_updated"] = n
        return n

    def enable_cdf(self) -> None:
        """Enable the CHANGE DATA FEED table property (Delta's
        ``delta.enableChangeDataFeed``): from this commit on,
        copy-on-write deletes record their deleted row images as
        change-data sidecars so :func:`read_changes` can serve the
        commit.  Append / MOR-delete / MOR-update / compaction
        commits are derivable from their actions alone and never
        need recorded change data.  A metadata action — serializes
        with everything."""
        self._ops.append("enable_cdf")
        self.actions.append({"op": "set_meta", "meta": {"cdf": True}})

    def _check_constraints(self, df: DataFrame, meta: dict, what: str) -> None:
        """One violation-count pass of every CHECK constraint over
        ``df``; any violation raises (nothing staged)."""
        constraints = meta.get("constraints", {})
        if not constraints:
            return
        checks = [
            F.when(~F.coalesce(F.expr(expr), F.lit(True)), F.lit(name))
            for name, expr in sorted(constraints.items())
        ]
        bad = (
            df.select(
                F.coalesce(*checks, F.lit(None).cast("string")).alias("_viol")
                if len(checks) > 1
                else checks[0].alias("_viol")
            )
            .filter(F.col("_viol").isNotNull())
            .groupBy("_viol")
            .count()
            .collect()
        )
        if bad:
            detail = ", ".join(f"{r._viol}: {r['count']}" for r in bad)
            raise ConstraintViolation(
                f"{what} rejected — CHECK violation(s): {detail}"
            )

    def merge_into(
        self,
        spark: SparkSession,
        source: DataFrame,
        key_cols: list[str],
        when_matched_update: dict | None = None,
        when_matched_delete=None,
        when_not_matched_insert: bool = True,
        when_matched_update_cond=None,
        when_not_matched_by_source_update: dict | None = None,
        when_not_matched_by_source_delete=None,
        when_not_matched_by_source_update_cond=None,
        evolve_schema: bool = False,
    ) -> dict:
        """MERGE INTO under the commit log — Delta's merge algorithm,
        file-pruned copy-on-write:

        1. FIND TOUCHED FILES: one inner join of the target (with row
           addresses) against the delta-sized source on ``key_cols`` —
           the single full-target scan the operation needs (Delta's
           findTouchedFiles job).  Files with no match are never
           rewritten and never enter the read set, so merges on
           disjoint keys commute.
        2. REWRITE touched files once: target rows LEFT-join the
           broadcast source; matched rows satisfying
           ``when_matched_delete`` (a Column predicate over the
           joined ``t``/``s`` aliases, or ``True`` for
           unconditional) drop; remaining matched rows take
           ``when_matched_update`` (``{col: Column}`` over the same
           aliases — reference source values as ``F.col("s.x")``,
           target as ``F.col("t.x")``), gated by
           ``when_matched_update_cond`` when given (``WHEN MATCHED
           AND <cond> THEN UPDATE`` — a Column over the ``t``/``s``
           aliases; matched rows failing it pass through unchanged,
           NULL counts as false); unmatched rows pass through.
        3. INSERT source rows matching NO target key (anti join on
           the matched-key set from step 1) as a plain append, when
           ``when_not_matched_insert``.
        4. WHEN NOT MATCHED BY SOURCE (Delta's by-source clauses):
           target rows matching NO source key take
           ``when_not_matched_by_source_update`` (``{col: Column}``
           over the ``t`` alias ONLY — there is no source row), gated
           by ``when_not_matched_by_source_update_cond``, or drop
           under ``when_not_matched_by_source_delete`` (``True`` or a
           ``t``-alias Column).  Cost and conflict posture are
           honest: deciding "no row needs changing" requires probing
           EVERY target row against the source (one extra per-file
           flags aggregate over the same left-join plan — no
           row-level materialization beyond file flags), and the
           decision depends on the WHOLE target state, so the commit
           conflicts with ANY concurrent write (Delta's posture:
           by-source merges serialize against everything).

        The source must be key-unique (a target row matching two
        source rows makes the merge non-deterministic — Delta raises
        the same error); validated in one aggregate over the source.
        With CDF enabled the merge records its change-data sidecars
        (update pre/post images, deletes, inserts), so
        :func:`read_changes` serves merge commits too.

        Returns ``{"updated": n, "deleted": n, "inserted": n}`` plus
        ``updated_by_source`` / ``deleted_by_source`` when the
        corresponding clause was given.  Scale posture: cost = one
        target scan (the match probe) + rewrite of only the touched
        files + delta-sized insert (+ one per-file flags probe when a
        by-source clause is present); the source is
        localCheckpoint-pinned and broadcast."""
        from .sinks import write_single_file

        has_by_source = (
            when_not_matched_by_source_update is not None
            or when_not_matched_by_source_delete is not None
        )
        if when_matched_update is None and when_matched_delete is None \
                and not when_not_matched_insert and not has_by_source:
            raise ValueError("merge_into with no clauses is a no-op")
        if when_matched_update_cond is not None and when_matched_update is None:
            raise ValueError(
                "when_matched_update_cond without when_matched_update "
                "gates nothing"
            )
        if (
            when_not_matched_by_source_update_cond is not None
            and when_not_matched_by_source_update is None
        ):
            raise ValueError(
                "when_not_matched_by_source_update_cond without "
                "when_not_matched_by_source_update gates nothing"
            )
        root = pathlib.Path(self.path)
        self._require_first_rewrite("merge_into")
        meta = self._effective_meta()
        source = source.localCheckpoint()
        # the "delta-sized source" contract, now GUARDED: a user-
        # supplied source past the broadcast bound drops the hint and
        # the probe degrades to a shuffle join — slow beats an
        # executor OOM (VERDICT r11).  count() is free on the pinned
        # frame.
        n_src = source.count()
        hint = (
            F.broadcast if n_src <= _broadcast_cap(spark) else (lambda d: d)
        )
        dup = (
            source.groupBy(*key_cols).count().filter(F.col("count") > 1)
        ).count()
        if dup:
            raise ValueError(
                f"merge source is not key-unique on {key_cols}: {dup} "
                f"duplicated key(s) — a target row matching multiple "
                f"source rows is non-deterministic"
            )
        if evolve_schema and meta.get("schema"):
            # MERGE WITH SCHEMA EVOLUTION (Delta's autoMerge): source
            # columns the table lacks WIDEN the schema in this same
            # transaction — existing rows align as typed NULLs, the
            # insert branch lands them, and update clauses may SET
            # them.  Same rules as append's evolve_schema: the widening
            # is a metadata action, mapped tables bind fresh physical
            # names, type CHANGES still reject.
            table_types = dict(meta.get("schema", []))
            new_cols = [
                (f.name, f.dataType.simpleString())
                for f in source.schema.fields
                if f.name not in table_types
            ]
            if new_cols:
                new_meta: dict = {
                    "schema": list(meta.get("schema", [])) + new_cols,
                    "evolved": True,
                }
                if meta.get("mapped"):
                    cmap = _colmap(meta)
                    for n_, _t in new_cols:
                        cmap[n_] = f"c-{uuid.uuid4().hex[:12]}"
                    new_meta["colmap"] = cmap
                self.actions.append({"op": "set_meta", "meta": new_meta})
                meta = self._effective_meta()
        cdf = bool(meta.get("cdf"))
        table_cols = [n for n, _t in meta.get("schema", [])]
        for clause, upd in (
            ("update", when_matched_update),
            ("by-source update", when_not_matched_by_source_update),
        ):
            if not (upd and table_cols):
                continue
            unknown = sorted(set(upd) - set(table_cols))
            if unknown:
                raise SchemaMismatch(
                    f"merge {clause} sets unknown column(s) {unknown} — "
                    f"not in the table schema"
                )
            owned = sorted(set(upd) & set(meta.get("identity", {})))
            if owned:
                raise ValueError(
                    f"merge cannot SET identity column(s) {owned} — "
                    f"values are engine-assigned (GENERATED ALWAYS AS "
                    f"IDENTITY)"
                )
        key_eq = [
            F.col(f"t.{k}").eqNullSafe(F.col(f"s.{k}")) for k in key_cols
        ]
        counts = {"updated": 0, "deleted": 0, "inserted": 0}
        if when_not_matched_by_source_delete is not None:
            counts["deleted_by_source"] = 0
        if when_not_matched_by_source_update is not None:
            counts["updated_by_source"] = 0

        self._ops.append("merge")
        if self._live:
            target = self._snapshot_frame(spark)
            # step 1: the single full-target scan — matched addresses
            # and matched keys, both delta-sized (<= source rows each)
            matches = (
                target.alias("t")
                .join(hint(source).alias("s"), key_eq, "inner")
                .select("t._dv_file", *[f"t.{k}" for k in key_cols])
                .localCheckpoint()
            )
            by_name = {
                pathlib.PurePosixPath(f).name: f for f in self._live
            }
            touched = sorted(
                by_name[r._dv_file]
                for r in matches.select("_dv_file").distinct().collect()
            )  # bounded by file count
        else:
            matches = None
            touched = []

        bs_touched: list[str] = []
        if self._live and has_by_source:
            # files holding at least one row NO source key matches that
            # a by-source clause would affect — ONE per-file flags
            # aggregate over the same left-join plan (no row-level
            # materialization: the output is bounded by file count).
            # Examining every target row is inherent to the clause.
            if when_not_matched_by_source_delete is True:
                bs_affect = F.lit(True)
            elif when_not_matched_by_source_delete is not None:
                bs_affect = F.coalesce(
                    when_not_matched_by_source_delete, F.lit(False)
                )
            else:
                bs_affect = F.lit(False)
            if when_not_matched_by_source_update is not None:
                bs_affect = bs_affect | (
                    F.lit(True)
                    if when_not_matched_by_source_update_cond is None
                    else F.coalesce(
                        when_not_matched_by_source_update_cond,
                        F.lit(False),
                    )
                )
            probe = target.alias("t").join(
                hint(
                    source.select(*key_cols).withColumn(
                        "_s_hit", F.lit(1)
                    )
                ).alias("s"),
                key_eq,
                "left",
            )
            unmatched_hit = (
                F.col("s._s_hit").isNull() & bs_affect
            ).cast("int")
            bs_touched = sorted(
                by_name[r._f]
                for r in probe.groupBy(
                    F.col("t._dv_file").alias("_f")
                )
                .agg(F.max(unmatched_hit).alias("_b"))
                .filter(F.col("_b") == 1)
                .collect()
            )
            # the "no row needs changing" verdict for UNtouched files
            # depends on the whole target state joined to this source:
            # any concurrent write invalidates it (Delta's posture) —
            # including a pure APPEND, whose rows escaped this probe
            self.read_files.update(self._live)
            self.read_whole_table = True

        # the INSERT branch is computed and fully validated FIRST, so a
        # rejected insert (schema/constraint) raises before ANY action
        # stages — an exception must leave no half-merge behind, the
        # same whole-operation atomicity contract append carries
        # (review r11 finding 3)
        inserts = None
        if when_not_matched_insert:
            if matches is not None:
                inserts = source.alias("s").join(
                    hint(
                        matches.select(*key_cols).distinct()
                    ).alias("k"),
                    [
                        F.col(f"s.{k}").eqNullSafe(F.col(f"k.{k}"))
                        for k in key_cols
                    ],
                    "left_anti",
                )
            else:
                inserts = source
            if table_cols:
                # the insert clause maps to the TABLE schema — extra
                # source-only columns (clause predicates' inputs) drop;
                # a missing column raises here, pre-staging.  ENGINE-
                # SUPPLIED columns are exempt: identity values are
                # stamped and generated values computed by the append
                # the inserts ride (supplying an identity is refused
                # THERE — ALWAYS AS)
                engine_cols = set(meta.get("identity", {})) | set(
                    meta.get("generated", {})
                )
                missing = [
                    c
                    for c in table_cols
                    if c not in inserts.columns and c not in engine_cols
                ]
                if missing:
                    raise SchemaMismatch(
                        f"merge insert source is missing table "
                        f"column(s) {missing}"
                    )
                inserts = inserts.select(
                    *[c for c in table_cols if c in inserts.columns]
                )
                table_types = dict(meta.get("schema", []))
                wrong = [
                    (f.name, table_types[f.name], f.dataType.simpleString())
                    for f in inserts.schema.fields
                    if table_types.get(f.name) not in (
                        None, f.dataType.simpleString()
                    )
                ]
                if wrong:
                    raise SchemaMismatch(
                        "merge insert changes column type(s): "
                        + ", ".join(
                            f"{n_}: {a} -> {b}" for n_, a, b in wrong
                        )
                    )
            inserts = inserts.localCheckpoint()
            counts["inserted"] = inserts.count()
            if counts["inserted"]:
                self._check_constraints(inserts, meta, "merge insert")

        has_matched_clause = (
            when_matched_update is not None
            or when_matched_delete is not None
        )
        rewrite = sorted(
            set(touched if has_matched_clause else []) | set(bs_touched)
        )
        if rewrite:
            # effective meta: under evolve_schema the staged widening
            # aligns pre-evolution rows' new columns as typed NULLs
            rows = _with_addresses(spark, root, rewrite, meta)
            if self._dvs:
                rows = _dv_subtract(spark, root, self._dvs, rows)
            rows = rows.drop("_dv_file", "_dv_pos")
            # one left join against the tagged source; the constant
            # tag (never NULL on the source side) is the match probe —
            # a real source column could be legitimately NULL
            j = rows.alias("t").join(
                hint(source.withColumn("_s_hit", F.lit(1))).alias("s"),
                key_eq,
                "left",
            )
            matched = F.col("s._s_hit").isNotNull()
            if when_matched_delete is True:
                del_pred = matched
            elif when_matched_delete is not None:
                del_pred = matched & F.coalesce(
                    when_matched_delete, F.lit(False)
                )
            else:
                del_pred = F.lit(False)
            upd_pred = matched & ~del_pred
            if when_matched_update is None:
                upd_pred = F.lit(False)
            elif when_matched_update_cond is not None:
                # Delta's first-match-wins: a matched row failing the
                # update condition (or evaluating it to NULL) passes
                # through unchanged — and is NOT counted as updated
                upd_pred = upd_pred & F.coalesce(
                    when_matched_update_cond, F.lit(False)
                )
            # by-source clauses see only rows NO source key matched;
            # DELETE evaluates before UPDATE (clause order, as in the
            # matched pair)
            if when_not_matched_by_source_delete is True:
                bs_del_pred = ~matched
            elif when_not_matched_by_source_delete is not None:
                bs_del_pred = ~matched & F.coalesce(
                    when_not_matched_by_source_delete, F.lit(False)
                )
            else:
                bs_del_pred = F.lit(False)
            if when_not_matched_by_source_update is None:
                bs_upd_pred = F.lit(False)
            else:
                bs_upd_pred = ~matched & ~bs_del_pred
                if when_not_matched_by_source_update_cond is not None:
                    bs_upd_pred = bs_upd_pred & F.coalesce(
                        when_not_matched_by_source_update_cond,
                        F.lit(False),
                    )
            new_exprs = []
            for c in table_cols:
                expr = F.col(f"t.{c}")
                has_m = when_matched_update and c in when_matched_update
                has_b = (
                    when_not_matched_by_source_update
                    and c in when_not_matched_by_source_update
                )
                if has_m and has_b:
                    expr = (
                        F.when(upd_pred, when_matched_update[c])
                        .when(
                            bs_upd_pred,
                            when_not_matched_by_source_update[c],
                        )
                        .otherwise(expr)
                    )
                elif has_m:
                    expr = F.when(
                        upd_pred, when_matched_update[c]
                    ).otherwise(expr)
                elif has_b:
                    expr = F.when(
                        bs_upd_pred,
                        when_not_matched_by_source_update[c],
                    ).otherwise(expr)
                new_exprs.append(expr.alias(f"_new_{c}"))
            # resolve everything against the ALIASED join, project to
            # unambiguous names, then pin ONCE — a localCheckpoint of
            # the raw join would drop the t/s alias scopes and leave
            # duplicate key-column names
            proj = j.select(
                del_pred.alias("_del"),
                upd_pred.alias("_upd"),
                bs_del_pred.alias("_bsdel"),
                bs_upd_pred.alias("_bsupd"),
                *[F.col(f"t.{c}").alias(c) for c in table_cols],
                *new_exprs,
            ).localCheckpoint()
            counts["deleted"] = proj.filter("_del").count()
            if when_matched_update:
                counts["updated"] = proj.filter("_upd").count()
            if when_not_matched_by_source_delete is not None:
                counts["deleted_by_source"] = proj.filter("_bsdel").count()
            if when_not_matched_by_source_update is not None:
                counts["updated_by_source"] = proj.filter("_bsupd").count()
            survivors = proj.filter(
                ~F.col("_del") & ~F.col("_bsdel")
            ).select(
                *[F.col(f"_new_{c}").alias(c) for c in table_cols]
            )
            # contract on the POST-images, same as update_where_mor:
            # an update clause may not change a column's type, and the
            # changed rows must keep every CHECK constraint holding
            table_types = dict(meta.get("schema", []))
            wrong = [
                (f.name, table_types[f.name], f.dataType.simpleString())
                for f in survivors.schema.fields
                if f.name in table_types
                and table_types[f.name] != f.dataType.simpleString()
            ]
            if wrong:
                raise SchemaMismatch(
                    "merge update changes column type(s): "
                    + ", ".join(f"{n_}: {a} -> {b}" for n_, a, b in wrong)
                )
            if when_matched_update or when_not_matched_by_source_update:
                post = proj.filter("_upd OR _bsupd").select(
                    *[F.col(f"_new_{c}").alias(c) for c in table_cols]
                )
                self._check_constraints(post, meta, "merge update")
                gen = meta.get("generated", {})
                if gen:
                    self._validate_generated(
                        post,
                        gen,
                        [n for n in gen if n in post.columns],
                        "merge update",
                    )
            new = f"{_DATA_DIR}/mg-{uuid.uuid4().hex}.parquet"
            write_single_file(_to_physical(survivors, meta), root / new)
            for rel in rewrite:
                self.actions.append({"op": "remove", "file": rel})
                self.read_files.add(rel)
            new_stats = _file_stats(root / new)
            if new_stats is not None and new_stats["rows"] == 0:
                # every row in the touched files deleted: a pure
                # remove — don't stage an empty replacement file
                (root / new).unlink()
            else:
                self.actions.append(
                    {"op": "add", "file": new, "role": "rewrite",
                     "stats": new_stats}
                )
            if cdf:
                (root / _CDC_DIR).mkdir(parents=True, exist_ok=True)
                pieces = [
                    (
                        proj.filter("_del OR _bsdel").select(*table_cols),
                        "delete",
                    ),
                ]
                if when_matched_update or when_not_matched_by_source_update:
                    pieces += [
                        (
                            proj.filter("_upd OR _bsupd").select(*table_cols),
                            "update_preimage",
                        ),
                        (
                            proj.filter("_upd OR _bsupd").select(
                                *[
                                    F.col(f"_new_{c}").alias(c)
                                    for c in table_cols
                                ]
                            ),
                            "update_postimage",
                        ),
                    ]
                for images, change in pieces:
                    cdc = f"{_CDC_DIR}/cdc-{uuid.uuid4().hex}.parquet"
                    write_single_file(_to_physical(images, meta), root / cdc)
                    self.actions.append(
                        {"op": "add_cdc", "file": cdc, "change": change}
                    )

        if inserts is not None and counts["inserted"]:
            # plain append path: staging + role "append" (CDF derives
            # these inserts for free); validation already passed on
            # the pinned frame above, so this cannot raise mid-merge
            self.append(inserts)
        for k_, v_ in counts.items():
            self.metrics[f"rows_{k_}"] = v_
        return counts

    def compact(self, spark: SparkSession, n_files: int = 1) -> tuple[int, int]:
        """Stage a compaction: every live file read, committed
        deletion vectors APPLIED, and the survivors rewritten as
        ``n_files`` — the OPTIMIZE contract under the log: one
        generation move settles both the small-file debt and the
        merge-on-read debt (the applied DV files are removed in the
        same commit).  The whole live set enters the read set, so ANY
        concurrent rewrite conflicts — and a concurrent MOR delete
        conflicts too (its DV targets files this compaction removes;
        the compaction's output, staged without that DV, would
        resurrect the deleted rows).  Returns
        (files_before, files_after)."""
        root = pathlib.Path(self.path)
        self._require_first_rewrite("compact")
        self._ops.append("compact")
        df = self._snapshot_frame(spark).drop("_dv_file", "_dv_pos")
        stage = root / f".stage-{uuid.uuid4().hex[:8]}"
        (root / _DATA_DIR).mkdir(parents=True, exist_ok=True)
        _to_physical(df, self._effective_meta()).repartition(
            n_files
        ).write.mode("overwrite").parquet(str(stage))
        added = 0
        parts = sorted(stage.glob("part-*.parquet"))
        all_stats = _staged_stats(parts)
        for part in parts:
            st = all_stats[str(part)]
            if st is not None and st["rows"] == 0:
                continue
            name = f"{_DATA_DIR}/cp-{uuid.uuid4().hex}.parquet"
            part.rename(root / name)
            # role "compact" = the dataChange=false analog: the
            # logical row set is unchanged, so the change feed emits
            # nothing for this commit
            self.actions.append(
                {"op": "add", "file": name, "role": "compact", "stats": st}
            )
            added += 1
        shutil.rmtree(stage)
        for f in self._live:
            self.actions.append({"op": "remove", "file": f})
            self.read_files.add(f)
        for f in self._dvs:
            self.actions.append({"op": "remove_dv", "file": f})
            self.read_files.add(f)
        self.metrics["files_rewritten"] = len(self._live)
        self.metrics["files_added"] = added
        return len(self._live), added

    def optimize_zorder(
        self,
        spark: SparkSession,
        cols: list[str],
        n_files: int = 16,
        bits: int = 6,
    ) -> tuple[int, int]:
        """OPTIMIZE ... ZORDER BY ``cols`` (Delta's multi-dimensional
        clustering): stage a whole-table rewrite — deletion vectors
        APPLIED, same generation move as :meth:`compact` — with rows
        ordered along a Z-ORDER space-filling curve over ``cols``, so
        every staged file's footer min/max is TIGHT on EVERY z-ordered
        column at once and a later predicate read on ANY of them
        (:func:`read_table` with ``predicate``) skips most files.  A
        plain sort clusters one column; the z-curve is what makes
        two-column skipping work on one physical layout.

        Scale-correct construction, no UDF anywhere: each column is
        quantile-bucketed to ``bits`` bits via one ``approxQuantile``
        pass (boundaries are a bounded driver-side list — rank-based,
        so skew and arbitrary value ranges normalize identically;
        NULLs take bucket 0, Spark's NULLS FIRST), bucket ids come
        from a higher-order ``filter`` over the literal boundary
        array (whole-stage codegen), the z-value is pure
        bit-interleaving arithmetic, and the rewrite is ONE
        distributed ``repartitionByRange(z) + sortWithinPartitions(z)``
        job.  Numeric, timestamp and date columns supported
        (time buckets on epoch seconds).  The feed stays silent for
        this commit (dataChange=false analog, like compaction).
        The non-transactional sibling over the manifested store is
        :func:`..sinks.write_zorder_manifested` (Morton key against
        an explicit manifest file); here the stats ride the add
        actions and the rewrite serializes with concurrent writers.
        Returns ``(files_before, files_after)``."""
        root = pathlib.Path(self.path)
        if not cols or len(cols) * bits > 60:
            raise ValueError(
                f"zorder needs 1+ columns with cols×bits ≤ 60 bits "
                f"(got {len(cols)}×{bits})"
            )
        self._require_first_rewrite("optimize_zorder")
        self._ops.append("optimize_zorder")
        df = self._snapshot_frame(spark).drop("_dv_file", "_dv_pos")
        out = _to_physical(
            _z_clustered(df, cols, bits, n_files), self._effective_meta()
        )
        stage = root / f".stage-{uuid.uuid4().hex[:8]}"
        (root / _DATA_DIR).mkdir(parents=True, exist_ok=True)
        out.write.mode("overwrite").parquet(str(stage))
        added = self._stage_rewrite_parts(stage, "zo")
        for f in self._live:
            self.actions.append({"op": "remove", "file": f})
            self.read_files.add(f)
        for f in self._dvs:
            self.actions.append({"op": "remove_dv", "file": f})
            self.read_files.add(f)
        self.metrics["files_rewritten"] = len(self._live)
        self.metrics["files_added"] = added
        return len(self._live), added

    def _stage_rewrite_parts(self, stage: pathlib.Path, prefix: str) -> int:
        """Rename a staged rewrite's parts into ``_data/`` as
        role-``compact`` adds (data-neutral: the change feed stays
        silent) carrying footer stats; drops empty-partition debris.
        Returns files added."""
        root = pathlib.Path(self.path)
        parts = sorted(stage.glob("part-*.parquet"))
        all_stats = _staged_stats(parts)
        added = 0
        for part in parts:
            st = all_stats[str(part)]
            if st is not None and st["rows"] == 0:
                continue
            name = f"{_DATA_DIR}/{prefix}-{uuid.uuid4().hex}.parquet"
            part.rename(root / name)
            self.actions.append(
                {"op": "add", "file": name, "role": "compact", "stats": st}
            )
            added += 1
        shutil.rmtree(stage)
        return added

    def optimize_zorder_incremental(
        self,
        spark: SparkSession,
        cols: list[str],
        target_bytes: int = 128 << 20,
        bits: int = 6,
    ) -> tuple[int, int]:
        """INCREMENTAL OPTIMIZE ... ZORDER — the liquid-clustering
        posture: :meth:`optimize_zorder`'s curve applied with
        :meth:`compact_small`'s candidate selection.  Only files
        smaller than ``target_bytes`` (the recent-ingest clustering
        debt) are rewritten — z-ordered among themselves, bin-packed
        to ``ceil(candidate bytes / target)`` files — while every
        already-right-sized file SURVIVES BY NAME, so settling the
        debt on a 100 TB table costs the new data, never the other
        99.9 TB (a whole-table re-zorder is the
        :meth:`optimize_zorder` contract, and unthinkable at that
        size; Delta moved to liquid clustering for exactly this
        reason).

        The curve boundaries are quantiles OF THE CANDIDATE ROWS: new
        files cluster tightly over the new data's own distribution —
        each staged file's footer min/max is tight on every clustered
        column, so the skipping contract holds for the new generation
        immediately; old well-clustered files keep their existing
        tight stats untouched.  Deletion vectors are applied to the
        moved rows (same rule as :meth:`compact_small`); the vectors
        stay live for untouched files.  Candidates < 2 → (0, 0),
        nothing staged.  Returns ``(files_rewritten, files_added)``."""
        root = pathlib.Path(self.path)
        if not cols or len(cols) * bits > 60:
            raise ValueError(
                f"zorder needs 1+ columns with cols×bits ≤ 60 bits "
                f"(got {len(cols)}×{bits})"
            )

        def size_of(f: str) -> int:
            st = self._stats.get(f)
            if st is not None and st.get("bytes"):
                return int(st["bytes"])
            return (root / f).stat().st_size

        cand = [f for f in self._live if size_of(f) < target_bytes]
        if len(cand) < 2:
            return 0, 0
        self._require_first_rewrite("optimize_zorder_incremental")
        self._ops.append("optimize_zorder_incremental")
        df = _with_addresses(spark, root, sorted(cand), self._meta)
        if self._dvs:
            self.read_files.update(self._dvs)
            df = _dv_subtract(spark, root, self._dvs, df)
        df = df.drop("_dv_file", "_dv_pos")
        n_bins = max(1, -(-sum(size_of(f) for f in cand) // target_bytes))
        out = _to_physical(
            _z_clustered(df, cols, bits, n_bins), self._effective_meta()
        )
        stage = root / f".stage-{uuid.uuid4().hex[:8]}"
        (root / _DATA_DIR).mkdir(parents=True, exist_ok=True)
        out.write.mode("overwrite").parquet(str(stage))
        added = self._stage_rewrite_parts(stage, "zi")
        for f in sorted(cand):
            self.actions.append({"op": "remove", "file": f})
            self.read_files.add(f)
        self.metrics["files_rewritten"] = len(cand)
        self.metrics["files_added"] = added
        return len(cand), added

    def compact_small(
        self,
        spark: SparkSession,
        target_bytes: int = 128 << 20,
        predicate=None,
    ) -> tuple[int, int]:
        """INCREMENTAL OPTIMIZE — bin-pack ONLY the files smaller than
        ``target_bytes``, leaving every already-right-sized file
        untouched: the real OPTIMIZE contract at scale (Delta's
        minFileSize selection), where a 100 TB table's small-file debt
        is a few thousand recent ingest files and rewriting the other
        99.9 TB — what :meth:`compact` would do — is unthinkable.

        ``predicate`` — the same conjunctive triples as
        :func:`prune_files` — further SCOPES the candidates to files
        whose footer stats admit it (Delta's ``OPTIMIZE ... WHERE``,
        which restricts to partitions; here stats-scoped file
        selection is the layoutless analog).  Scoping is safe for ANY
        predicate: whole candidate files rewrite with all their rows,
        so admission only chooses WHICH debt settles, never what the
        table holds.

        Only the candidate files enter the read set, so the
        compaction COMMUTES with concurrent writes touching other
        files (a full compact conflicts with everything).  Candidate
        sizes come from add-action stats (footer bytes), falling back
        to a driver-side stat.  Deletion vectors are APPLIED to the
        rows being moved (a moved row escapes its position-keyed
        vector, so carrying it would resurrect the delete) but the
        vectors themselves stay live — their positions reference the
        removed files and simply stop matching; rows in untouched
        files remain subject to them.  Bin count is
        ceil(candidate bytes / target_bytes).  Returns
        ``(files_rewritten, files_added)``; (0, 0) = nothing staged
        (fewer than two small files — don't commit an empty
        transaction)."""
        root = pathlib.Path(self.path)

        def size_of(f: str) -> int:
            st = self._stats.get(f)
            if st is not None and st.get("bytes"):
                return int(st["bytes"])
            return (root / f).stat().st_size

        cand = [f for f in self._live if size_of(f) < target_bytes]
        if predicate is not None:
            cm = _colmap(self._effective_meta())
            conj = [(cm.get(c, c), op, val) for c, op, val in predicate]
            cand = [
                f
                for f in cand
                if all(
                    _stats_admit(self._stats.get(f), c, op, val)
                    for c, op, val in conj
                )
            ]
        if len(cand) < 2:
            return 0, 0
        self._require_first_rewrite("compact_small")
        self._ops.append("compact_small")
        df = _with_addresses(spark, root, sorted(cand), self._meta)
        if self._dvs:
            self.read_files.update(self._dvs)
            df = _dv_subtract(spark, root, self._dvs, df)
        df = df.drop("_dv_file", "_dv_pos")
        n_bins = max(1, -(-sum(size_of(f) for f in cand) // target_bytes))
        stage = root / f".stage-{uuid.uuid4().hex[:8]}"
        (root / _DATA_DIR).mkdir(parents=True, exist_ok=True)
        _to_physical(df, self._effective_meta()).repartition(
            n_bins
        ).write.mode("overwrite").parquet(str(stage))
        added = self._stage_rewrite_parts(stage, "cs")
        for f in sorted(cand):
            self.actions.append({"op": "remove", "file": f})
            self.read_files.add(f)
        self.metrics["files_rewritten"] = len(cand)
        self.metrics["files_added"] = added
        return len(cand), added

    # -- commit ---------------------------------------------------------

    def commit(self, _unsafe_blind: bool = False) -> int | None:
        """Atomically claim the next log slot, validating every commit
        that landed since this transaction's snapshot first.  With a
        txn identity set, a duplicate (same app, version already
        committed) SKIPS and returns None — exactly-once for replayed
        micro-batches.

        The slot claim is ``os.link`` (exclusive create — unlike
        ``os.rename``, which silently REPLACES an existing file and
        would let two writers both think they own a slot).  Losing the
        race is not a conflict: the loser re-validates against the
        newly landed commit and takes the next slot.

        ``_unsafe_blind=True`` skips validation — exists ONLY so tests
        and the registered demo can show the lost-update anomaly the
        protocol prevents.  Never use it."""
        if self._committed:
            raise ValueError("transaction already committed")
        if not self.actions:
            raise ValueError("empty transaction")
        root = pathlib.Path(self.path)
        log = root / _LOG_DIR
        log.mkdir(parents=True, exist_ok=True)
        checked = self.read_version
        while True:
            # idempotence gate INSIDE the retry loop, fed from the
            # snapshot-carried high-water PLUS every commit scanned
            # below — so a duplicate landing between iterations is
            # caught on the next pass without replaying the whole log
            # (review r10 findings 1 + 8)
            if (
                self.txn_app is not None
                and self._txn_highwater >= self.txn_version
            ):
                self._committed = True
                return None  # already applied: skip, don't double-commit
            latest = latest_commit(self.path)
            fresh = [
                _read_commit(self.path, v)
                for v in range(checked + 1, latest + 1)
            ]
            # duplicate-skip BEFORE conflict validation: two racing
            # replays of the same batch may both carry metadata (the
            # bootstrap append that fixes the table schema) — the loser
            # must SKIP, not die on ConcurrentMetadataUpdate (review
            # r10b finding 3)
            if self.txn_app is not None:
                for other in fresh:
                    t = other.get("txn")
                    if t and t["app"] == self.txn_app:
                        self._txn_highwater = max(
                            self._txn_highwater, t["version"]
                        )
                if self._txn_highwater >= self.txn_version:
                    self._committed = True
                    return None
            if not _unsafe_blind:
                for other in fresh:
                    self._validate_against(other)
            # staged files must still exist at commit time: a
            # vacuum_orphans sweep with a min_age window shorter than
            # this transaction's staging-to-commit latency would have
            # unlinked them, and committing anyway would publish a
            # version whose files are gone — unreadable table (ADVICE
            # r10).  Loud failure here; the residual stat-to-link
            # window is the age gate's contract (size min_age_sec to
            # bound writer latency).
            gone = [
                a["file"]
                for a in self.actions
                if a["op"] in ("add", "add_dv")
                and not (root / a["file"]).exists()
            ]
            if gone:
                raise FileNotFoundError(
                    f"staged file(s) vanished before commit: "
                    f"{gone[:4]} — a vacuum_orphans sweep ran with "
                    f"min_age_sec shorter than this transaction's "
                    f"staging-to-commit latency; re-run the operation"
                )
            checked = max(checked, latest)
            target = latest + 1
            # in-commit timestamp, clamped monotonic: strictly after
            # the previous commit whatever the caller's clock says
            prev_ts = 0.0
            if latest >= 1:
                try:
                    prev_ts = float(_read_commit(self.path, latest).get("ts", 0.0))
                except FileNotFoundError:
                    prev_ts = 0.0  # expired prefix: monotonicity holds anyway
            import time as _time

            ts = self.commit_ts if self.commit_ts is not None else _time.time()
            ts = max(float(ts), prev_ts + 1e-3)
            body = {
                "version": target,
                "ts": ts,
                "read_version": self.read_version,
                # commitInfo.operation: what a user staged, in staging
                # order — DESCRIBE HISTORY's display and the audit
                # trail's classification
                "operation": "+".join(dict.fromkeys(self._ops)) or "unknown",
                "actions": self.actions,
            }
            if self.metrics:
                body["metrics"] = self.metrics
            if self.txn_app is not None:
                body["txn"] = {
                    "app": self.txn_app,
                    "version": self.txn_version,
                }
            tmp = log / f".tmp-{uuid.uuid4().hex[:8]}"
            tmp.write_text(json.dumps(body, indent=1))
            try:
                os.link(tmp, log / f"{target:08d}.json")
            except FileExistsError:
                # slot raced away — revalidate vs the new commit(s)
                tmp.unlink()
                continue
            tmp.unlink()
            self._committed = True
            self._maybe_advance_checkpoint(target)
            return target

    def _maybe_advance_checkpoint(self, v: int) -> None:
        """Roll the parquet checkpoint forward when the committed JSON
        tail outgrows the configured interval (Delta checkpoints every
        10 commits) — OPT-IN per table: engages only after a first
        explicit ``write_parquet_checkpoint`` bootstrap, so plain
        tables never pay a metadata job per commit.  The advance needs
        no session (the registered format's writer commit hook runs in
        Spark's session-less planning process); without a session the
        interval is the default (no conf is readable there).  A failed
        advance only WARNS: the commit already landed, and the
        checkpoint is derived state any later advance rebuilds."""
        from . import lakehouse_checkpoint as _ckpt

        spark = SparkSession.getActiveSession()
        try:
            v0 = _ckpt.latest_parquet_checkpoint(self.path)
            if v0 is None:
                return
            interval = _ckpt.AUTO_ADVANCE_DEFAULT
            if spark is not None:
                interval = int(
                    spark.conf.get(
                        _ckpt.AUTO_ADVANCE_CONF,
                        str(_ckpt.AUTO_ADVANCE_DEFAULT),
                    )
                )
            if interval > 0 and v - v0 >= interval:
                _ckpt.advance_parquet_checkpoint(self.path, v)
        except Exception as e:  # derived plane: never fail the commit
            import warnings

            warnings.warn(
                f"parquet-checkpoint auto-advance failed at {self.path} "
                f"(commit {v} landed; the checkpoint stays at its prior "
                f"version until the next advance): {e}"
            )

    def _validate_against(self, other: dict) -> None:
        # metadata changes serialize with EVERYTHING (Delta's
        # ConcurrentMetadataUpdate): their schema/constraint change
        # invalidates our staged work's assumptions, and our metadata
        # change (ADD CONSTRAINT validated a snapshot, schema fixed at
        # validation time) is only sound if nothing landed since.
        theirs_meta = any(a["op"] == "set_meta" for a in other["actions"])
        ours_meta = any(a["op"] == "set_meta" for a in self.actions)
        if theirs_meta or ours_meta:
            raise CommitConflict(
                f"commit {other['version']} and this transaction cannot "
                f"serialize: concurrent table-metadata update — re-run "
                f"against the current snapshot"
            )
        ours_copied = {
            a["file"] for a in self.actions if a["op"] == "copy_source"
        }
        if ours_copied:
            copy_clash = ours_copied & {
                a["file"]
                for a in other["actions"]
                if a["op"] == "copy_source"
            }
            if copy_clash:
                raise CommitConflict(
                    f"commit {other['version']} already COPY-loaded "
                    f"source file(s) this transaction loads too: "
                    f"{sorted(copy_clash)[:3]} — the retry would "
                    f"double-load; re-run (the files will skip)"
                )
        if self.read_whole_table and any(
            a["op"] in ("add", "remove", "add_dv", "remove_dv")
            for a in other["actions"]
        ):
            raise CommitConflict(
                f"commit {other['version']} changed table data while "
                f"this transaction read the WHOLE table (WHEN NOT "
                f"MATCHED BY SOURCE probes every row — even a pure "
                f"append invalidates its verdict) — re-run against "
                f"the current snapshot"
            )
        theirs_removed = {
            a["file"]
            for a in other["actions"]
            if a["op"] in ("remove", "remove_dv")
        }
        theirs_dv_targets = {
            t
            for a in other["actions"]
            if a["op"] == "add_dv"
            for t in a.get("targets", ())
        }
        ours_removed = {
            a["file"]
            for a in self.actions
            if a["op"] in ("remove", "remove_dv")
        }
        clash = theirs_removed & (self.read_files | ours_removed)
        if clash:
            raise CommitConflict(
                f"commit {other['version']} removed files this transaction "
                f"read or removed: {sorted(clash)[:4]} — re-run against the "
                f"current snapshot"
            )
        # the DV direction: they position-deleted from a file we are
        # REMOVING — our staged rewrite/compaction was derived without
        # their vector and would resurrect the rows it deletes.  (Two
        # concurrent DVs never conflict: position subtraction is
        # idempotent, and a DV against a file we merely READ is fine —
        # snapshot isolation, their delete logically follows ours.)
        dv_clash = theirs_dv_targets & ours_removed
        if dv_clash:
            raise CommitConflict(
                f"commit {other['version']} added deletion vectors "
                f"targeting files this transaction removes: "
                f"{sorted(dv_clash)[:4]} — re-run against the current "
                f"snapshot"
            )
        # UPDATES derive new row images from the rows they read, so
        # unlike plain deletes they cannot commute with a concurrent
        # DV on the same files: the update's reinserts would resurrect
        # the other side's deleted/updated rows (and two updates on
        # the same file would double-reinsert).  Either side's update
        # targets overlapping the other side's DV targets conflicts —
        # Delta's ConcurrentDeleteRead posture for UPDATE.
        ours_dv_targets = {
            t
            for a in self.actions
            if a["op"] == "add_dv"
            for t in a.get("targets", ())
        }
        ours_upd_targets = {
            t
            for a in self.actions
            if a["op"] == "add_dv" and a.get("role") == "update"
            for t in a.get("targets", ())
        }
        theirs_upd_targets = {
            t
            for a in other["actions"]
            if a["op"] == "add_dv" and a.get("role") == "update"
            for t in a.get("targets", ())
        }
        upd_clash = (ours_upd_targets & theirs_dv_targets) | (
            theirs_upd_targets & ours_dv_targets
        )
        if upd_clash:
            raise CommitConflict(
                f"commit {other['version']} and this transaction carry "
                f"an UPDATE and a concurrent delete/update touching the "
                f"same file(s): {sorted(upd_clash)[:4]} — the update's "
                f"reinserts would resurrect the other side's removed "
                f"rows; re-run against the current snapshot"
            )


def convert_to_lakehouse(
    spark: SparkSession, path: str, partitioned_by=None
) -> int:
    """CONVERT an existing plain-parquet directory to a lakehouse
    table IN PLACE (Delta's ``CONVERT TO DELTA``): no byte of data
    moves — one commit stamps an add action per existing file,
    carrying its footer stats (computed distributed past the staging
    threshold), with the schema resolved from the files' union.  From
    that commit on the directory IS a transactional table: snapshot
    reads, DML, time travel, the registered format — everything.

    ``partitioned_by`` — a list of ``(name, type)`` pairs — converts
    a HIVE-PARTITIONED layout (Delta's ``CONVERT TO DELTA parquet.
    `dir` PARTITIONED BY (...)``): each file's partition values are
    recovered from its ``key=value`` path segments into the add
    action's stats (min = max = the value, so partition predicates
    stats-prune exactly like data predicates on every planning
    route), and the columns join the logical schema — readers fill
    them from the file path (:func:`_pval_column`), writes
    materialize them, both coexist in one scan.  Every declared
    column must appear in every file's path; the spec must cover
    every ``key=value`` level the layout has (extra undeclared
    levels would silently drop data the same way the unpartitioned
    refusal below guards against).

    Constraints, loudly enforced:

    - refuses a directory that is already a lakehouse table;
    - refuses Hive-partitioned layouts WITHOUT a ``partitioned_by``
      spec: the partition values live in DIRECTORY NAMES, not in the
      files, and the log's direct-file reads would silently drop
      those columns — Delta's CONVERT demands the spec for the same
      reason; flat directories (including nested plain subdirs)
      convert as-is;
    - schemas across files must align by (name, type) prefix-or-equal
      union semantics; genuinely different footprints mark the table
      ``evolved`` so reads footer-merge.

    Returns the commit version (1)."""
    root = pathlib.Path(path)
    if latest_commit(path) > 0:
        raise ValueError(f"{path} is already a lakehouse table")
    pcols = [(str(n), str(t)) for n, t in (partitioned_by or [])]
    declared_p = {n for n, _t in pcols}
    rels = []
    for p in sorted(root.rglob("*.parquet")):
        rel = p.relative_to(root)
        parts = rel.parts[:-1]
        if any(seg.startswith(("_", ".")) for seg in rel.parts):
            continue  # metadata/hidden debris is not table data
        hive_keys = [
            seg.partition("=")[0] for seg in parts if "=" in seg
        ]
        if hive_keys and not pcols:
            raise ValueError(
                f"{path} is Hive-partitioned ({'/'.join(parts)}): the "
                f"partition values live in directory names, which a "
                f"converted table's direct-file reads would silently "
                f"drop — pass partitioned_by=[(col, type), ...] "
                f"(SQL: CONVERT ... PARTITIONED BY (col type, ...))"
            )
        if pcols:
            missing = declared_p - set(hive_keys)
            extra = set(hive_keys) - declared_p
            if missing or extra:
                raise ValueError(
                    f"partition spec mismatch at {rel}: declared "
                    f"{sorted(declared_p)}, path has "
                    f"{sorted(hive_keys)}"
                )
        rels.append(str(rel))
    if not rels:
        raise ValueError(f"no parquet files under {path}")
    # row addresses (``_dv_file``) key files by BASENAME — an engine
    # invariant its own UUID-staged names guarantee, but Spark's
    # partitioned/nested output reuses one task's name across
    # directories (year=2024/part-00000-X == year=2023/part-00000-X).
    # Colliding files are renamed IN PLACE (same-directory metadata
    # op, no data movement) before the commit references them;
    # without this, MOR deletes and CoW hit-detection would silently
    # conflate same-named files across directories.
    from collections import Counter

    base_counts = Counter(pathlib.PurePosixPath(r).name for r in rels)
    fixed = []
    for r in rels:
        pr = pathlib.PurePosixPath(r)
        if base_counts[pr.name] > 1:
            nb = f"{pr.stem}-{uuid.uuid4().hex[:8]}{pr.suffix}"
            (root / r).rename(root / str(pr.parent / nb))
            fixed.append(str(pr.parent / nb))
        else:
            fixed.append(r)
    rels = fixed
    stats = _staged_stats([root / r for r in rels])
    if pcols:
        # partition values -> per-file stats (min = max = value, typed
        # like footer stats), so partition predicates skip files on
        # every planning route with zero special-casing
        for r in rels:
            st = stats.get(str(root / r))
            if st is None:
                continue
            vals = _hive_pvals(r, pcols)
            for n, t in pcols:
                if n in st.get("cols", {}):
                    raise ValueError(
                        f"partition column {n!r} also exists in the "
                        f"data of {r} — drop it from the spec or "
                        f"from the files"
                    )
                v = vals.get(n)
                if v is None:
                    st.setdefault("cols", {})[n] = {
                        "min": None, "max": None,
                        "nulls": st.get("rows", 0),
                    }
                else:
                    k = _pval_stat(v, t)
                    st.setdefault("cols", {})[n] = {
                        "min": k, "max": k, "nulls": 0,
                    }
    unified = spark.read.option("mergeSchema", "true").parquet(
        *[str(root / r) for r in rels]
    ).schema
    declared = [(f.name, f.dataType.simpleString()) for f in unified]
    if pcols:
        # partition columns join the logical schema LAST (Spark's own
        # partition-discovery convention)
        data_names = {n for n, _t in declared}
        dup = declared_p & data_names
        if dup:
            raise ValueError(
                f"partition column(s) {sorted(dup)} also exist in the "
                f"file data — drop them from the spec or the files"
            )
        declared += pcols
    # non-evolved reads scan without footer-merging, which assumes
    # ONE physical schema — any divergence across files (missing
    # columns, promoted types) must flag the table evolved.  Past the
    # staging threshold the check rides ONE Spark job (like the stats
    # pass above); below it the serial footer reads are cheaper.
    def _schema_str(p: str) -> str:
        import pyarrow.parquet as _pq

        return str(_pq.ParquetFile(p).schema_arrow)

    fulls = [str(root / r) for r in rels]
    if pcols:
        evolved = True  # forced below; skip the footprint sweep
    elif len(fulls) >= _STATS_DISTRIBUTED_MIN_FILES:
        sc = spark.sparkContext
        n = max(1, min(len(fulls), sc.defaultParallelism))
        evolved = (
            sc.parallelize(fulls, n).map(_schema_str).distinct().count()
            > 1
        )
    else:
        evolved = len({_schema_str(p) for p in fulls}) > 1
    t = Transaction(path)
    meta: dict = {"schema": declared}
    if pcols:
        meta["pcols"] = pcols
        # converted files LACK the partition columns while any later
        # append/rewrite materializes them — footprints will diverge,
        # so reads must footer-merge from day one
        meta["evolved"] = True
    elif evolved:
        meta["evolved"] = True
    t.actions.append({"op": "set_meta", "meta": meta})
    rows = 0
    for r in rels:
        st = stats[str(root / r)]
        t.actions.append(
            {"op": "add", "file": r, "role": "convert", "stats": st}
        )
        rows += (st or {}).get("rows", 0)
    t._ops.append("convert")
    t.metrics["rows_converted"] = rows
    t.metrics["files_converted"] = len(rels)
    return t.commit()


def version_before_timestamp(path: str, ts: float) -> int:
    """The largest version whose commit timestamp is STRICTLY before
    ``ts`` — 0 when every commit is at/after it.  This is the stream
    ``startingTimestamp`` resolution (Delta's: the stream emits every
    commit stamped AT or AFTER the timestamp; a timestamp predating
    the table reads from the beginning rather than raising)."""
    log = pathlib.Path(path) / _LOG_DIR
    best = 0
    for v in _commit_versions(path):
        p = log / f"{v:08d}.json"
        try:
            body = json.loads(p.read_text())
        except (OSError, ValueError):
            continue
        cts = float(body.get("ts") or p.stat().st_mtime)
        if cts < ts:
            best = max(best, v)
    return best


def copy_sources(path: str, version: int | None = None) -> set[str]:
    """The COPY INTO skip ledger: every source file an earlier
    ``copy_into`` loaded — the ``copy`` rows of the newest checkpoint
    generation ≤ version plus the ``copy_source`` actions after it,
    so the ledger survives retention.  Driver JSON work is O(commits
    since checkpoint), like any state read."""
    return snapshot(path, version).state.copied


def copy_into(
    spark: SparkSession,
    path: str,
    source: str,
    pattern: str | None = None,
    file_format: str = "parquet",
) -> dict:
    """``COPY INTO`` (Delta's idempotent bulk ingestion): load the
    files under ``source`` into the table at ``path``, SKIPPING every
    file an earlier COPY already loaded — retry-safe by construction,
    the operator that turns "rerun the ingestion job" from a
    dedup-cleanup incident into a no-op.

    File-level exactly-once: the loaded-file ledger is ``copy_source``
    ACTIONS in the same commit as the data adds (one atomic rename
    covers both — a crash before the commit re-loads cleanly, a crash
    after skips cleanly; no sidecar can desynchronize).  The ledger
    survives checkpoints and retention (checkpoint generations carry
    it as ``copy`` rows), and two CONCURRENT copies of overlapping sources
    conflict at commit time (``_validate_against`` intersects their
    ``copy_source`` paths) instead of silently double-loading.

    ``pattern`` is a glob over the source-relative path (Databricks'
    ``PATTERN``).  ``file_format``: ``parquet`` or ``csv`` (csv reads
    header-less against the table's committed schema, the reference's
    landing shape).  Rows append under the table contract — schema
    gate, constraints, CDF all apply (the commit is a plain insert to
    the change feed).

    Scale: listing is one directory walk; only NEW files are read,
    as one distributed job; the skip ledger is O(loaded files) JSON
    across retained commits — checkpoint cadence keeps the replay
    tail bounded exactly as for file state.

    Returns ``{"files_loaded", "files_skipped", "rows_loaded",
    "version"}`` (version None when nothing new).

    Cites: jobs/etl/glue_spark_trades_etl.py (the reference re-crawls
    and re-reads its landing zone each run and relies on job-level
    bookmarks; COPY INTO is the table-native, crash-exact form)."""
    import fnmatch

    src_root = pathlib.Path(source)
    if not src_root.exists():
        raise ValueError(f"COPY INTO source {source} does not exist")
    suffix = {"parquet": ".parquet", "csv": ".csv"}.get(file_format)
    if suffix is None:
        raise ValueError(
            f"COPY INTO supports parquet/csv, got {file_format!r}"
        )
    cands = []
    for p in sorted(src_root.rglob(f"*{suffix}")):
        rel = p.relative_to(src_root)
        if any(seg.startswith(("_", ".")) for seg in rel.parts):
            continue
        if pattern and not fnmatch.fnmatch(str(rel), pattern):
            continue
        cands.append(str(p.resolve()))
    loaded = copy_sources(path)
    fresh = [p for p in cands if p not in loaded]
    skipped = len(cands) - len(fresh)
    if not fresh:
        return {
            "files_loaded": 0,
            "files_skipped": skipped,
            "rows_loaded": 0,
            "version": None,
        }
    t = Transaction(path)
    if file_format == "parquet":
        df = spark.read.option("mergeSchema", "true").parquet(*fresh)
    else:
        fields = t._effective_meta().get("schema", [])
        if not fields:
            raise ValueError(
                "COPY INTO csv needs a committed table schema to read "
                "against — create the table first"
            )
        ddl = ", ".join(f"`{n}` {ty}" for n, ty in fields)
        df = spark.read.schema(ddl).csv(list(fresh))
    t.append(df)
    rows = t.metrics.get("rows_appended", 0)
    for p in fresh:
        st = pathlib.Path(p).stat()
        t.actions.append(
            {
                "op": "copy_source",
                "file": p,
                "etag": f"{st.st_size}:{int(st.st_mtime)}",
            }
        )
    t._ops.append("copy_into")
    v = t.commit()
    return {
        "files_loaded": len(fresh),
        "files_skipped": skipped,
        "rows_loaded": rows,
        "version": v,
    }


def vacuum_orphans(
    path: str, min_age_sec: float = 300.0, dry_run: bool = False
) -> int:
    """Sweep data files NO commit ever referenced, plus stale staging
    dirs — crash debris (a writer that staged but never committed).
    Files a later commit REMOVED are still referenced (time travel to
    the older version reads them) and are retained here; expiring old
    versions is a retention policy, not an orphan sweep.  Age gate: a
    LIVE writer's staged-but-uncommitted files look identical to
    debris, so only files older than ``min_age_sec`` go (pass 0 only under a
    known-single-writer window).  ``dry_run`` counts what WOULD go
    without touching anything (Delta's ``VACUUM ... DRY RUN``).
    Referenced = named by a retained commit or by an add/dv row of a
    checkpoint generation (after :func:`expire_versions` the expired
    prefix's survivors are named only by the floor generation); an
    unreadable generation stops the sweep.  Returns files removed (or
    would-be-removed)."""
    import time

    from . import lakehouse_checkpoint as _ckpt  # lazy: circular import

    root = pathlib.Path(path)
    # resolving the base converts a table expired under the former
    # JSON checkpoint before its references are counted
    snapshot(path)
    referenced: set[str] = set()
    for v in _commit_versions(path):
        for a in _read_commit(path, v)["actions"]:
            if a["op"] in ("add", "add_dv", "add_cdc"):
                referenced.add(a["file"])
    for g in _ckpt._generations(path):
        for b in _ckpt._base_batches(path, g, ["add", "dv"], columns=["file"]):
            referenced.update(b.column("file").to_pylist())
    live_names = {pathlib.PurePosixPath(f).name for f in referenced}
    now = time.time()
    removed = 0

    def _old(p: pathlib.Path) -> bool:
        try:
            return now - p.stat().st_mtime >= min_age_sec
        except OSError:
            return False

    for d in (root / _DATA_DIR, root / _DV_DIR, root / _CDC_DIR):
        if not d.exists():
            continue
        for p in d.glob("*.parquet"):
            if p.name in live_names or not _old(p):
                continue
            if not dry_run:
                p.unlink()
            removed += 1
        # write_single_file staging dirs a crash left mid-rename
        for p in d.glob("_tmp_*"):
            if _old(p):
                if not dry_run:
                    shutil.rmtree(p, ignore_errors=True)
                removed += 1
    for p in root.glob(".stage-*"):
        if _old(p):
            if not dry_run:
                shutil.rmtree(p, ignore_errors=True)
            removed += 1
    log = root / _LOG_DIR
    if log.exists():
        # commit bodies stranded between write_text and os.link
        for p in log.glob(".tmp-*"):
            if _old(p):
                try:
                    if not dry_run:
                        p.unlink()
                    removed += 1
                except OSError:
                    pass
        # parquet-checkpoint staging DIRS a crashed write left between
        # its part writes and the atomic rename
        for p in log.glob(f".{_ckpt._CKPT_PREFIX}*-tmp-*"):
            if p.is_dir() and _old(p):
                if not dry_run:
                    shutil.rmtree(p, ignore_errors=True)
                removed += 1
    return removed
