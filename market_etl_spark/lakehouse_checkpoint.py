"""The log state as a PARQUET checkpoint, and the one scan planner.

A 100 TB table at 128 MB/file carries ~800k live add actions; a
driver that replays them from the JSON log, then loops
``_stats_admit`` per file, becomes the planning bottleneck Delta
solved by checkpointing the log AS PARQUET.  The checkpoint is
strictly DERIVED: the JSON log stays the only source of truth, and
every consumer falls back to JSON replay when no checkpoint exists
or its parts cannot be read.

Layout — ``_log/ckptpq-{version:08d}/`` is a parquet DATASET (parts
of ~100k rows), one row per state element in Delta's checkpoint
shape (add rows carry the footer stats as a JSON string):

    kind:    'add' | 'dv' | 'meta' | 'txn'
    file:    table-relative path ('' for meta/txn rows)
    stats:   JSON string of the add action's footer stats (may be '')
    payload: JSON string (table meta / txn app+version)

Every read composes the Delta way — newest parquet checkpoint ≤ v
plus the JSON tail (:func:`_base_and_tail`) — and every generation
lands through :func:`_land`.  :func:`write_parquet_checkpoint`
bootstraps from JSON replay; :func:`advance_parquet_checkpoint`
streams the base through as Arrow batches minus what the tail
supersedes.  :func:`plan_scan` is THE scan planner behind
``read_table`` and the DataSource reader: :func:`prune_scan_arrow`
decides each streamed batch with ``pyarrow.compute`` over stats
parsed at read time (what it cannot decide exactly goes to
:func:`lakehouse._stats_admit` row by row), else JSON replay.  Only
:func:`stats_distributed` (staged-file footer stats as ONE Spark
job) needs a SparkSession.

Reference anchor: the reference's metadata plane is the Glue catalog
+ MSCK (sql/athena_repair_partitions.sql; re-crawled, not
transactional); both the JSON log and this parquet plane are engine
extensions.
"""

from __future__ import annotations

import itertools
import json
import os
import pathlib
import uuid
from typing import NamedTuple

from pyspark.sql import SparkSession

from . import lakehouse as lk

_CKPT_PREFIX = lk._PQ_CKPT_PREFIX  # layout owned by the log module:
# expire_versions and vacuum_orphans sweep these dirs by prefix

_COLS = ["kind", "file", "stats", "payload"]
_PART_ROWS = 100_000  # rows per part file


def _ckpt_dir(path: str, version: int) -> pathlib.Path:
    return pathlib.Path(path) / lk._LOG_DIR / f"{_CKPT_PREFIX}{version:08d}"


#: Commits between automatic checkpoint advances (Delta checkpoints
#: its JSON log every 10 commits).  ``0`` disables auto-advance.
#: Auto-advance is OPT-IN per table: it engages only after a first
#: explicit :func:`write_parquet_checkpoint` bootstrap.
AUTO_ADVANCE_CONF = "spark.market_etl.lakehouse.checkpointInterval"
AUTO_ADVANCE_DEFAULT = 10


def _generations(path: str) -> list[int]:
    """Versions of the parquet checkpoints present, ascending."""
    log = pathlib.Path(path) / lk._LOG_DIR
    return sorted(
        int(p.name[len(_CKPT_PREFIX):])
        for p in log.glob(f"{_CKPT_PREFIX}*")
        if p.is_dir() and p.name[len(_CKPT_PREFIX):].isdigit()
    )


def latest_parquet_checkpoint(
    path: str, max_version: int | None = None
) -> int | None:
    """Newest parquet checkpoint version ≤ ``max_version`` (None =
    any), or None."""
    return max(
        (v for v in _generations(path) if max_version is None or v <= max_version),
        default=None,
    )


class _Tail(NamedTuple):
    """Net effect of a run of commits.  ``added`` maps file -> stats
    JSON string; ``added``/``removed`` are disjoint, likewise the DV
    pair; ``meta`` and ``txns`` are the folded updates."""

    added: dict
    removed: set
    dv_added: set
    dv_removed: set
    meta: dict
    txns: dict

    @property
    def gone(self) -> set:
        """Files whose BASE add/dv rows must drop: all the tail removed
        or re-emits (a RESTORE's remove + re-add nets to ``added``; the
        base row would duplicate the file, ADVICE r12)."""
        return self.removed | set(self.added) | self.dv_removed | self.dv_added


def _tail_net(path: str, v_from: int, v_to: int) -> _Tail:
    """Net effect of commits (v_from, v_to] — delta-sized driver
    work, in replay order.  Each op evicts the file from the opposite
    bucket, and a remove always lands in ``removed`` so a base add row
    can never outlive a final tail delete."""
    t = _Tail({}, set(), set(), set(), {}, {})
    for i in range(v_from + 1, v_to + 1):
        c = lk._read_commit(path, i)
        txn = c.get("txn")
        if txn:
            t.txns[txn["app"]] = max(t.txns.get(txn["app"], -1), txn["version"])
        for a in c["actions"]:
            if a["op"] == "add":
                t.removed.discard(a["file"])
                t.added[a["file"]] = (
                    json.dumps(a["stats"]) if a.get("stats") else ""
                )
            elif a["op"] == "remove":
                # ALWAYS lands in `removed`, even cancelling a tail
                # re-add: only `removed` evicts a base add row (ADVICE
                # r13); for a base-absent file it is a no-op
                t.added.pop(a["file"], None)
                t.removed.add(a["file"])
            elif a["op"] == "add_dv":
                t.dv_removed.discard(a["file"])
                t.dv_added.add(a["file"])
            elif a["op"] == "remove_dv":
                # as `remove`: only `dv_removed` evicts a base dv row
                t.dv_added.discard(a["file"])
                t.dv_removed.add(a["file"])
            elif a["op"] == "set_meta":
                t.meta.update(a["meta"])
    return t


def _base_and_tail(path: str, version: int | None) -> tuple[int, int, _Tail]:
    """``(v, v0, tail)``: the newest parquet checkpoint v0 ≤ ``version``
    (default latest) and the net JSON tail (v0, v] — the Delta read
    protocol every consumer here composes.  Raises when no parquet
    checkpoint ≤ v exists (callers fall back to
    :func:`lakehouse._state_full`)."""
    v = lk.latest_commit(path) if version is None else version
    v0 = latest_parquet_checkpoint(path, v)
    if v0 is None:
        raise ValueError(f"no parquet checkpoint ≤ version {v} at {path}")
    return v, v0, _tail_net(path, v0, v)


class _Unreadable(Exception):
    """A checkpoint part could not be opened or scanned (truncated or
    foreign bytes); planning falls back to JSON replay."""


def _base_batches(path: str, v0: int, kinds, gone=(), columns=_COLS):
    """The base checkpoint's rows of ``kinds`` minus those whose file
    is in ``gone``, STREAMED as Arrow record batches — peak memory is
    a few batches, never the O(files) base table.  Open and scan
    errors surface as :class:`_Unreadable`; errors in the consumer's
    own work on a batch do not pass through here."""
    import pyarrow as pa
    import pyarrow.dataset as pads

    filt = pads.field("kind").isin(list(kinds))
    if gone:
        filt = filt & ~pads.field("file").isin(list(gone))
    try:
        dset = pads.dataset(str(_ckpt_dir(path, v0)), format="parquet")
        yield from dset.scanner(
            columns=list(columns), filter=filt, batch_size=16384
        ).to_batches()
    except (OSError, pa.ArrowException) as e:
        raise _Unreadable(f"checkpoint {v0} at {path}: {e}") from e


def _base_side(
    path: str, v0: int, tail: _Tail, kinds=("meta", "dv", "txn")
) -> tuple[dict, set, dict]:
    """``(meta, live DV set, txn high-water map)`` at the tail's end:
    the base checkpoint's small rows (one meta row, one txn row per
    app, DVs bounded by the purge cadence) folded with the tail."""
    meta: dict = {}
    dvs: set = set()
    txns: dict = {}
    cols = ["kind", "file", "payload"] if "dv" in kinds else ["kind", "payload"]
    for batch in _base_batches(path, v0, kinds, tail.gone, cols):
        for row in batch.to_pylist():
            if row["kind"] == "meta":
                meta = json.loads(row["payload"]) if row["payload"] else {}
            elif row["kind"] == "dv":
                dvs.add(row["file"])
            else:
                rec = json.loads(row["payload"])
                txns[rec["app"]] = rec["version"]
    meta.update(tail.meta)
    for app, tv in tail.txns.items():
        txns[app] = max(txns.get(app, -1), tv)
    return meta, dvs | tail.dv_added, txns


def _live_adds(path: str, v0: int, tail: _Tail):
    """Every live add at the tail's end as Arrow ``(file, stats JSON)``
    record batches: the base rows streamed, then the tail's."""
    import pyarrow as pa

    yield from _base_batches(path, v0, ["add"], tail.gone, ["file", "stats"])
    yield pa.record_batch(
        [pa.array(list(c), pa.string()) for c in (tail.added, tail.added.values())],
        names=["file", "stats"],
    )


def _state_rows(adds: dict, dvs, meta: dict, txns: dict) -> list[tuple]:
    """Checkpoint rows for ``{file: stats JSON}`` adds, DV files, the
    table meta and the txn map, in the layout's order."""
    rows = [("add", f, s, "") for f, s in sorted(adds.items())]
    rows += [("dv", f, "", "") for f in sorted(dvs)]
    rows.append(("meta", "", "", json.dumps(meta)))
    rows += [
        ("txn", "", "", json.dumps({"app": a, "version": tv}))
        for a, tv in sorted(txns.items())
    ]
    return rows


def _rows_batch(rows: list[tuple]):
    import pyarrow as pa

    cols = list(zip(*rows)) if rows else [()] * len(_COLS)
    return pa.RecordBatch.from_arrays(
        [pa.array(c, pa.string()) for c in cols], names=_COLS
    )


def state_arrow(
    path: str, version: int | None = None
) -> tuple[int, dict, set, dict]:
    """``(version, {live file: stats JSON str}, live DV set, meta)``
    composed from the newest parquet checkpoint ≤ ``version`` plus the
    JSON tail: a COLUMNAR read of the O(files) base, JSON work only
    for the tail.  Raises when no parquet checkpoint ≤ version exists
    (callers fall back to :func:`lakehouse._state_full`)."""
    v, v0, tail = _base_and_tail(path, version)
    meta, dvs, _txns = _base_side(path, v0, tail, ("meta", "dv"))
    adds: dict = {}
    for b in _live_adds(path, v0, tail):
        adds.update(zip(b.column("file").to_pylist(), b.column("stats").to_pylist()))
    return v, adds, dvs, meta


def meta_arrow(path: str, version: int | None = None) -> tuple[int, dict]:
    """``(version, table meta)`` from the newest parquet checkpoint ≤
    ``version`` plus the tail's ``set_meta`` folds — a projected
    pyarrow read of the meta row, no session, no O(files) state
    build."""
    v, v0, tail = _base_and_tail(path, version)
    meta, _dvs, _txns = _base_side(path, v0, tail, ("meta",))
    return v, meta


#: committed column type -> Arrow type of its stats in the vectorised
#: prune; other types (dates and timestamps, which _align_temporal may
#: promote, booleans, decimals) are decided row by row
_STAT_TYPES = {
    **dict.fromkeys(("tinyint", "smallint", "int", "bigint"), "int64"),
    **dict.fromkeys(("float", "double"), "float64"),
    "string": "string",
}
#: every ISO date/datetime string _align_temporal tests starts so
_ISO_LIKE = r"^.{4}-.{2}-.{2}"


def _vector_plan(meta: dict, conj) -> list | None:
    """``[(physical column, stat type, op, key scalars)]`` for the
    physical-name ``conj``, or None when a conjunct needs the
    row-by-row rule.  Keys are None where _stats_admit admits whatever
    the bounds (no skipping key, or a TypeError against them)."""
    import datetime

    import pyarrow as pa

    cm = lk._colmap(meta)
    types = {cm.get(n, n): _STAT_TYPES.get(str(t).lower())
             for n, t in meta.get("schema", [])}
    plan = []
    for c, op, val in conj:
        vals = val if op == "in" else [val]
        if (types.get(c) is None or op not in ("=", "<", "<=", ">", ">=", "in")
                or not isinstance(vals, (list, tuple, set, frozenset))):
            return None
        t, keys = pa.type_for_alias(types[c]), []
        for x in vals:
            k = lk._json_stat(x)
            if isinstance(x, datetime.date) or (
                t == pa.int64() and isinstance(k, float) and not k.is_integer()
            ):
                return None
            if k is None or (t == pa.string()) != isinstance(k, str):
                keys = None
                break
            try:  # refuses inexact conversions and lone surrogates
                keys.append(pa.scalar(k, t))
            except (ValueError, TypeError, OverflowError):
                return None
        plan.append((c, t, op, keys))
    return plan


def _decide(tbl, c: str, t, op: str, keys):
    """``(admit, unsure)`` numpy masks of one conjunct over parsed stats,
    by _stats_admit's rules in its order.  ``unsure`` marks compared
    rows the masks may get wrong: float bounds from 2**53 (an integer
    stat parsed as a double may round) and ISO-shaped strings
    (_align_temporal may call them ambiguous)."""
    import numpy as np
    import pyarrow as pa
    import pyarrow.compute as pc

    def mask(x):
        return pc.fill_null(x, False).to_numpy(zero_copy_only=False)

    rows, col = tbl.column("rows"), pc.struct_field(tbl.column("cols"), c)
    lo, hi = pc.struct_field(col, "min"), pc.struct_field(col, "max")
    zero = mask(pc.equal(rows, 0))
    absent = ~mask(pc.is_valid(col))
    all_null = mask(pc.equal(pc.struct_field(col, "nulls"), rows))
    unbounded = ~mask(pc.and_(pc.is_valid(lo), pc.is_valid(hi)))
    hit, unsure = np.ones(len(rows), bool), np.zeros(len(rows), bool)
    if keys is not None and op in ("=", "in"):
        hit[:] = False
        for k in keys:
            hit |= mask(pc.and_(pc.less_equal(lo, k), pc.greater_equal(hi, k)))
    elif keys is not None:
        fn, side = {"<": (pc.less, lo), "<=": (pc.less_equal, lo),
                    ">": (pc.greater, hi), ">=": (pc.greater_equal, hi)}[op]
        hit = mask(fn(side, keys[0]))
    if keys is not None and t != pa.int64():
        for b in (lo, hi):
            unsure |= mask(
                pc.greater_equal(pc.abs(b), 2.0**53) if t == pa.float64()
                else pc.match_substring_regex(b, _ISO_LIKE)
            )
    compared = ~zero & ~absent & ~all_null & ~unbounded
    return ~zero & (absent | (~all_null & (unbounded | hit))), unsure & compared


def _stats_pruner(meta: dict, predicate):
    """``keep(stats)`` -> numpy mask of _stats_admit's decisions under
    the LOGICAL ``predicate`` for an Arrow array of stats JSON strings.
    Under a :func:`_vector_plan`, a batch parses only ``rows`` and the
    predicate columns' bounds, typed from the committed schema, for
    :func:`_decide`; unsure rows, unparsable batches and unplanned
    predicates run _stats_admit per row."""
    import numpy as np
    import pyarrow as pa
    import pyarrow.compute as pc
    import pyarrow.json as pj

    cm = lk._colmap(meta)
    conj = [(cm.get(c, c), op, val) for c, op, val in predicate]
    if not conj:
        return lambda stats: np.ones(len(stats), bool)

    def by_row(stats):
        sts = [json.loads(s) if s else None for s in stats.to_pylist()]
        return np.array([all(lk._stats_admit(st, *c) for c in conj) for st in sts], bool)

    plan = _vector_plan(meta, conj)
    if plan is None:
        return by_row
    bounds = [(c, pa.struct([("min", t), ("max", t), ("nulls", pa.int64())]))
              for c, t in dict(p[:2] for p in plan).items()]
    parse = pj.ParseOptions(
        explicit_schema=pa.schema([("rows", pa.int64()), ("cols", pa.struct(bounds))]),
        unexpected_field_behavior="ignore",
    )

    def keep(stats):
        # one JSON line per file; '' (no stats) reads as {}, which admits
        lines = pc.if_else(pc.equal(stats, ""), "{}", stats)
        one = pa.ListArray.from_arrays(pa.array([0, len(lines)], pa.int32()), lines)
        blob = pc.binary_join(one, "\n")[0].as_buffer()
        try:
            tbl = pj.read_json(pa.BufferReader(blob), parse_options=parse)
        except pa.ArrowInvalid:
            tbl = None
        if tbl is None or tbl.num_rows != len(stats):  # rows must align
            return by_row(stats)
        out, unsure = np.ones(len(stats), bool), np.zeros(len(stats), bool)
        for c, t, op, keys in plan:
            admit, u = _decide(tbl, c, t, op, keys)
            out &= admit
            unsure |= u
        idx = np.flatnonzero(unsure)
        out[idx] = by_row(stats.take(pa.array(idx, pa.int64())))
        return out

    return keep


def prune_scan_arrow(
    path: str, predicate, version: int | None = None
) -> tuple[int, list[str], list[str], dict, int]:
    """:func:`plan_scan` from the newest parquet checkpoint ≤
    ``version`` plus the JSON tail.  Adds stream through as Arrow
    batches, each decided whole by :func:`_stats_pruner`: peak memory
    is O(survivors + tail + one batch), JSON work O(tail).  Raises
    when no checkpoint ≤ version exists."""
    import pyarrow as pa

    v, v0, tail = _base_and_tail(path, version)
    meta, dvs, _txns = _base_side(path, v0, tail, ("meta", "dv"))
    keep = _stats_pruner(meta, predicate)
    kept: list[str] = []
    total = 0
    for b in _live_adds(path, v0, tail):
        total += b.num_rows
        kept += b.column("file").filter(pa.array(keep(b.column("stats")))).to_pylist()
    return v, sorted(kept), sorted(dvs), meta, total


def _checkpointed(read, path: str, version: int | None, *args):
    """``(v, read(path, *args, v))`` when a parquet checkpoint ≤ v
    exists and its parts read, else ``(v, None)``: the caller replays
    the log.  Only :class:`_Unreadable` falls back; any other error
    (a defect in the decision code) propagates."""
    v = lk.latest_commit(path) if version is None else version
    if latest_parquet_checkpoint(path, v) is not None:
        try:
            return v, read(path, *args, v)
        except _Unreadable:
            pass
    return v, None


def plan_scan(
    path: str, predicate, version: int | None = None, replay=None
) -> tuple[int, list[str], list[str], dict, int]:
    """THE scan planner behind ``read_table`` and the DataSource reader:
    ``(version, surviving files sorted, DV files sorted, meta, total
    live files)`` for LOGICAL ``(column, op, value)`` conjuncts (see
    :func:`lakehouse.prune_files`) at ``version`` (default latest),
    from the newest readable parquet checkpoint ≤ version plus the
    JSON tail, else from JSON replay — or from ``replay``, the one
    :func:`table_state` already took.  Driver-side, session-less."""
    if replay is None:
        v, planned = _checkpointed(prune_scan_arrow, path, version, predicate)
        if planned is not None:
            return planned
        replay = lk._state_full(path, v)
    v, live, dvs, _txns, meta, stats = replay
    cm = lk._colmap(meta)
    conj = [(cm.get(c, c), op, val) for c, op, val in predicate]
    kept = [f for f in sorted(live)
            if all(lk._stats_admit(stats.get(f), *cj) for cj in conj)]
    return v, kept, sorted(dvs), meta, len(live)


def table_state(
    path: str, version: int | None = None
) -> tuple[int, dict, tuple | None]:
    """``(version, table meta, replay)``, resolved as :func:`plan_scan`
    does; ``replay`` is the JSON replay taken when no checkpoint
    serves (else None), for a :func:`plan_scan` at this version."""
    v, read = _checkpointed(meta_arrow, path, version)
    if read is not None:
        return (*read, None)
    replay = lk._state_full(path, v)
    return replay[0], replay[4], replay


def _land(path: str, v: int, batches, keep: int = 0) -> int:
    """Write ``batches`` as checkpoint generation ``v``: parts of
    ~:data:`_PART_ROWS` rows in a tmp dir renamed into place (if the
    generation already landed, the first one stays), then sweep all
    but the ``keep`` newest generations (0 = none).  Returns ``v``."""
    import shutil

    import pyarrow as pa
    import pyarrow.parquet as pq

    schema = _rows_batch([]).schema
    dest = _ckpt_dir(path, v)
    tmp = dest.parent / f".{dest.name}-tmp-{uuid.uuid4().hex[:8]}"
    tmp.mkdir(parents=True)
    buf: list = []
    rows = parts = 0

    def flush() -> None:
        nonlocal buf, rows, parts
        pq.write_table(
            pa.Table.from_batches(buf, schema),
            str(tmp / f"part-{parts:05d}.parquet"),
        )
        buf, rows, parts = [], 0, parts + 1

    for b in batches:
        buf.append(pa.RecordBatch.from_arrays(b.columns, schema=schema))
        rows += b.num_rows
        if rows >= _PART_ROWS:
            flush()
    if buf or not parts:
        flush()
    if dest.exists():
        shutil.rmtree(tmp)
    else:
        os.rename(tmp, dest)
    if keep > 0:
        for old in _generations(path)[:-keep]:
            shutil.rmtree(_ckpt_dir(path, old), ignore_errors=True)
    return v


def write_parquet_checkpoint(path: str, version: int | None = None) -> int:
    """Bootstrap checkpoint: JSON replay once on the driver (the last
    time the full file list must live there), landed as a parquet
    dataset.  Returns the checkpointed version."""
    v, live, dvs, txns, meta, stats = lk._state_full(path, version)
    adds = {f: json.dumps(stats[f]) if stats.get(f) else "" for f in live}
    rows = _state_rows(adds, dvs, meta, txns)
    batches = (
        _rows_batch(rows[i:i + _PART_ROWS])
        for i in range(0, len(rows), _PART_ROWS)
    )
    return _land(path, v, batches)


def advance_parquet_checkpoint(
    path: str, version: int | None = None, keep: int = 2
) -> int:
    """Roll the newest parquet checkpoint forward to ``version``
    (default latest): the base's add/dv rows stream through minus what
    the JSON tail supersedes, then the tail's and the folded meta/txn
    rows — O(tail) JSON work, the O(files) base never on the heap.
    Bootstraps when no checkpoint exists.  Only the ``keep`` newest
    generations survive (default 2: the new one plus its predecessor,
    so a reader racing the advance never loses its base)."""
    v = lk.latest_commit(path) if version is None else version
    if latest_parquet_checkpoint(path, v) is None:
        return write_parquet_checkpoint(path, v)
    v, v0, tail = _base_and_tail(path, v)
    if v0 == v:
        return v
    meta, _dvs, txns = _base_side(path, v0, tail, ("meta", "txn"))
    base = _base_batches(path, v0, ["add", "dv"], tail.gone)
    rows = _state_rows(tail.added, tail.dv_added, meta, txns)
    return _land(path, v, itertools.chain(base, [_rows_batch(rows)]), keep)


def stats_distributed(
    spark: SparkSession, paths, force_cols=()
) -> dict[str, dict | None]:
    """Footer stats for ``paths`` as ONE Spark job: each executor reads
    its files' parquet FOOTERS with the same :func:`lakehouse._file_stats`
    and only the stats dicts return — a rewrite staging thousands of
    files pays one job, not thousands of serial driver reads."""
    import pathlib as _pl

    paths = [str(p) for p in paths]
    if not paths:
        return {}
    sc = spark.sparkContext
    fstats = lk._file_stats
    fc = tuple(force_cols)
    n = max(1, min(len(paths), sc.defaultParallelism))

    def part(it):
        for p in it:
            yield p, fstats(_pl.Path(p), force_cols=fc)

    return dict(sc.parallelize(paths, n).mapPartitions(part).collect())
