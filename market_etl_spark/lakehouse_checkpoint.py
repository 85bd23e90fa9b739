"""The log state as a PARQUET checkpoint, and the one scan planner.

A 100 TB table at 128 MB/file carries ~800k live add actions; a
driver that replays them from the JSON log becomes the planning
bottleneck Delta solved by checkpointing the log AS PARQUET.  A
generation is the ONLY checkpoint format: the log state at v is the
newest readable generation ≤ v (none = the empty base) plus the JSON
tail folded by :func:`lakehouse._tail_net`.  While commit 1 exists a
generation is derived data (an unreadable one falls back to an older
one or the empty base); after :func:`lakehouse.expire_versions` the
FLOOR generation (the newest at or below the oldest commit present)
is the only copy of the expired prefix's state, and no sweep drops it.
A table expired under the former JSON checkpoint is converted once on
first read (:func:`_convert_legacy`).

Layout — ``_log/ckptpq-{version:08d}/`` is a parquet DATASET (parts
of ~100k rows, row groups of :data:`_BATCH_ROWS`), one row per state
element in Delta's checkpoint shape:

    kind:    'add' | 'dv' | 'copy' | 'meta' | 'txn'
    file:    table-relative path; the source path of a COPY INTO
             ('copy'); '' for meta/txn rows
    stats:   JSON string of the add action's footer stats (may be '')
    payload: JSON string (table meta / txn app+version)

Every generation lands through :func:`_land`.
:func:`advance_parquet_checkpoint` streams the base through as Arrow
batches minus what the tail supersedes.  :func:`plan_scan` is THE scan
planner behind ``read_table`` and the DataSource reader:
:func:`prune_scan_arrow` decides each streamed batch with
``pyarrow.compute`` (what it cannot decide exactly goes to
:func:`lakehouse._stats_admit` row by row).  Only
:func:`stats_distributed` needs a SparkSession.

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
import shutil
import uuid

from pyspark.sql import SparkSession

from . import lakehouse as lk

_CKPT_PREFIX = "ckptpq-"

_COLS = ["kind", "file", "stats", "payload"]
_KINDS = ("add", "dv", "copy", "meta", "txn")
_PART_ROWS = 100_000  # rows per part file
#: rows per row group written and per batch scanned: a scan holds a few
#: row groups, not a whole part
_BATCH_ROWS = 16_384


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


def _base_and_tail(path: str, version: int | None) -> tuple[int, int, lk._Tail]:
    """``(v, v0, tail)``: the newest parquet checkpoint v0 ≤ ``version``
    (default latest) and the net JSON tail (v0, v] — the Delta read
    protocol every consumer here composes.  Raises when no parquet
    checkpoint ≤ v exists (callers fall back to
    :func:`lakehouse._state_full`)."""
    v = lk.latest_commit(path) if version is None else version
    v0 = latest_parquet_checkpoint(path, v)
    if v0 is None:
        raise ValueError(f"no parquet checkpoint ≤ version {v} at {path}")
    return v, v0, lk._tail_net(path, v0, v)


class _Unreadable(Exception):
    """A checkpoint part could not be opened or scanned (truncated or
    foreign bytes); reads fall back to an older generation or the
    empty base."""


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
        # one row group in flight: the consumer decides batch by batch
        yield from dset.scanner(
            columns=list(columns), filter=filt, batch_size=_BATCH_ROWS,
            batch_readahead=1, fragment_readahead=1,
        ).to_batches()
    except (OSError, pa.ArrowException) as e:
        raise _Unreadable(f"checkpoint {v0} at {path}: {e}") from e


def _generation(path: str, v0: int, kinds=_KINDS) -> lk._Tail:
    """Generation ``v0``'s rows of ``kinds`` as the net of commits
    (0, v0], stats decoded.  Raises :class:`_Unreadable`."""
    t = lk._net()
    for b in _base_batches(path, v0, kinds):
        for kind, f, stats, payload in zip(*(b.column(c).to_pylist() for c in _COLS)):
            if kind == "add":
                t.added[f] = json.loads(stats) if stats else None
            elif kind == "dv":
                t.dv_added.add(f)
            elif kind == "copy":
                t.copied.add(f)
            elif kind == "meta":
                t.meta.update(json.loads(payload) if payload else {})
            else:
                rec = json.loads(payload)
                t.txns[rec["app"]] = rec["version"]
    return t


def _resolve_base(path: str, v: int, kinds=_KINDS) -> tuple[int, lk._Tail]:
    """``(v0, base)``: the newest READABLE generation v0 ≤ ``v`` as
    :func:`_generation` reads it, trying older ones past an
    unreadable one, else ``(0, empty net)``.  A table whose commit 1
    is gone and that has no generation ≤ v is converted first
    (:func:`_convert_legacy`)."""
    gens = [g for g in _generations(path) if g <= v]
    first = pathlib.Path(path) / lk._LOG_DIR / f"{1:08d}.json"
    if not gens and v > 0 and not first.exists():
        gens = _convert_legacy(path, v)
    for g in reversed(gens):
        try:
            return g, _generation(path, g, kinds)
        except _Unreadable:
            continue
    return 0, lk._net()


def _convert_legacy(path: str, v: int) -> list[int]:
    """Land the newest JSON checkpoint ``_log/ckpt-N.json`` with oldest
    commit present ≤ N ≤ ``v`` as generation N, ``[N]``; ``[]`` when
    there is none.  That file is the only copy of the state of a table
    expired before parquet generations existed; once landed, the
    generation serves every later read."""
    log = pathlib.Path(path) / lk._LOG_DIR
    oldest = min(lk._commit_versions(path), default=0)
    found = [int(p.stem[5:]) for p in log.glob("ckpt-*.json") if p.stem[5:].isdigit()]
    found = [n for n in found if oldest <= n <= v]
    if not found:
        return []
    n = max(found)
    old = json.loads((log / f"ckpt-{n:08d}.json").read_text())
    stats = old.get("stats", {})
    rows = _state_rows(
        {f: stats.get(f) for f in old["files"]}, old["dvs"], old.get("meta", {}),
        old.get("txns", {}), old.get("copy_sources", ()),
    )
    return [_land_rows(path, n, rows)]


def _live_adds(path: str, v0: int, tail: lk._Tail):
    """Every live add at the tail's end as Arrow ``(file, stats JSON)``
    record batches: the base rows streamed, then the tail's."""
    import pyarrow as pa

    yield from _base_batches(path, v0, ["add"], tail.gone, ["file", "stats"])
    stats = [json.dumps(st) if st else "" for st in tail.added.values()]
    yield pa.record_batch(
        [pa.array(list(c), pa.string()) for c in (tail.added, stats)],
        names=["file", "stats"],
    )


def _state_rows(adds: dict, dvs, meta: dict, txns: dict, copies=()) -> list[tuple]:
    """Checkpoint rows for ``{file: stats dict | None}`` adds, DV files,
    the table meta, the txn map and the COPY INTO sources, in the
    layout's order."""
    rows = [("add", f, json.dumps(s) if s else "", "") for f, s in sorted(adds.items())]
    rows += [("dv", f, "", "") for f in sorted(dvs)]
    rows += [("copy", f, "", "") for f in sorted(copies)]
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
    side = _generation(path, v0, ("meta", "dv")).then(tail)
    adds: dict = {}
    for b in _live_adds(path, v0, tail):
        adds.update(zip(b.column("file").to_pylist(), b.column("stats").to_pylist()))
    return v, adds, side.dv_added, side.meta


def meta_arrow(path: str, version: int | None = None) -> tuple[int, dict]:
    """``(version, table meta)`` from the newest parquet checkpoint ≤
    ``version`` plus the tail's ``set_meta`` folds — a projected
    pyarrow read of the meta row, no session, no O(files) state
    build."""
    v, v0, tail = _base_and_tail(path, version)
    return v, _generation(path, v0, ("meta",)).then(tail).meta


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
    side = _generation(path, v0, ("meta", "dv")).then(tail)
    meta, dvs = side.meta, side.dv_added
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
    generation already landed, the first one stays), then sweep every
    generation but the ``keep`` newest (0 = no sweep) and, once commit
    1 is gone, the floor: the newest at or below the oldest commit, the
    only copy of the expired prefix's state.  Returns ``v``."""
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
            row_group_size=_BATCH_ROWS,
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
        gens = _generations(path)
        oldest = min(lk._commit_versions(path), default=1)
        floor = max((g for g in gens if 1 < oldest >= g), default=None)
        for old in gens[:-keep]:
            if old != floor:
                shutil.rmtree(_ckpt_dir(path, old), ignore_errors=True)
    return v


def _land_rows(path: str, v: int, rows: list[tuple]) -> int:
    return _land(path, v, (
        _rows_batch(rows[i:i + _PART_ROWS]) for i in range(0, len(rows), _PART_ROWS)
    ))


def write_parquet_checkpoint(path: str, version: int | None = None) -> int:
    """Land the state at ``version`` (default latest) as a generation:
    the newest readable generation below it plus the JSON tail, or
    replay from the empty base — the last time the full file list must
    live on the driver.  A readable generation at ``version`` is kept;
    an unreadable one is replaced.  Returns the checkpointed version."""
    v = lk.latest_commit(path) if version is None else version
    v0, t = lk._net_at(path, v)
    if v0 == v:
        return v
    shutil.rmtree(_ckpt_dir(path, v), ignore_errors=True)
    rows = _state_rows(t.added, t.dv_added, t.meta, t.txns, t.copied)
    return _land_rows(path, v, rows)


def advance_parquet_checkpoint(
    path: str, version: int | None = None, keep: int = 2
) -> int:
    """Roll the newest parquet checkpoint forward to ``version``
    (default latest): the base's add/dv rows stream through minus what
    the JSON tail supersedes, then the tail's and the folded
    copy/meta/txn rows — O(tail) JSON work, the O(files) base never on
    the heap.  Bootstraps when no checkpoint exists.  Only the
    ``keep`` newest generations and the floor survive (default 2: the
    new one plus its predecessor, so a reader racing the advance never
    loses its base)."""
    v = lk.latest_commit(path) if version is None else version
    if latest_parquet_checkpoint(path, v) is None:
        return write_parquet_checkpoint(path, v)
    v, v0, tail = _base_and_tail(path, v)
    if v0 == v:
        return v
    side = _generation(path, v0, ("meta", "txn", "copy")).then(tail)
    base = _base_batches(path, v0, ["add", "dv"], tail.gone)
    rows = _state_rows(tail.added, tail.dv_added, side.meta, side.txns, side.copied)
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
