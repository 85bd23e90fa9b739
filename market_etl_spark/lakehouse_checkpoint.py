"""The log state as a PARQUET checkpoint, and the one scan planner.

A 100 TB table at 128 MB/file carries ~800k live add actions; a
driver that replays them from the JSON log becomes the planning
bottleneck Delta solved by checkpointing the log AS PARQUET.  A
generation is the ONLY checkpoint format: the log state at v — a
:class:`lakehouse.Snapshot` — is the newest readable generation ≤ v
(none = the empty base) plus the JSON tail folded by
:func:`lakehouse._tail_net`.  :func:`_resolve_base` is the one loop
that picks that generation, and it falls back past an unreadable one
wherever the base is read: snapshot resolution, ``Snapshot.adds()``,
:func:`plan_scan` and :func:`advance_parquet_checkpoint`.  While
commit 1 exists a generation is derived data; after
:func:`lakehouse.expire_versions` the FLOOR generation (the newest at
or below the oldest commit present) is the only copy of the expired
prefix's state, and no sweep drops it.  A table expired under the
former JSON checkpoint is converted once on first read
(:func:`_convert_legacy`).

Layout — ``_log/ckptpq-{version:08d}/`` is a parquet DATASET (parts
of ~100k rows, row groups of :data:`_BATCH_ROWS`), one row per state
element in Delta's checkpoint shape:

    kind:    'add' | 'dv' | 'copy' | 'meta' | 'txn'
    file:    table-relative path; the source path of a COPY INTO
             ('copy'); '' for meta/txn rows
    stats:   JSON string of the add action's footer stats (may be '')
    payload: JSON string (table meta / txn app+version)

A snapshot reads only the base's non-add rows; its add rows stay in
parquet until a caller materialises them or plans over them.  Every
generation lands through :func:`_land`;
:func:`advance_parquet_checkpoint` streams the base's add/dv rows
through as Arrow batches minus what the tail supersedes.
:func:`plan_scan` is THE scan planner behind ``read_table``,
:func:`lakehouse.prune_files` and the DataSource reader: base add
rows are decided batch by batch with ``pyarrow.compute``
(:func:`_stats_pruner`), the tail's decoded adds row by row with
:func:`lakehouse._stats_admit`.  Over :func:`lakehouse.json_replay`
it is the reference route parity checks compare against.  Only
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


class _Unreadable(Exception):
    """A checkpoint part could not be opened or scanned (truncated or
    foreign bytes, or swept under the reader); reads fall back to an
    older generation or the empty base (:func:`_resolve_base`)."""


def _base_batches(path: str, v0: int, kinds, gone=(), columns=_COLS):
    """Generation ``v0``'s rows of ``kinds`` minus those whose file is
    in ``gone``, STREAMED as Arrow record batches — peak memory is a
    few batches, never the O(files) base table; none for ``v0 == 0``,
    the empty base.  Open and scan errors surface as
    :class:`_Unreadable`; errors in the consumer's own work on a batch
    do not pass through here."""
    import pyarrow as pa
    import pyarrow.dataset as pads

    if not v0:
        return
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


def _resolve_base(path: str, v: int, use=None, seen=None):
    """``use(s)`` (default: ``s`` itself) for the Snapshot ``s`` at
    ``v`` on the newest generation ≤ ``v`` whose rows read, else on the
    empty base — THE loop over generations.  An :class:`_Unreadable`
    raised while resolving ``s`` (its non-add rows) or inside ``use``
    (its add rows) moves on to the next older generation.  With
    ``seen``, a Snapshot at ``v`` already resolved, the search starts
    at ``seen.base`` and reuses ``seen`` there.  A table whose commit 1
    is gone and that has no generation ≤ v is converted first
    (:func:`_convert_legacy`)."""
    gens = [g for g in _generations(path) if 0 < g <= v]
    first = pathlib.Path(path) / lk._LOG_DIR / f"{1:08d}.json"
    if not gens and v > 0 and not first.exists():
        gens = _convert_legacy(path, v)
    top = v if seen is None else seen.base
    for g in [*(g for g in reversed(gens) if g <= top), 0]:  # 0 always reads
        try:
            s = seen if seen is not None and seen.base == g else lk._snapshot_on(
                path, v, g, _generation(path, g, ("dv", "copy", "meta", "txn"))
            )
            return s if use is None else use(s)
        except _Unreadable:
            continue


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
    return [_land(path, n, [_rows_batch(rows)])]


def _adds(s) -> dict:
    """``{live file: stats dict | None}`` of Snapshot ``s``: its base's
    add rows decoded, folded with its tail."""
    return _generation(s.path, s.base, ("add",)).then(s.tail).added


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


def _stats_pruner(meta: dict, conj):
    """``keep(stats)`` -> numpy mask of _stats_admit's decisions under
    the PHYSICAL-name conjuncts ``conj`` for an Arrow array of stats
    JSON strings.
    Under a :func:`_vector_plan`, a batch parses only ``rows`` and the
    predicate columns' bounds, typed from the committed schema, for
    :func:`_decide`; unsure rows, unparsable batches and unplanned
    predicates run _stats_admit per row."""
    import numpy as np
    import pyarrow as pa
    import pyarrow.compute as pc
    import pyarrow.json as pj

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


def plan_scan(snap, predicate) -> tuple[list[str], int]:
    """THE scan planner behind ``read_table``, :func:`lakehouse.prune_files`
    and the DataSource reader: ``(surviving live files sorted, total
    live files)`` of the :class:`lakehouse.Snapshot` ``snap`` for
    LOGICAL ``(column, op, value)`` conjuncts.  The base generation's
    add rows stream through :func:`_stats_pruner` as Arrow batches
    (peak memory O(survivors + one batch)); the tail's decoded adds go
    through :func:`lakehouse._stats_admit` one by one.  Over
    :func:`lakehouse.json_replay` this is the reference route.
    Driver-side, session-less."""
    import pyarrow as pa

    meta = snap.state.meta
    cm = lk._colmap(meta)
    conj = [(cm.get(c, c), op, val) for c, op, val in predicate]
    keep = _stats_pruner(meta, conj)

    def plan(s) -> tuple[list[str], int]:
        kept = [f for f, st in s.tail.added.items()
                if all(lk._stats_admit(st, *c) for c in conj)]
        total = len(s.tail.added)
        for b in _base_batches(s.path, s.base, ["add"], s.tail.gone, ["file", "stats"]):
            total += b.num_rows
            kept += b.column("file").filter(pa.array(keep(b.column("stats")))).to_pylist()
        return sorted(kept), total

    return _resolve_base(snap.path, snap.version, plan, snap)


def _land(path: str, v: int, batches, keep: int = 0) -> int:
    """Write ``batches`` as checkpoint generation ``v``: parts of
    ~:data:`_PART_ROWS` rows in a tmp dir renamed into place (if the
    generation already landed, the first one stays; a failed write
    leaves no tmp dir), then sweep every generation but the ``keep``
    newest (0 = no sweep) and, once commit 1 is gone, the floor: the
    newest at or below the oldest commit, the only copy of the expired
    prefix's state.  Returns ``v``."""
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

    try:
        for b in batches:
            for i in range(0, b.num_rows, _PART_ROWS):
                part = b.slice(i, _PART_ROWS)
                buf.append(pa.RecordBatch.from_arrays(part.columns, schema=schema))
                rows += part.num_rows
                if rows >= _PART_ROWS:
                    flush()
        if buf or not parts:
            flush()
    except BaseException:
        shutil.rmtree(tmp, ignore_errors=True)
        raise
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


def write_parquet_checkpoint(path: str, version: int | None = None) -> int:
    """Land the state at ``version`` (default latest) as a generation
    and sweep none: :func:`advance_parquet_checkpoint` with ``keep=0``.
    Returns the checkpointed version."""
    return advance_parquet_checkpoint(path, version, keep=0)


def advance_parquet_checkpoint(
    path: str, version: int | None = None, keep: int = 2
) -> int:
    """Land the state at ``version`` (default latest) as a generation:
    the add/dv rows of the newest readable generation below it stream
    through minus what the JSON tail supersedes, then the tail's and
    the folded copy/meta/txn rows — O(tail) JSON work, the O(files)
    base never on the heap.  With no readable generation below it,
    this bootstraps from the empty base.  A readable generation at
    ``version`` is kept; an unreadable one is replaced.  Only the
    ``keep`` newest generations and the floor survive (0 = no sweep;
    default 2: the new one plus its predecessor, so a reader racing
    the advance never loses its base).  Returns the version."""
    v = lk.latest_commit(path) if version is None else version

    def land(s) -> int:
        if s.base == v:
            return v
        # the resolver passed over any generation at v: it is unreadable
        shutil.rmtree(_ckpt_dir(path, v), ignore_errors=True)
        t, st = s.tail, s.state
        rows = _state_rows(t.added, t.dv_added, st.meta, st.txns, st.copied)
        base = _base_batches(path, s.base, ["add", "dv"], t.gone)
        return _land(path, v, itertools.chain(base, [_rows_batch(rows)]), keep)

    return _resolve_base(path, v, land)


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
