"""MERGE / upsert for plain-parquet partitioned tables.

The lakehouse write pattern the reference's append-only pipeline stops
short of: take a batch of upserts (updates to existing keys + brand-new
rows), and produce the new table state where updates win on key match
and all unmatched existing rows survive (SCD1 semantics — the same
contract as ``MERGE WHEN MATCHED THEN UPDATE WHEN NOT MATCHED THEN
INSERT`` with whole-row updates).

Without a transaction log, atomicity comes from partition-scoped
dynamic overwrite: only partitions that actually contain an upsert key
are read, merged, and rewritten (``partitionOverwriteMode=dynamic``
replaces exactly the written partitions); untouched partitions' files
are never opened. At 100 TB that is the difference between rewriting a
handful of day/symbol directories and rewriting the table.
"""

from __future__ import annotations

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F


def merge_upsert(
    target: DataFrame,
    updates: DataFrame,
    key_cols: list[str],
    op_col: str | None = None,
    delete_op: str = "D",
) -> DataFrame:
    """SCD1 merge as a DataFrame op: ``updates ∪ (target ⟕̸ updates)``.

    The anti join ships only the update KEYS against the target (the
    key set broadcasts when small — the common case for a CDC batch);
    the target side is scanned once and never shuffled when the
    broadcast applies. Column sets must match (whole-row upsert).

    ``op_col`` enables TOMBSTONES (the MERGE third clause — ``WHEN
    MATCHED AND op = 'D' THEN DELETE``, the shape every real CDC feed
    carries per Debezium/Delta): rows whose ``op_col`` equals
    ``delete_op`` remove their key from the target and emit nothing;
    every other op value upserts.  One plan either way — the anti join
    already removes ALL batch keys from the target, so deletes fall
    out of simply not re-inserting the tombstoned rows.  A delete for
    an absent key is a no-op (idempotent, like re-applying any batch).
    """
    keys = updates.select(*key_cols).distinct()
    survivors = target.join(F.broadcast(keys), key_cols, "left_anti")
    if op_col is not None:
        # null-safe: a CDC row with a NULL/missing op must UPSERT, not
        # silently tombstone its key (`op != 'D'` is NULL for NULL ops,
        # and a NULL predicate drops the row — ADVICE r9)
        updates = updates.filter(
            ~F.col(op_col).eqNullSafe(F.lit(delete_op))
        ).drop(op_col)
    return survivors.unionByName(updates)


def merge_into_partitioned(
    spark: SparkSession,
    path: str,
    updates: DataFrame,
    key_cols: list[str],
    partition_cols: list[str],
    op_col: str | None = None,
    delete_op: str = "D",
    evolve_schema: bool = False,
) -> int:
    """Partition-scoped MERGE into a Hive-partitioned parquet directory.

    1. Derive the distinct partition tuples present in ``updates``.
    2. Read ONLY those partitions from the target (partition-pruned
       scan — the pruning filter is an IN over the affected tuples).
    3. :func:`merge_upsert` within the affected slice.
    4. Dynamic-overwrite write: exactly the affected partition
       directories are replaced; everything else is untouched on disk.

    Returns the number of affected partitions. Requires
    ``spark.sql.sources.partitionOverwriteMode=dynamic`` (set by
    :mod:`..session`). New rows may introduce brand-new partitions —
    dynamic overwrite creates them; existing-but-unaffected partitions
    survive byte-for-byte (asserted in tests/test_merge.py).

    ``evolve_schema=True`` is Delta's ``mergeSchema`` for MERGE: a
    batch may carry columns the target lacks — the target side gains
    them as typed NULLs before the merge, so rewritten (affected)
    partitions land with the evolved schema while untouched partition
    files keep the old one on disk.  Readers of an evolved
    plain-parquet table must therefore read with
    ``option("mergeSchema", "true")`` (Delta dodges this by keeping
    the schema in its log; footers are all plain parquet has).
    Columns may only be ADDED; a batch missing target columns still
    errors (upserts are whole-row).

    ``op_col`` threads tombstones through (``delete_op`` rows remove
    their key — see :func:`merge_upsert`).  Deletes have one physical
    wrinkle dynamic overwrite cannot express: a partition whose EVERY
    row is deleted produces zero output rows, so no file lands in it
    and the stale directory would survive the "overwrite".  The merge
    therefore materializes the merged slice once (``localCheckpoint``
    — batch-sized), diffs the affected partition list against the
    partitions actually present in the output, and clears the
    fully-emptied directories explicitly.  That check runs only on
    the tombstone path; the upsert-only path keeps its two-job shape
    (parts collect + write).
    """
    import functools
    import operator

    batch_parts = updates.select(*partition_cols).distinct()
    parts = [tuple(r) for r in batch_parts.collect()]
    if not parts:
        # empty update set: nothing to prune, merge, or rewrite — and
        # callers (foreachBatch appliers) rely on this instead of a
        # separate isEmpty() job per micro-batch.
        return 0
    target = spark.read.parquet(path)
    # OR-of-conjunctions, not struct-isin: equality conjunctions over
    # partition columns are what the source's partition pruning
    # matches.  NULL-SAFE equality (`<=>`), not `=`: a batch row whose
    # partition value is NULL (the __HIVE_DEFAULT_PARTITION__
    # directory) must select that partition's live rows — plain `=`
    # is never true against NULL, which would read the partition as
    # EMPTY, mark it fully-deleted, and destroy rows the batch never
    # targeted (review r9b).  EqualNullSafe still partition-prunes.
    cond = functools.reduce(
        operator.or_,
        [
            functools.reduce(
                operator.and_,
                [F.col(c).eqNullSafe(F.lit(v)) for c, v in zip(partition_cols, p)],
            )
            for p in parts
        ],
    )
    affected = target.filter(cond)
    if evolve_schema:
        known = set(target.columns) | ({op_col} if op_col else set())
        for f in updates.schema.fields:
            if f.name not in known:
                affected = affected.withColumn(
                    f.name, F.lit(None).cast(f.dataType)
                )
        target = affected  # evolved column set drives the selects below
    batch_cols = [*target.columns, *([op_col] if op_col else [])]
    merged = merge_upsert(
        affected, updates.select(*batch_cols), key_cols, op_col, delete_op
    )
    emptied: list[tuple] = []
    if op_col is not None:
        # materialize once: the empty-partition diff and the write
        # both read the checkpointed slice instead of re-running the
        # scan + merge lineage twice
        merged = merged.localCheckpoint()
        present = {
            tuple(r) for r in merged.select(*partition_cols).distinct().collect()
        }
        emptied = [p for p in parts if p not in present]
    # Cluster on the partition columns before the write: every
    # partition directory then lands in ONE task and emits ONE file,
    # instead of (shuffle.partitions × dirs) fragments per merge — an
    # iterated CDC apply otherwise compounds a tiny-files explosion
    # that slows every later scan.  The extra shuffle moves only the
    # affected slice (batch-sized).  For partitions too large for one
    # writer, add a bounded salt column here to split files.
    (
        merged.repartition(*partition_cols)
        .write.mode("overwrite")
        .partitionBy(*partition_cols)
        .parquet(path)
    )
    if emptied:
        # dynamic overwrite never visits a zero-row partition: clear
        # the fully-deleted directories explicitly (driver-side,
        # O(affected partitions) — metadata work, not a data job).
        # Directory names use Spark's Hive partition-path escaping
        # (_hive_escape) — a raw f"{c}={v}" misses the %XX set (':',
        # '=', '#', ...; space is NOT escaped by Spark) and the
        # NULL/'' -> __HIVE_DEFAULT_PARTITION__ mapping, silently
        # leaving the tombstoned partition's files alive.
        import pathlib
        import shutil

        for p in emptied:
            d = pathlib.Path(path).joinpath(
                *[
                    f"{c}={_hive_escape(v)}"
                    for c, v in zip(partition_cols, p)
                ]
            )
            shutil.rmtree(d, ignore_errors=True)
    return len(parts)


#: Characters Spark/Hive escape in partition-path VALUES
#: (ExternalCatalogUtils.charToEscape — control chars plus the set
#: below), rendered as %XX uppercase.  NULL partitions land in the
#: Hive default-partition directory.
_HIVE_ESCAPE_CHARS = set('"#%\'*/:=?\\\x7f{[]^') | {
    chr(c) for c in range(0x20)
}


def _hive_escape(v) -> str:
    """Render a partition VALUE the way Spark names its directory.
    Covered: NULL and '' (both land in the Hive default partition),
    bool (Spark renders lowercase), str/int/date (str() matches).
    Float/decimal partition keys render via Java's toString (e.g.
    '1.0E-7') and are NOT supported on the tombstone-cleanup path —
    an anti-pattern as a partition key anyway."""
    if v is None or v == "":
        return "__HIVE_DEFAULT_PARTITION__"
    if isinstance(v, bool):
        return "true" if v else "false"
    s = str(v)
    return "".join(
        f"%{ord(ch):02X}" if ch in _HIVE_ESCAPE_CHARS else ch for ch in s
    )


def snapshot_diff(
    old: DataFrame,
    new: DataFrame,
    key_cols: list[str],
    compare_cols: list[str] | None = None,
) -> DataFrame:
    """Change-data-capture between two table snapshots: one row per key
    whose state changed, tagged ``added`` / ``removed`` / ``changed``.

    Rows are compared by a single xxhash64 over the compare columns
    (computed scan-side, so the full-outer join shuffles keys + one
    64-bit digest instead of whole rows — the same narrow-shuffle
    discipline as exact dedup). One shuffle on the key for the
    full-outer join; unchanged keys are filtered out before anything
    else happens downstream. This is how you diff yesterday's 100 TB
    snapshot against today's without a transaction log.
    """
    compare_cols = compare_cols or [
        c for c in new.columns if c not in key_cols
    ]
    def digested(df: DataFrame, tag: str) -> DataFrame:
        return df.select(
            *key_cols,
            F.xxhash64(*[F.col(c) for c in compare_cols]).alias(f"_h_{tag}"),
        )

    o = digested(old, "old")
    n = digested(new, "new")
    joined = o.join(n, key_cols, "full_outer")
    return (
        joined.withColumn(
            "change_type",
            F.when(F.col("_h_old").isNull(), F.lit("added"))
            .when(F.col("_h_new").isNull(), F.lit("removed"))
            .when(F.col("_h_old") != F.col("_h_new"), F.lit("changed")),
        )
        .filter(F.col("change_type").isNotNull())
        .select(*key_cols, "change_type")
    )


def read_changes(
    spark: SparkSession,
    path: str,
    v_from: int,
    v_to: int,
    key_cols: list[str],
    compare_cols: list[str] | None = None,
) -> DataFrame:
    """KEYED CHANGE DATA FEED between commit-log versions — the Delta
    ``readChangeFeed`` shape derived by snapshot diff: for every
    version step v in (``v_from``, ``v_to``], emit full-row change
    records tagged ``_change_type`` ∈ {``insert``, ``delete``,
    ``update_preimage``, ``update_postimage``} and
    ``_commit_version`` = v, diffing ``lakehouse.read_table`` at v-1
    and v.  This is what turns whole-table snapshot publishes
    (``Transaction.replace_where(spark, [], df)``), whose commits
    carry no row-level actions, into an INCREMENTAL consumer's input:
    a downstream aggregate refreshes from the (delta-sized) feed
    instead of re-scanning the (table-sized) snapshot — fed to the
    IVM refresh in ``q_version_change_feed``.  The log's
    action-derived feed is :func:`..lakehouse.read_changes`.

    Shape per step: ONE shuffle — both snapshots union-tagged, one
    groupBy on the key collects each side's row image plus a
    scan-side xxhash64 digest, and the 0–2 change records per key
    explode out (no full-outer join, no per-change-type re-join;
    ``snapshot_diff``'s narrow-digest discipline carried to full-row
    emission).  Snapshots must be key-unique — the CDC store contract
    every MERGE writer here maintains."""
    from .lakehouse import read_table

    steps = []
    for v in range(v_from + 1, v_to + 1):
        old = read_table(spark, path, version=v - 1)
        new = read_table(spark, path, version=v)
        steps.append(
            _step_changes(old, new, key_cols, compare_cols).withColumn(
                "_commit_version", F.lit(v)
            )
        )
    if not steps:
        raise ValueError(f"empty version range ({v_from}, {v_to}]")
    out = steps[0]
    for s in steps[1:]:
        out = out.unionByName(s)
    return out


def _step_changes(
    old: DataFrame,
    new: DataFrame,
    key_cols: list[str],
    compare_cols: list[str] | None = None,
) -> DataFrame:
    compare_cols = compare_cols or [
        c for c in new.columns if c not in key_cols
    ]
    # key-only tables (membership sets) have nothing to compare:
    # every matched key is "unchanged", the feed is pure
    # inserts/deletes — hash a constant instead of crashing
    # (xxhash64 requires ≥1 argument; review r10 finding 6)
    cmp_exprs = [F.col(c) for c in compare_cols] or [
        F.lit(0).alias("_none")
    ]

    def side(df: DataFrame, tag: str) -> DataFrame:
        return df.select(
            *key_cols,
            F.struct(*cmp_exprs).alias("_row"),
            F.xxhash64(*cmp_exprs).alias("_h"),
            F.lit(tag).alias("_side"),
        )

    both = side(old, "o").unionByName(side(new, "n"))
    g = both.groupBy(*key_cols).agg(
        F.max(F.when(F.col("_side") == "o", F.col("_row"))).alias("_o"),
        F.max(F.when(F.col("_side") == "n", F.col("_row"))).alias("_n"),
        F.max(F.when(F.col("_side") == "o", F.col("_h"))).alias("_ho"),
        F.max(F.when(F.col("_side") == "n", F.col("_h"))).alias("_hn"),
    )
    rec = lambda t, r: F.struct(  # noqa: E731
        F.lit(t).alias("t"), F.col(r).alias("r")
    )
    # unchanged keys (same digest both sides) drop BEFORE the explode,
    # so every surviving key emits exactly its 1–2 change records
    changed = g.filter(
        F.col("_ho").isNull()
        | F.col("_hn").isNull()
        | (F.col("_ho") != F.col("_hn"))
    )
    arr = (
        F.when(F.col("_ho").isNull(), F.array(rec("insert", "_n")))
        .when(F.col("_hn").isNull(), F.array(rec("delete", "_o")))
        .otherwise(
            F.array(
                rec("update_preimage", "_o"), rec("update_postimage", "_n")
            )
        )
    )
    ex = changed.select(*key_cols, F.explode(arr).alias("_c"))
    return ex.select(
        *key_cols,
        *[F.col(f"_c.r.{c}").alias(c) for c in compare_cols],
        F.col("_c.t").alias("_change_type"),
    )


def scd2_apply(
    current: DataFrame,
    updates: DataFrame,
    key_cols: list[str],
    compare_cols: list[str],
    effective_col: str = "effective_ts",
    updates_unique: bool = False,
    broadcast_updates: bool = False,
) -> DataFrame:
    """Type-2 slowly-changing-dimension apply: full history, closed
    intervals.

    ``current`` carries the versioned dimension — attribute columns plus
    ``valid_from``, ``valid_to`` (NULL = open) and ``is_current``;
    ``updates`` carries (keys, attrs, effective_ts). For each key whose
    compared attributes actually changed, the open row closes
    (``valid_to`` = effective time, ``is_current`` = false) and a new
    open row appends; no-op updates (same attrs) are dropped — the
    classic Kimball SCD2 contract.

    Shape: ONE equi join of the open slice against the updates (shuffle
    or broadcast — the planner decides from the updates' size; at
    100 TB the updates side is a delta, typically broadcastable), then
    pure unions: closed history passes through untouched, so the cost
    scales with |open slice| + |delta|, never with history depth.

    CDC deltas routinely carry several changes for one key in one
    batch; joining the open slice against a multi-row-per-key delta
    would fan out (multiple closed rows AND multiple open rows per
    key — a corrupted dimension).  The delta is therefore pre-reduced
    to the LATEST row per key (greatest ``effective_col``, attribute
    columns as a deterministic tie-break) before the join — batch
    semantics are "apply the batch's end state", one version step per
    apply, matching a periodically-snapshotting MERGE. Intermediate
    same-batch versions are intentionally collapsed; callers that need
    every intermediate version must apply batches at that granularity.

    ``updates_unique=True`` declares the batch already carries at most
    one row per key, skipping the pre-reduce window (one shuffle saved
    per apply — material when the apply is iterated, e.g. a per-day
    CDC fold).  ``broadcast_updates=True`` declares the delta small
    enough to broadcast: the join and both anti joins then build their
    hash sides from delta-bounded relations (the delta itself, the
    changed keys ⊆ delta, the matched keys ⊆ delta), so an apply
    against a checkpointed dimension — whose unknown stats otherwise
    push the planner to shuffle both sides — runs shuffle-free.  Both
    flags are caller contracts, not inferred; the default path is
    unchanged and planner-decided.
    """
    from pyspark.sql import Window

    if not updates_unique:
        latest = Window.partitionBy(*key_cols).orderBy(
            F.col(effective_col).desc(),
            *[F.col(c).desc() for c in compare_cols],
        )
        updates = (
            updates.withColumn("_rn", F.row_number().over(latest))
            .filter(F.col("_rn") == 1)
            .drop("_rn")
        )
    if broadcast_updates:
        updates = F.broadcast(updates)

    chg = [
        ~F.col(f"c.{a}").eqNullSafe(F.col(f"u.{a}")) for a in compare_cols
    ]
    changed_pred = chg[0]
    for p in chg[1:]:
        changed_pred = changed_pred | p

    open_rows = current.filter(F.col("is_current")).alias("c")
    history = current.filter(~F.col("is_current"))
    u = updates.alias("u")

    key_eq = [F.col(f"c.{k}") == F.col(f"u.{k}") for k in key_cols]
    matched = open_rows.join(u, key_eq, "inner")

    out_cols = [*key_cols, *compare_cols, "valid_from", "valid_to", "is_current"]

    closed = matched.filter(changed_pred).select(
        *[F.col(f"c.{k}") for k in key_cols],
        *[F.col(f"c.{a}") for a in compare_cols],
        F.col("c.valid_from"),
        F.col(f"u.{effective_col}").alias("valid_to"),
        F.lit(False).alias("is_current"),
    )
    fresh = matched.filter(changed_pred).select(
        *[F.col(f"u.{k}") for k in key_cols],
        *[F.col(f"u.{a}") for a in compare_cols],
        F.col(f"u.{effective_col}").alias("valid_from"),
        F.lit(None).cast(current.schema["valid_to"].dataType).alias("valid_to"),
        F.lit(True).alias("is_current"),
    )
    # keys whose open row is unchanged, or with no update at all
    changed_keys = matched.filter(changed_pred).select(
        *[F.col(f"c.{k}").alias(k) for k in key_cols]
    )
    if broadcast_updates:
        changed_keys = F.broadcast(changed_keys)
    untouched_open = open_rows.join(changed_keys, key_cols, "left_anti").select(
        *out_cols
    )
    # brand-new keys (no open row).  With a broadcastable delta, anti
    # join against the MATCHED delta keys (⊆ delta, broadcastable)
    # instead of the open slice's keys — same set-difference, but the
    # build side stays delta-sized rather than dimension-sized.
    if broadcast_updates:
        anti_rhs = F.broadcast(
            matched.select(*[F.col(f"u.{k}").alias(k) for k in key_cols])
        )
    else:
        anti_rhs = open_rows.select(
            *[F.col(f"c.{k}").alias(k) for k in key_cols]
        )
    new_keys = u.join(
        anti_rhs,
        key_cols,
        "left_anti",
    ).select(
        *key_cols,
        *compare_cols,
        F.col(effective_col).alias("valid_from"),
        F.lit(None).cast(current.schema["valid_to"].dataType).alias("valid_to"),
        F.lit(True).alias("is_current"),
    )
    return (
        history.select(*out_cols)
        .unionByName(closed)
        .unionByName(untouched_open)
        .unionByName(fresh)
        .unionByName(new_keys)
    )
