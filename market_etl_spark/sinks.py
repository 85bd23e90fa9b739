"""Sinks (SURVEY.md §2.1 S8/S12): partitioned columnar writes.

Parity: the reference's single write —
``df.write.mode("overwrite").partitionBy("year","month","day","symbol")
.parquet(out)`` (jobs/etl/glue_spark_trades_etl.py:194-197), Snappy at
the table level.
"""

from __future__ import annotations

from collections.abc import Sequence

from pyspark.sql import DataFrame
from pyspark.sql import functions as F

from .schemas import TRADES_PARTITION_COLS


def write_partitioned_parquet(
    df: DataFrame,
    path: str,
    partition_cols: Sequence[str] = TRADES_PARTITION_COLS,
    mode: str = "overwrite",
    max_records_per_file: int | None = None,
) -> None:
    """S8 — Hive-layout Snappy Parquet write.

    Scale notes: with ``partitionOverwriteMode=dynamic`` (session
    default) re-running one (year,month,day,symbol) slice replaces only
    that slice — at 100 TB an overwrite must never truncate sibling
    partitions. ``maxRecordsPerFile`` caps file size under skewed
    partitions; AQE coalescing keeps small partitions from producing
    thousands of tiny files.
    """
    writer = df.write.mode(mode)
    if partition_cols:
        writer = writer.partitionBy(*partition_cols)
    if max_records_per_file:
        writer = writer.option("maxRecordsPerFile", str(max_records_per_file))
    writer.parquet(path)


def preview(df: DataFrame, n: int = 5) -> None:
    """S12 — sample sink (glue_spark_trades_etl.py:181,188)."""
    df.show(n, truncate=False)


def compact_partitioned(
    spark,
    path: str,
    partition_cols: Sequence[str] = TRADES_PARTITION_COLS,
) -> tuple[int, int]:
    """Small-file compaction: rewrite a partitioned dataset so each
    Hive partition holds one file (hash-repartitioned on the partition
    key tuple; pair with ``maxRecordsPerFile`` for a byte ceiling).

    Streaming/appending writers fragment partitions into many small
    files; at 100 TB the scan's task count (and the namenode/listing
    load) tracks FILE count, not byte count. Repartitioning on the
    partition columns before a dynamic-overwrite rewrite coalesces each
    partition's rows into the same tasks. Returns (files_before,
    files_after)."""
    import pathlib
    import shutil

    root = pathlib.Path(path)
    before = sum(1 for p in root.rglob("*.parquet"))
    staging = root.with_name(root.name + "__compacting")
    shutil.rmtree(staging, ignore_errors=True)
    # Spark refuses to overwrite a path it is reading (correctly), so
    # compaction writes to a staging dir and swaps — which also makes a
    # crashed compaction harmless: the original is untouched until the
    # final rename.
    (
        spark.read.parquet(path)
        .repartition(*partition_cols)
        .write.mode("overwrite")
        .partitionBy(*partition_cols)
        .parquet(str(staging))
    )
    shutil.rmtree(root)
    staging.rename(root)
    after = sum(1 for p in root.rglob("*.parquet"))
    return before, after


def write_clustered(
    df: DataFrame,
    path: str,
    cluster_cols: Sequence[str],
    partition_cols: Sequence[str] = (),
    block_bytes: int | None = None,
    mode: str = "overwrite",
) -> None:
    """Cluster-sorted Parquet write: sort WITHIN partitions on the
    cluster key before writing so each row group's min/max footer
    statistics cover a narrow, near-disjoint slice of the key space.

    A range or point predicate on the cluster key then skips whole row
    groups at scan time (and whole FILES when the writer emits several)
    — the single-key form of Z-order clustering, with zero read-side
    machinery: plain parquet stats do the pruning. Costs one sort per
    write task (no extra shuffle — ``sortWithinPartitions``, not a
    global ``orderBy``, which would range-shuffle the table for no
    pruning benefit). ``block_bytes`` shrinks row groups below the
    128 MB default when finer skip granularity is wanted; it is a
    JVM-global hadoop conf, set/restored around the write (writer
    ``option()`` is ignored for this key). tests/test_clustering.py
    asserts the span contraction and skip-eligibility directly on the
    footers."""
    writer = df.sortWithinPartitions(*cluster_cols).write.mode(mode)
    if partition_cols:
        writer = writer.partitionBy(*partition_cols)
    hc = df.sparkSession.sparkContext._jsc.hadoopConfiguration()
    prev = hc.get("parquet.block.size")
    try:
        if block_bytes is not None:
            hc.setInt("parquet.block.size", block_bytes)
        writer.parquet(path)
    finally:
        if block_bytes is not None:
            if prev is None:
                hc.unset("parquet.block.size")
            else:
                hc.set("parquet.block.size", prev)


def zorder_key(c1, c2, bits: int = 12):
    """Morton (Z-order) interleave of two pre-scaled non-negative int
    columns: bit i of ``c1`` lands at position 2i, of ``c2`` at 2i+1.
    A pure shift/and/or expression chain — whole-stage codegen, no UDF.
    """
    from pyspark.sql import functions as F

    z = F.lit(0).cast("long")
    for i in range(bits):
        z = z.bitwiseOR(
            F.shiftleft(F.shiftright(c1.cast("long"), i).bitwiseAND(F.lit(1)), 2 * i)
        )
        z = z.bitwiseOR(
            F.shiftleft(
                F.shiftright(c2.cast("long"), i).bitwiseAND(F.lit(1)), 2 * i + 1
            )
        )
    return z


def write_zordered(
    df: DataFrame,
    path: str,
    col1: str,
    col2: str,
    bits: int = 12,
    n_files: int = 1,
    block_bytes: int | None = None,
) -> None:
    """TWO-dimensional Z-order clustered write (the multi-key upgrade of
    :func:`write_clustered`): min/max-normalize both keys into
    ``[0, 2^bits)``, Morton-interleave them, then range-partition and
    sort on the z-value before writing. Row groups then cover compact
    RECTANGLES of the (col1, col2) space, so footer min/max stats prune
    scans filtered on EITHER dimension — the property a single-key sort
    cannot give (its secondary key spans the full range in every group).

    The normalization bounds come from one tiny aggregate broadcast
    back onto the rows (no collect of data, one extra scan — at scale,
    reuse table-level min/max from the catalog instead). This is the
    layout-maintenance half of Delta's OPTIMIZE ZORDER BY, expressed on
    plain parquet."""
    from pyspark.sql import functions as F

    lim = (1 << bits) - 1
    bounds = df.agg(
        F.min(col1).alias("lo1"),
        F.max(col1).alias("hi1"),
        F.min(col2).alias("lo2"),
        F.max(col2).alias("hi2"),
    )
    scaled = df.join(F.broadcast(bounds)).select(
        df["*"],
        F.round(
            (F.col(col1) - F.col("lo1"))
            / F.nullif(F.col("hi1") - F.col("lo1"), F.lit(0))
            * lim
        )
        .cast("long")
        .alias("_n1"),
        F.round(
            (F.col(col2) - F.col("lo2"))
            / F.nullif(F.col("hi2") - F.col("lo2"), F.lit(0))
            * lim
        )
        .cast("long")
        .alias("_n2"),
    )
    z = scaled.withColumn(
        "_z", zorder_key(F.coalesce(F.col("_n1"), F.lit(0)),
                         F.coalesce(F.col("_n2"), F.lit(0)), bits)
    )
    out = (
        z.repartitionByRange(n_files, "_z")
        .sortWithinPartitions("_z")
        .drop("_n1", "_n2", "_z")
    )
    hc = df.sparkSession.sparkContext._jsc.hadoopConfiguration()
    prev = hc.get("parquet.block.size")
    try:
        if block_bytes is not None:
            hc.setInt("parquet.block.size", block_bytes)
        out.write.mode("overwrite").parquet(path)
    finally:
        if block_bytes is not None:
            if prev is None:
                hc.unset("parquet.block.size")
            else:
                hc.set("parquet.block.size", prev)


def write_single_file(df: DataFrame, dest) -> None:
    """Commit ``df`` as exactly ONE parquet file at ``dest`` (a file
    path, not a directory): write to a sibling _tmp dir, rename the
    lone part file into place, clean up.  The single shared definition
    of the idiom (deletion-vector sidecars, compaction bins, staged
    replay batches) — callers needing pinned mtimes utime ``dest``
    afterwards."""
    import pathlib
    import shutil
    import uuid

    dest = pathlib.Path(dest)
    tmp = dest.parent / f"_tmp_{uuid.uuid4().hex[:8]}"
    df.coalesce(1).write.mode("overwrite").parquet(str(tmp))
    (part,) = list(tmp.glob("part-*.parquet"))
    part.rename(dest)
    shutil.rmtree(tmp)


def files_sorted_within(spark, data_path: str, col: str) -> bool:
    """Audit probe: is every parquet file under ``data_path``
    individually sorted on ``col``?  Lag-based: one scan, one per-file
    window sort over (file, row_index) — the check VERDICT r9 asked
    for after the compaction sort-order fix (sorted runs concatenated
    in split order used to pass the bin-range audit while widening
    row-group stats).  Distributed; no collect of data rows."""
    from pyspark.sql import Window

    df = spark.read.parquet(data_path).select(
        F.col(col).alias("_v"),
        F.col("_metadata.file_path").alias("_f"),
        F.col("_metadata.row_index").alias("_i"),
    )
    w = Window.partitionBy("_f").orderBy("_i")
    bad = (
        df.withColumn("_prev", F.lag("_v").over(w))
        .filter(F.col("_prev") > F.col("_v"))
        .count()
    )
    return bad == 0


def _write_manifest(spark, path: str, cluster_col: str) -> None:
    """The manifest contract's single definition: one (file_path,
    stat_min, stat_max, n_rows) row per data file under
    ``path/data``, written to ``path/manifest`` (initial write and
    every compacted generation both call this, so the schema cannot
    drift between them)."""
    manifest = (
        spark.read.parquet(f"{path}/data")
        .groupBy(F.col("_metadata.file_path").alias("file_path"))
        .agg(
            F.min(cluster_col).alias("stat_min"),
            F.max(cluster_col).alias("stat_max"),
            F.count("*").alias("n_rows"),
        )
    )
    manifest.coalesce(1).write.mode("overwrite").parquet(f"{path}/manifest")


def write_manifested(
    df: DataFrame,
    path: str,
    cluster_col: str,
    n_files: int = 16,
) -> None:
    """Clustered write + FILE-LEVEL stats manifest — the Iceberg/Delta
    data-skipping layout on plain parquet.

    ``repartitionByRange`` on the cluster key makes each output file
    own a narrow, near-disjoint slice of the key space (a global sort
    would add nothing for pruning); the manifest —
    ``(file_path, min, max, n_rows)``, one row per FILE — is computed
    once at write time and stored next to the data. Readers plan
    against the manifest (KBs) instead of listing and footer-probing
    every file: at 100 TB that is the difference between a planning
    step proportional to the fleet's file count and one proportional
    to the handful of matching files. See :func:`read_stats_pruned`.
    """
    data_path = f"{path}/data"
    (
        df.repartitionByRange(n_files, F.col(cluster_col))
        .sortWithinPartitions(cluster_col)
        .write.mode("overwrite")
        .parquet(data_path)
    )
    _write_manifest(df.sparkSession, path, cluster_col)


def read_stats_pruned(spark, path: str, cluster_col: str, lo, hi):
    """Scan only the files whose manifest [min, max] interval overlaps
    ``[lo, hi]`` — returns ``(dataframe, n_files_scanned, n_files_total)``.

    The manifest collect is FILE metadata, not data (bounded by the
    file count, thousands of rows at worst) — the same driver-side
    planning step every table format performs. The residual predicate
    is re-applied on the read so pruning is an optimization, never a
    semantic: a file that overlaps but contains non-matching rows
    still filters correctly, and parquet row-group stats prune WITHIN
    the kept files because the write clustered on the same key."""
    man = spark.read.parquet(f"{path}/manifest").collect()
    keep = [r.file_path for r in man if r.stat_max >= lo and r.stat_min <= hi]
    if not keep:
        empty = spark.read.parquet(f"{path}/data").filter(F.lit(False))
        return empty, 0, len(man)
    df = spark.read.parquet(*keep).filter(F.col(cluster_col).between(lo, hi))
    return df, len(keep), len(man)


def write_zorder_manifested(
    df: DataFrame,
    path: str,
    col_a: str,
    col_b: str,
    n_files: int = 16,
    bits: int = 12,
) -> None:
    """:func:`write_zordered` plus a per-FILE stats manifest carrying
    min/max for BOTH columns — the full Delta/Iceberg OPTIMIZE ZORDER
    story on plain parquet: the Morton layout bounds every file in a
    box of (a, b) space (row-group pruning within files), and the
    manifest lets the READER plan file-level skips for box predicates
    or single-column predicates on either dimension without touching a
    footer. Same manifest contract as :func:`write_manifested`, one
    dimension up."""
    data_path = f"{path}/data"
    write_zordered(df, data_path, col_a, col_b, bits=bits, n_files=n_files)
    spark = df.sparkSession
    manifest = (
        spark.read.parquet(data_path)
        .groupBy(F.col("_metadata.file_path").alias("file_path"))
        .agg(
            F.min(col_a).alias("min_a"),
            F.max(col_a).alias("max_a"),
            F.min(col_b).alias("min_b"),
            F.max(col_b).alias("max_b"),
            F.count("*").alias("n_rows"),
        )
    )
    manifest.coalesce(1).write.mode("overwrite").parquet(f"{path}/manifest")


def read_zorder_pruned(
    spark,
    path: str,
    col_a: str,
    range_a: tuple | None,
    col_b: str,
    range_b: tuple | None,
):
    """Plan a box query against the Z-order manifest: keep only files
    whose per-file (a, b) stats box overlaps the predicate box, then
    re-apply the residual predicate — pruning is an optimization,
    never a semantic. Returns (dataframe, n_files_scanned,
    n_files_total). Either range may be None (predicate on one
    dimension only — the case a single-column layout cannot serve for
    its non-cluster column)."""
    man = spark.read.parquet(f"{path}/manifest").collect()

    def overlaps(r) -> bool:
        if range_a is not None and (r.max_a < range_a[0] or r.min_a > range_a[1]):
            return False
        if range_b is not None and (r.max_b < range_b[0] or r.min_b > range_b[1]):
            return False
        return True

    keep = [r.file_path for r in man if overlaps(r)]
    if not keep:
        empty = spark.read.parquet(f"{path}/data").filter(F.lit(False))
        return empty, 0, len(man)
    df = spark.read.parquet(*keep)
    if range_a is not None:
        df = df.filter(F.col(col_a).between(*range_a))
    if range_b is not None:
        df = df.filter(F.col(col_b).between(*range_b))
    return df, len(keep), len(man)


def compact_manifested(
    spark,
    src_path: str,
    dest_path: str,
    cluster_col: str,
    n_bins: int = 4,
    apply_deletes: bool = False,
) -> tuple[int, int]:
    """EXECUTE a small-file compaction over a manifested layout — the
    rewrite half of the table-maintenance `OPTIMIZE` whose planning
    half is the bin-packing algebra of ``q_compaction_plan``: files
    are ordered by their manifest range and packed into ``n_bins``
    range-contiguous groups (bin = floor(rows-before / ceil(total/n))),
    each group is rewritten as ONE file (sorted within on the cluster
    key, so row-group stats keep pruning inside the bigger file), and
    a fresh manifest is computed from the rewritten files.

    The source layout is NOT mutated: compaction produces a new
    layout GENERATION at ``dest_path`` — exactly how Delta/Iceberg
    OPTIMIZE works (new files committed, old ones retired by the log;
    here the caller swaps directories / vacuums the old generation).
    Planning is manifest-metadata only (KBs); the rewrite is
    ``n_bins`` distributed read→write jobs over just the data being
    compacted.  Returns ``(n_files_before, n_files_after)``.

    ``apply_deletes=True`` composes with :mod:`.mor`: deletion-vector
    sidecars under ``{src}/data/_deletes`` are SUBTRACTED during the
    rewrite (per-bin broadcast anti join on the row address), so the
    compacted generation carries no sidecars — the real OPTIMIZE
    contract, where table maintenance folds the merge-on-read debt
    away in the same generation move instead of leaving readers
    paying the anti join forever (VERDICT r9 item 6).  Committed
    merge-on-read UPDATE reinserts (``{src}/data/_updates``, see
    :func:`mor.write_update_vector`) are part of the LOGICAL table —
    their base positions are in the DV subtraction — so they are
    folded INTO the rewrite too, each reinsert row routed to its bin
    by cluster-key range (an update may have changed the cluster
    key); dropping them would silently lose every updated row
    (ADVICE r10).  Bin packing still uses the manifest's pre-delete
    row counts (bins stay range-contiguous; sizes skew only by the
    deleted/updated fraction).

    With ``apply_deletes=False`` a source carrying DV sidecars or
    committed reinserts raises: compacting only the base files would
    resurrect every deleted row and drop every update in the new
    generation — a silent-corruption path, so it is a loud error."""
    import pathlib
    import shutil

    man = (
        spark.read.parquet(f"{src_path}/manifest")
        .orderBy("stat_min", "file_path")
        .collect()
    )  # file METADATA, not data — bounded by file count
    from . import mor

    dvs = None
    upd_files: list[str] = []
    if apply_deletes:
        dvs = mor._read_dvs(spark, f"{src_path}/data")
        upd_files = mor._committed_update_files(f"{src_path}/data")
    else:
        dv_dir = pathlib.Path(src_path) / "data" / mor._DV_DIR
        if any(dv_dir.glob("dv-*.parquet")):
            raise ValueError(
                f"{src_path} carries merge-on-read sidecars: compacting "
                f"with apply_deletes=False would resurrect deleted rows "
                f"and drop updates in the new generation — pass "
                f"apply_deletes=True"
            )
    total = sum(r.n_rows for r in man)
    if total == 0:
        raise ValueError(
            f"nothing to compact at {src_path}: manifest covers 0 rows"
        )
    target = -(-total // n_bins)
    bins: dict[int, list[str]] = {}
    bin_lo: dict[int, object] = {}  # first file's stat_min per bin
    cum = 0
    for r in man:
        b = min(cum // target, n_bins - 1)
        bins.setdefault(b, []).append(r.file_path)
        bin_lo.setdefault(b, r.stat_min)
        cum += r.n_rows
    upd_df = None
    if upd_files:
        # committed reinserts, minus DVs against the reinserts
        # themselves (a later delete may have hit an updated row)
        upd_df = mor.with_row_addresses(spark.read.parquet(*upd_files))
        if dvs is not None:
            upd_df = upd_df.join(
                F.broadcast(dvs), ["_dv_file", "_dv_pos"], "left_anti"
            )
        upd_df = upd_df.drop("_dv_file", "_dv_pos")
    dest = pathlib.Path(dest_path)
    shutil.rmtree(dest, ignore_errors=True)
    (dest / "data").mkdir(parents=True)
    ordered = sorted(bins.items())
    for i, (b, files) in enumerate(ordered):
        bin_df = spark.read.parquet(*files)
        if dvs is not None:
            bin_df = (
                mor.with_row_addresses(bin_df)
                .join(F.broadcast(dvs), ["_dv_file", "_dv_pos"], "left_anti")
                .drop("_dv_file", "_dv_pos")
            )
        if upd_df is not None:
            # route each reinsert row to the bin owning its cluster-key
            # range: [this bin's first stat_min, next bin's first
            # stat_min), open-ended at both edges so every row lands
            # in exactly one bin.  NULL keys (an update may null the
            # cluster column) fail every range comparison, so they are
            # routed explicitly to bin 0 — otherwise they'd vanish
            # from the compacted generation (review r11 finding 6).
            key = F.col(cluster_col)
            if i == 0:
                cond = (
                    key.isNull()
                    | (key < F.lit(bin_lo[ordered[1][0]]))
                    if len(ordered) > 1
                    else F.lit(True)
                )
            else:
                cond = key >= F.lit(bin_lo[b])
                if i + 1 < len(ordered):
                    nxt = ordered[i + 1][0]
                    cond = cond & (key < F.lit(bin_lo[nxt]))
            bin_df = bin_df.unionByName(upd_df.filter(cond))
        # single partition FIRST, then sort: sortWithinPartitions
        # before the single-file coalesce only yields sorted RUNS
        # concatenated in scan-split order, which widens row-group
        # min/max stats (VERDICT r9).  One bin is one file's worth of
        # data by construction, so the 1-partition sort is bounded.
        write_single_file(
            bin_df.repartition(1).sortWithinPartitions(cluster_col),
            dest / "data" / f"compact-{b:05d}.parquet",
        )
    _write_manifest(spark, dest_path, cluster_col)
    return len(man), len(bins)
