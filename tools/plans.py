"""Regenerate PLANS.md: annotated physical plans for headline queries.

Each entry names the scale property the plan must exhibit (pushdown,
partition pruning, broadcast, partial aggregation, codegen spans, no
cartesian products) and dumps `.explain("formatted")` as evidence. Run
after any planner-visible change:

    python tools/plans.py [sf_dir]   # default /root/testdata/sf0.01
"""

from __future__ import annotations

import contextlib
import io
import os
import sys

sys.path.insert(0, os.path.dirname(os.path.dirname(os.path.abspath(__file__))))

#: (query name, what the plan must show)
AUDITED = [
    (
        "q1_pruned_multi_agg",
        "Filters reach the scan (`PushedFilters`), only referenced columns "
        "are read (`ReadSchema`), aggregation is two-phase "
        "(`partial_...` then `finalmerge`), result sort is on the tiny "
        "aggregated side.",
    ),
    (
        "q5_whales",
        "The percentile threshold (1 row) joins via `BroadcastHashJoin` — "
        "never a shuffle of the fact side; top-k is `TakeOrderedAndProject`, "
        "not a global sort.",
    ),
    (
        "q_trades_pruned_day_vwap",
        "A real Hive-partitioned table scan with `PartitionFilters` doing "
        "the work — the reference's headline optimization. The row-group "
        "scan touches only matching `year/month/day/symbol` directories.",
    ),
    (
        "q_trades_dpp_join",
        "DYNAMIC partition pruning: the pruning predicate comes from the "
        "dimension join at runtime — the fact scan carries a "
        "`dynamicpruning#...` subquery on `symbol` (reusing the join's "
        "broadcast), so only matching symbol directories are listed/read.",
    ),
    (
        "llm_kmeans_assign",
        "Lloyd assignment as k BROADCAST in-row distance folds per "
        "vector (centroids rolled up to k (cid, array) rows): the only "
        "aggregation is the id-keyed argmin via `min(struct(d2, cid))` "
        "— nothing n·dims·k-sized ever materializes, the fact side is "
        "never shuffled pre-aggregation, and there is no cartesian.",
    ),
    (
        "llm_bm25_topk",
        "Query-term filter sits on the exploded tokens BELOW the postings "
        "aggregation (only query-term occurrences shuffle); collection "
        "stats and df are broadcast; the top-20 cut is "
        "`TakeOrderedAndProject` — per-partition heaps, no global sort, "
        "no unpartitioned window over the corpus.",
    ),
    (
        "llm_semdedup_centroid",
        "SemDeDup: nearest-seed assignment is a broadcast fold pass (no "
        "shuffle); the duplicate-pair join is an equi join ON `cid` — "
        "the cluster partition is the candidate cut, so there is no "
        "all-pairs join anywhere in the plan.",
    ),
    (
        "llm_lm_perplexity",
        "The bigram LM tables are built from the bounded reference slice "
        "and join the exploded document bigrams on gram keys "
        "(broadcast when small); the 1-row vocabulary size rides a "
        "broadcast; per-doc aggregation is two-phase.",
    ),
    (
        "llm_containment_pairs",
        "Doc-in-doc detection with NO cartesian anywhere: the probe side "
        "is the md5-prefix slice of each doc's shingles, the index side "
        "joins hash-equi on the shingle, and the exact verify runs only "
        "on surviving candidates.",
    ),
    (
        "q_lateral_topn_suppliers",
        "The correlated LATERAL subquery is DECORRELATED by Catalyst into "
        "a partitioned rank/filter over one join — no per-outer-row "
        "re-execution, no nested loop over the supplier table.",
    ),
    (
        "q_zorder_pruned_scan",
        "The box query scans only the z-order files whose manifest "
        "(a, b) stats box overlaps the predicate box; the residual "
        "predicate is re-applied on the kept files (pushed to the "
        "parquet scan as PushedFilters).",
    ),
    (
        "q_hopping_window_vwap",
        "Overlapping 10-min/5-min windows via a single `Expand` node "
        "(each row duplicated into its 2 windows) feeding one partial "
        "aggregation — no per-offset self-join, no re-scan.",
    ),
    (
        "q6_pivot_align",
        "The 3-way FULL OUTER alignment expressed as ONE scan + ONE hash "
        "aggregate (conditional aggregation), no join at all — the shape "
        "that replaces 3 scans + 2 sort-merge joins at 100 TB.",
    ),
    (
        "q_salted_skew_agg",
        "Two-stage skew-salted aggregation: first exchange is on "
        "(key, salt) — hot keys spread over salt buckets — second stage "
        "merges the partials per key.",
    ),
    (
        "q_tombstone_forget",
        "Delete propagation as `BroadcastHashJoin ... LeftAnti`: the "
        "forget list ships to executors, the event log streams through "
        "unshuffled.",
    ),
    (
        "llm_minhash_near_dup",
        "No cartesian/`BroadcastNestedLoopJoin` anywhere: candidates come "
        "from a grouped bucket expansion, signatures are plain hash "
        "aggregates (`min(xxhash64(...))`), verify joins are hash joins "
        "on candidate ids.",
    ),
    (
        "llm_decontamination",
        "The eval side collapses to a broadcast (`BroadcastHashJoin`) so "
        "the train side — the 100 TB one — is scanned once and never "
        "shuffled before its per-document aggregate.",
    ),
    (
        "llm_ivf_index_topk",
        "Serving from the PERSISTED IVF index: the probed cells appear as "
        "static `PartitionFilters` on the cell-partitioned vectors scan — "
        "un-probed cell directories are never read; routing reads only the "
        "tiny centroid table.",
    ),
    (
        "q_gapfill_forward_vwap",
        "Gap filling touches the fact table ONLY in the candle aggregation; "
        "the dense spine (sequence+explode, dimension-sized) joins and the "
        "ignorenulls fill window run over aggregated rows.",
    ),
    (
        "q_interval_join",
        "A range-predicate join with NO equi key executed as an equi join "
        "on the coarse time bin (hash join, residual range filter) — no "
        "`BroadcastNestedLoopJoin`/`CartesianProduct` over the fact table.",
    ),
    (
        "q_range_band_join",
        "The band table (10 rows, from a 1-row percentile aggregate) rides "
        "along as a broadcast; the orders side is scanned once, never "
        "shuffled before the per-band aggregate.",
    ),
    (
        "llm_cosine_topk_batch",
        "The WIDE vector rows are scanned once (plus a vec_id-pruned "
        "5-row scan for the broadcast query side); the per-(query, bucket) "
        "partial top-k is an ObjectHashAggregate whose state is capped at "
        "bucket_target rows, and the final Window ranks only B·k surviving "
        "rows per query — no window over the full corpus, no per-query "
        "plan branches.",
    ),
    (
        "q_tpch_q5",
        "The 6-way star join: every dimension chain (region→nation→"
        "supplier, customer→orders) collapses into BroadcastHashJoins; "
        "lineitem is scanned once and never shuffled — the only exchange "
        "carries the 25-nation aggregate. No SortMergeJoin, no "
        "CartesianProduct anywhere.",
    ),
    (
        "llm_inverted_index",
        "The term-prefix filter evaluates BELOW both shuffles (it sits on "
        "the window's partitioning key); postings aggregate with a partial "
        "phase before the (term, doc) exchange and the df/cf window adds "
        "no third shuffle.",
    ),
    (
        "llm_edit_distance_pairs",
        "Exact Levenshtein<=4 self-join with NO cartesian: the PassJoin "
        "segment/substring expansion is codegen (sequence/explode/"
        "substring), candidates come from a hash equi join on "
        "(source_len, segment_idx, content), and document bodies join "
        "back only for the per-candidate threshold-levenshtein verify.",
    ),
    (
        "llm_weighted_sample",
        "Weighted sampling plans as `TakeOrderedAndProject` on the md5 "
        "priority key — per-partition top-k merged at the driver; no "
        "global sort, no shuffle of the corpus.",
    ),
    (
        "q_data_profile",
        "All per-column profile metrics (null/exact-distinct/extremes for "
        "5 columns) in ONE scan: the multi-COUNT(DISTINCT) compiles to a "
        "single `Expand` feeding one partial aggregation — no per-column "
        "rescans; the long output shape is built from the 1-row result.",
    ),
    (
        "q_feature_store_pit",
        "The strict-< point-in-time join is the union + window "
        "carry-forward plan: versions and facts shuffle ONCE together on "
        "user_id, the ordered window implements the as-of lookup, and no "
        "per-row subquery or range join appears anywhere.",
    ),
    (
        "q_jarque_bera_normality",
        "The shifted-power-sum recipe stays two partial-aggregated scans "
        "joined through a 5-row `BroadcastHashJoin` (the pseudo-mean "
        "frame): no window over the fact table, no shuffle beyond the "
        "5-key aggregations, all four power sums in one `HashAggregate`.",
    ),
    (
        "llm_winnowing_fingerprint",
        "Winnowing is a per-doc windowed min (one shuffle on doc_id) and "
        "the pair mining is an EQUI-join on the fingerprint hash — a hash "
        "join keyed on fph (AQE broadcasts the small fingerprint frame "
        "here; at corpus scale it shuffles on the key), never a "
        "cartesian; the doc_id bound is pushed to the parquet scan "
        "(`PushedFilters: LessThan(doc_id,300)`).",
    ),
]


def _lakehouse_drills(spark, sf_dir):
    """(title, note, DataFrame) triples for the lakehouse plan audits.
    Tables are built tiny and fresh under the scratch dir."""

    from pyspark.sql import functions as F

    from market_etl_spark import lakehouse as lk
    from market_etl_spark import merge, mor
    from market_etl_spark.sinks import write_manifested, write_versioned
    from market_etl_spark.tables import fresh_scratch

    cust = spark.read.parquet(f"{sf_dir}/customer.parquet").selectExpr(
        "c_custkey AS k", "c_mktsegment AS seg",
        "CAST(c_acctbal AS DOUBLE) AS bal",
    )
    out = []

    # 1. the snapshot-store CDF step (q_version_change_feed)
    p = fresh_scratch("plans_cdf_store")
    write_versioned(cust, p)
    write_versioned(cust.filter("k % 7 <> 0"), p)
    out.append((
        "q_version_change_feed (one read_changes step)",
        "The per-step diff is ONE shuffle: both snapshots union-tagged, "
        "one `HashAggregate` on the key collects each side's row image + "
        "digest, unchanged keys drop, and the 1-2 change records per key "
        "`Generate explode` out — no full-outer join, no per-change-type "
        "re-join (the naive shape would be 3 joins = 3+ shuffles).",
        merge.read_changes(spark, p, 1, 2, ["k"]),
    ))

    # 2. the commit-log CDF derivation (q_lakehouse_change_feed): an
    # append + a MOR delete — the feed plan scans ONLY the files those
    # two commits reference and joins the DV positions back broadcast
    p2 = fresh_scratch("plans_cdf_log")
    t = lk.Transaction(p2)
    t.append(cust.repartition(2))
    t.commit()
    t = lk.Transaction(p2)
    t.delete_where_mor(spark, F.col("k") % 7 == 0)
    t.commit()
    out.append((
        "q_lakehouse_change_feed (log-derived feed, append + MOR delete)",
        "Delta-sized derivation: the insert branch scans exactly the "
        "commit's added files; the delete branch scans only the DV's "
        "TARGET files and semi-joins the broadcast sidecar positions "
        "(`BroadcastHashJoin ... LeftSemi` on `_dv_file/_dv_pos`) — the "
        "table itself is never listed or scanned, so a 3-commit tail of "
        "a 100 TB table reads KBs.",
        lk.read_changes(spark, p2, 0, 2),
    ))

    # 3. the DV-subtracting bin rewrite (q_mor_compaction_purge /
    # q_mor_compaction_updates): one bin's frame — base files minus
    # broadcast DV positions, union routed reinserts, 1-partition sort
    p3 = fresh_scratch("plans_morcmp")
    write_manifested(cust, p3, "bal", n_files=4)
    mor.write_deletion_vector(spark, f"{p3}/data", F.col("k") % 5 == 0)
    dvs = mor._read_dvs(spark, f"{p3}/data")
    files = [
        r.file_path
        for r in spark.read.parquet(f"{p3}/manifest")
        .orderBy("stat_min").limit(2).collect()
    ]
    bin_df = (
        mor.with_row_addresses(spark.read.parquet(*files))
        .join(F.broadcast(dvs), ["_dv_file", "_dv_pos"], "left_anti")
        .drop("_dv_file", "_dv_pos")
        .repartition(1)
        .sortWithinPartitions("bal")
    )
    out.append((
        "q_mor_compaction_purge (one DV-subtracting bin rewrite)",
        "Each compaction bin reads ONLY its packed files, subtracts the "
        "accumulated deletion vectors via `BroadcastHashJoin ... LeftAnti` "
        "on the row address (the DV side is KBs — always broadcast), then "
        "`repartition(1)` BEFORE `Sort` so the output file is globally "
        "monotone on the cluster key (narrow row-group stats). No shuffle "
        "of anything but the bin's own rows.",
        bin_df,
    ))

    # 4. stats-pruned log read (q_lakehouse_data_skipping): 4 ranged
    # appends, predicate admits ONE — the scan's file list is the proof
    p4 = fresh_scratch("plans_skip")
    kmax = cust.agg(F.max("k")).collect()[0][0]
    kb = kmax // 4 + 1
    for i in range(4):
        t = lk.Transaction(p4)
        t.append(
            cust.filter((F.col("k") >= i * kb) & (F.col("k") < (i + 1) * kb))
            .coalesce(1)
        )
        t.commit()
    out.append((
        "q_lakehouse_data_skipping (stats-pruned log read)",
        "The prune happened at PLAN TIME from the add-action footer "
        "stats: the scan's `InMemoryFileIndex` lists exactly ONE of the "
        "4 live files (compare the Location line), and the residual "
        "predicate still reaches it as `PushedFilters` for row-group "
        "pruning inside the surviving file. No runtime filtering stands "
        "in for the skipped I/O — the other 3 files are simply absent "
        "from the plan.",
        lk.read_table(spark, p4, predicate=[("k", "<", kb)]),
    ))

    # 5. post-zorder two-column pruned scan (q_lakehouse_zorder)
    p5 = fresh_scratch("plans_zorder")
    t = lk.Transaction(p5)
    t.append(cust.repartition(4))
    t.commit()
    t = lk.Transaction(p5)
    t.optimize_zorder(spark, ["k", "bal"], n_files=8)
    t.commit()
    _v, kept, total = lk.prune_files(p5, [("bal", "<", 0.0)])
    out.append((
        "q_lakehouse_zorder (pruned scan after the z-order rewrite)",
        f"After OPTIMIZE ZORDER BY (k, bal) the SAME mechanism prunes on "
        f"EITHER column: this bal<0 read plans {len(kept)} of {total} "
        f"files (see the Location list) even though bal was uniformly "
        f"spread before the rewrite; the z-curve bounded every file in "
        f"both dimensions at once. The residual bal<0 predicate is "
        f"pushed to the surviving scans.",
        lk.read_table(spark, p5, predicate=[("bal", "<", 0.0)]),
    ))

    # 6. the REGISTERED datasource scan with pushed filters (round 12,
    # q_lakehouse_datasource_read): the same skip table as drill 4
    # read through spark.read.format("lakehouse")
    from market_etl_spark.lakehouse_datasource import register

    register(spark)
    out.append((
        "q_lakehouse_datasource_read (registered source, pushed filter)",
        "The table enters the plan as `BatchScan lakehouse ... (Python)` "
        "— a first-class DataSourceV2 relation.  `pushFilters` received "
        "the k-conjunct at planning and pruned the source's partition "
        "list with the add-action footer stats (1 of 4 files becomes an "
        "InputPartition — asserted in test_lakehouse_datasource, "
        "invisible in the plan text), while Spark re-applies the same "
        "predicate as the residual `Filter` above the scan: pruning "
        "changes I/O, never results.",
        spark.read.format("lakehouse").load(p4).filter(F.col("k") < kb),
    ))

    # 7. the hint-dropped DV anti-join (round 12 broadcast bounds):
    # with the position count over the configured cap the broadcast
    # hint is dropped and the planner falls back to shuffle
    spark.conf.set(lk._BROADCAST_MAX_ROWS_CONF, "1")
    spark.conf.set("spark.sql.autoBroadcastJoinThreshold", "-1")
    spark.conf.set("spark.sql.adaptive.autoBroadcastJoinThreshold", "-1")
    bounded = lk.read_table(spark, p2)  # p2 carries a live DV
    buf = io.StringIO()
    with contextlib.redirect_stdout(buf):
        bounded.explain("formatted")
    spark.conf.unset(lk._BROADCAST_MAX_ROWS_CONF)
    spark.conf.unset("spark.sql.autoBroadcastJoinThreshold")
    spark.conf.unset("spark.sql.adaptive.autoBroadcastJoinThreshold")
    out.append((
        "read_table DV subtraction past the broadcast bound (round 12)",
        "With the accumulated DV position count above "
        "`spark.market_etl.lakehouse.broadcastMaxRows` the forced "
        "broadcast hint is DROPPED: the anti join plans as "
        "`SortMergeJoin ... LeftAnti` (both sides exchanged) instead of "
        "`BroadcastHashJoin` — a 10^8-position delete wave degrades to "
        "a slow shuffle, never an executor OOM.  Results are "
        "plan-asserted identical to the broadcast path "
        "(test_broadcast_bounds).",
        _PrePlanned(buf.getvalue().rstrip()),
    ))

    # 7. Hive-partitioned CONVERT read (round 14,
    # q_lakehouse_convert_partitioned): the partition predicate prunes
    # at PLAN time via the recovered per-file stats (only yr=1 files
    # reach the scan's Location list), and the recovered columns are
    # projected JVM-side — one regexp over input_file_name inside the
    # codegen span, ONE scan node however many partitions exist (never
    # a per-partition union of constant-tagged scans)
    p7 = fresh_scratch("plans_convpart")
    cust.withColumn("yr", (F.col("k") % 3).cast("int")).write.partitionBy(
        "yr"
    ).parquet(p7)
    lk.convert_to_lakehouse(spark, p7, partitioned_by=[("yr", "int")])
    out.append((
        "q_lakehouse_convert_partitioned (partition-recovered read)",
        "CONVERT ... PARTITIONED BY adopted the key=value layout in "
        "place.  The yr=1 predicate pruned the file list from the "
        "recovered add-action stats BEFORE the plan was built — the "
        "scan's Location holds only yr=1 files (the Delta "
        "partition-pruning contract, via plain stats skipping).  The "
        "yr column itself is recovered inside WholeStageCodegen: "
        "`coalesce(yr, cast(regexp_extract(input_file_name(), ...)))` "
        "in the Project — no UDF, no per-partition plan branches, and "
        "post-convert files that MATERIALIZE yr ride the same "
        "expression via the coalesce.",
        lk.read_table(spark, p7, predicate=[("yr", "=", 1)]),
    ))
    return out


class _PrePlanned:
    """A captured plan string wearing the .explain interface the
    drill loop expects (the conf window had to close before return)."""

    def __init__(self, text: str):
        self._text = text

    def explain(self, _mode: str) -> None:
        print(self._text)


def main() -> None:
    sf_dir = sys.argv[1] if len(sys.argv) > 1 else "/root/testdata/sf0.01"

    from market_etl_spark.queries import REGISTRY
    from market_etl_spark.session import get_spark

    spark = get_spark("plans")
    spark.sparkContext.setLogLevel("ERROR")
    # Keep PartitionFilters readable (default truncates at 100 chars).
    spark.conf.set("spark.sql.maxMetadataStringLength", "500")

    out = [
        "# PLANS — audited physical plans for the headline queries",
        "",
        "Generated by `python tools/plans.py` at sf0.01. Each section states",
        "the scale property the plan must exhibit, then shows",
        "`.explain(\"formatted\")` as evidence. Regenerate after planner-visible",
        "changes; tests/ additionally assert the load-bearing fragments",
        "(PartitionFilters, BroadcastHashJoin LeftAnti, zero-Exchange bucketed",
        "joins) so regressions fail CI, not just this document.",
        "",
    ]
    for name, note in AUDITED:
        df = REGISTRY[name].fn(spark, sf_dir)
        buf = io.StringIO()
        with contextlib.redirect_stdout(buf):
            df.explain("formatted")
        plan = buf.getvalue().rstrip()
        out += [f"## {name}", "", note, "", "```", plan, "```", ""]

    # Runtime-optimizer drills (round 9): these queries execute
    # EAGERLY and return a LocalTableScan audit row, so the
    # interesting plan is the drill helper's EXECUTED adaptive plan,
    # not the registered frame's. Captured post-execution.
    from market_etl_spark.queries.round9 import (
        run_bloom_filter_drill,
        run_skewed_join_drill,
    )

    drills = [
        (
            "q_aqe_skew_join (executed adaptive plan)",
            "OptimizeSkewedJoin fired at runtime: the final plan carries "
            "`SortMergeJoin(skew=true)` and the hot side's "
            "`AQEShuffleRead ... skewed` — the hot reduce partition was "
            "split along map-block boundaries and the dim side duplicated "
            "per split. Detection used Spark's stock 5x-median factor.",
            run_skewed_join_drill,
        ),
        (
            "q_runtime_bloom_filter_join (executed adaptive plan)",
            "InjectRuntimeFilter fired: a `bloom_filter_agg` subquery over "
            "the filtered orders keys is broadcast into a `might_contain` "
            "predicate evaluated ON the lineitem scan — non-joining fact "
            "rows are discarded BEFORE the shuffle.",
            run_bloom_filter_drill,
        ),
    ]
    for title, note, drill in drills:
        _row, plan = drill(spark, sf_dir)
        # keep the final-plan section only (the initial plan doubles length)
        cut = plan.find("+- == Initial Plan ==")
        if cut != -1:
            plan = plan[:cut].rstrip() + "\n   (initial plan elided)"
        out += [f"## {title}", "", note, "", "```", plan, "```", ""]

    # Lakehouse/CDF drills (rounds 10-11): the registered queries run
    # EAGERLY and return audit rows, so the load-bearing plans — the
    # change-feed derivation shapes and the DV-subtracting rewrite —
    # are captured here from small scratch tables (VERDICT r10 item 7).
    n_lake = 0
    for title, note, frame in _lakehouse_drills(spark, sf_dir):
        buf = io.StringIO()
        with contextlib.redirect_stdout(buf):
            frame.explain("formatted")
        out += [f"## {title}", "", note, "", "```", buf.getvalue().rstrip(), "```", ""]
        n_lake += 1

    path = os.path.join(os.path.dirname(os.path.dirname(os.path.abspath(__file__))), "PLANS.md")
    with open(path, "w") as f:
        f.write("\n".join(out) + "\n")
    print(f"wrote {path} ({len(AUDITED) + len(drills) + n_lake} plans)")


if __name__ == "__main__":
    main()
