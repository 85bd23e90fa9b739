#!/bin/bash
# VERDICT r14 item 4: sf1 scale-proof — the common corpus set + the 10
# slowest drills (+ q_bootstrap_ci_poisson, item 7) timed at 8 and 32
# cores on the sf1 rehearsal corpus (.scratch/sf1, tools/make_sf1.py).
# Every sf0.1 common-set 8->32 ratio sat at 0.83-1.69x because sf0.1 is
# fixed-cost bound; sf1 is the data-dominated check.  Two alternations
# per core count, interleaved (32,8,32,8) so both sides see the same
# host windows; per-side verdict = min of the two steady passes.
# Results: bench_history/sf1_c{8,32}_{1,2}.json
set -u
NAMES="q1_pruned_multi_agg q2_minute_vwap q3_order_flow q4_hourly_heatmap \
q5_whales q6_full_outer_align q6_pivot_align q7_dq_audit q8_pruned_count \
q9_daily_summary q9b_recent_activity \
q_lakehouse_datasource_sink q_lakehouse_datasource_read \
q_lakehouse_datasource_stream q_lakehouse_checkpoint_planning \
q_lakehouse_convert_partitioned q_lakehouse_parquet_checkpoint \
llm_stream_ingest_dedup q_lakehouse_sql_ddl q_lakehouse_change_feed \
q_lakehouse_sql_dml q_bootstrap_ci_poisson"
cd "$(dirname "$0")/.."
for i in 1 2; do
  for c in 32 8; do
    echo "=== alternation $i cores $c $(date -u +%H:%M:%S)"
    SPARK_GRAFT_CPUS=$c python tools/measure.py --sf .scratch/sf1 \
        --passes 2 $NAMES 2>/dev/null | tail -1 \
        > bench_history/sf1_c${c}_$i.json
  done
done
echo "DONE $(date -u +%H:%M:%S)"
