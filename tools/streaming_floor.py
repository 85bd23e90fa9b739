"""Decompose the streaming CDC apply's non-compute floor (VERDICT r8
item 7): where do the ~1.5-2s beyond the merge jobs actually go?

Runs the q_streaming_cdc_upsert shape (seed + 2-batch replay) twice at
the given SF — the second, steady pass is the one reported — and
prints a per-component table from the query's own progress events
(durationMs: addBatch = the foreachBatch merge, walCommit +
commitOffsets = checkpoint fsyncs, latestOffset/getBatch = source
listing, queryPlanning, plus the outside-the-trigger remainder =
stream start/stop machinery).

Usage: python tools/streaming_floor.py [sf_dir]
"""

from __future__ import annotations

import sys
import time
import uuid

sys.path.insert(0, ".")

from pyspark.sql import SparkSession, functions as F  # noqa: E402


def drill(spark, sf_dir: str) -> dict:
    import shutil

    from market_etl_spark.merge import merge_into_partitioned
    from market_etl_spark.streaming import read_events_stream_multibatch
    from market_etl_spark.tables import SCRATCH, load, sf_tag

    tag = sf_tag(sf_dir)
    path = str(SCRATCH / f"cdc_floor_target_{tag}")
    t0 = time.time()
    e = load(spark, sf_dir, "events").withColumn("day", F.dayofmonth("ts"))
    seed = e.filter(F.col("day") <= 20).withColumn(
        "value",
        F.when(F.col("day") > 10, F.lit(-999.0)).otherwise(F.col("value")),
    )
    seed.write.mode("overwrite").partitionBy("day").parquet(path)
    t_seed = time.time() - t0

    stream = (
        read_events_stream_multibatch(spark, sf_dir, n_files=2)
        .withColumn("day", F.dayofmonth("ts"))
        .filter(F.col("day") > 10)
    )
    merge_times: list[float] = []

    def apply(batch_df, batch_id) -> None:
        m0 = time.time()
        merge_into_partitioned(
            batch_df.sparkSession, path, batch_df, ["event_id"], ["day"]
        )
        merge_times.append(time.time() - m0)

    ckpt = SCRATCH / "checkpoints" / f"floor_{uuid.uuid4().hex[:8]}"
    prev = spark.conf.get("spark.sql.shuffle.partitions")
    t1 = time.time()
    try:
        spark.conf.set("spark.sql.shuffle.partitions", "8")
        q = (
            stream.writeStream.foreachBatch(apply)
            .option("checkpointLocation", str(ckpt))
            .trigger(availableNow=True)
            .start()
        )
    finally:
        spark.conf.set("spark.sql.shuffle.partitions", prev)
    t_start = time.time() - t1
    q.awaitTermination()
    t_stream = time.time() - t1

    comp: dict[str, float] = {}
    trigger_total = 0.0
    for p in q.recentProgress:
        dm = p.get("durationMs") or {}
        for k, v in dm.items():
            if k != "triggerExecution":
                comp[k] = comp.get(k, 0.0) + (v or 0) / 1000.0
        trigger_total += (dm.get("triggerExecution") or 0) / 1000.0
    shutil.rmtree(ckpt, ignore_errors=True)
    inside_named = sum(comp.values())
    return {
        "seed_write": t_seed,
        "stream_total": t_stream,
        "start_call": t_start,
        "n_batches": len(merge_times),
        "merge_python": sum(merge_times),
        "trigger_total": trigger_total,
        **{f"dur_{k}": v for k, v in sorted(comp.items())},
        "trigger_unattributed": trigger_total - inside_named,
        "outside_triggers": t_stream - trigger_total,
    }


def main() -> None:
    sf_dir = sys.argv[1] if len(sys.argv) > 1 else "/root/testdata/sf0.1"
    spark = (
        SparkSession.builder.master("local[32]")
        .config("spark.sql.shuffle.partitions", "32")
        .getOrCreate()
    )
    spark.sparkContext.setLogLevel("ERROR")
    from market_etl_spark.session import apply_runtime_conf

    apply_runtime_conf(spark)
    for label in ("cold", "steady"):
        stats = drill(spark, sf_dir)
        print(f"--- {label} ---")
        for k, v in stats.items():
            print(f"{k:24s} {v:8.3f}" if isinstance(v, float) else f"{k:24s} {v:8d}")


if __name__ == "__main__":
    main()
