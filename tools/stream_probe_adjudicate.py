#!/usr/bin/env python
"""Adjudicate the 1M-key stream-probe decline (VERDICT r13 #3).

The driver sessions read 2.92M (r12) -> 2.28M (r13 builder) -> 1.63M
(r13 driver) rec/s on the 1M-key probe while the SAME sessions' 1k-key
probe stayed flat (3.96/4.58/4.01M).  This experiment separates the
candidate causes on one box, in one process:

  phase A  solo-first: fresh session, probe immediately (1k control + 1m)
  phase B  loaded: run a heavy slice of the registry, re-probe (1m)
           -> session/memory-pressure effect
  phase C  state-store A/B at 1M keys: HDFS-backed default vs RocksDB
           (+ changelog) -> provider/config effect
  phase D  per-batch decomposition of the 1m probe: stateCommit vs
           triggerExecution from the engine's own progress
           -> names WHERE the slow sessions lose time

Usage: python tools/stream_probe_adjudicate.py [--sf=/root/testdata/sf0.1]
Writes bench_out/STREAM_PROBE_ADJ.json and prints a summary.
"""

from __future__ import annotations

import json
import os
import shutil
import sys
import tempfile
import time

sys.path.insert(0, "/root/repo")

import pyspark.sql.functions as F

from flink_net_spark.tables import shuffle_partitions


def probe_once(spark, stage, schema, n_keys, parts, provider=None):
    if provider:
        spark.conf.set("spark.sql.streaming.stateStore.providerClass", provider["cls"])
        for k, v in provider.get("conf", {}).items():
            spark.conf.set(k, v)
    else:
        # a phase WITHOUT a provider override must not inherit a previous
        # phase's leftovers (round-14 review: the changelog conf leaked
        # past the manual providerClass reset)
        spark.conf.set(
            "spark.sql.streaming.stateStore.providerClass",
            "org.apache.spark.sql.execution.streaming.state."
            "HDFSBackedStateStoreProvider",
        )
        spark.conf.set(
            "spark.sql.streaming.stateStore.rocksdb."
            "changelogCheckpointing.enabled",
            "false",
        )
    stream = (
        spark.readStream.schema(schema)
        .option("maxFilesPerTrigger", "4")
        .parquet(stage)
        .withColumn("k", F.abs(F.hash("user_id", "event_type", "rep")) % n_keys)
        .groupBy("k")
        .agg(F.count(F.lit(1)).alias("n"), F.sum("value").alias("sum_value"))
    )
    ckpt = tempfile.mkdtemp(prefix="fns_adj_ckpt_")
    with shuffle_partitions(spark, parts):
        q = (
            stream.writeStream.format("noop")
            .outputMode("update")
            .option("checkpointLocation", ckpt)
            .start()
        )
        q.processAllAvailable()
        progresses = [json.loads(p.json) for p in q.recentProgress]
        q.stop()
    shutil.rmtree(ckpt, ignore_errors=True)
    batches = []
    for p in progresses:
        if p["numInputRows"] <= 0:
            continue
        d = p["durationMs"]
        ops = p.get("stateOperators") or [{}]
        batches.append(
            {
                "rows": p["numInputRows"],
                "trigger_ms": d.get("triggerExecution", 0),
                "addBatch_ms": d.get("addBatch", 0),
                # field names match the engine's own semantics (round-14
                # review: 'commit_ms' used to carry allUpdatesTimeMs)
                "state_update_ms": ops[0].get("allUpdatesTimeMs"),
                "state_commit_ms": ops[0].get("commitTimeMs"),
                "mem": ops[0].get("memoryUsedBytes"),
            }
        )
    steady = batches[1:] if len(batches) > 1 else batches
    rows = sum(b["rows"] for b in steady)
    ms = sum(b["trigger_ms"] for b in steady)
    return {
        "rps": round(rows / ms * 1000) if ms else None,
        "steady_rows": rows,
        "steady_trigger_ms": ms,
        "steady_state_commit_ms": sum(b["state_commit_ms"] or 0 for b in steady),
        "steady_addBatch_ms": sum(b["addBatch_ms"] or 0 for b in steady),
        "batches": batches,
    }


def median(xs):
    xs = sorted(xs)
    return xs[len(xs) // 2]


def settle(spark, stage, schema, n_keys, parts, reps=5, warmups=2, provider=None):
    for _ in range(warmups):
        probe_once(spark, stage, schema, n_keys, parts, provider)
    runs = [probe_once(spark, stage, schema, n_keys, parts, provider) for _ in range(reps)]
    rates = [r["rps"] for r in runs if r["rps"]]
    med = median(rates)
    pick = min(runs, key=lambda r: abs((r["rps"] or 0) - med))
    return {
        "rps_median": med,
        "rps_runs": rates,
        "state_commit_frac": round(
            pick["steady_state_commit_ms"] / pick["steady_trigger_ms"], 3
        )
        if pick["steady_trigger_ms"]
        else None,
        "addBatch_frac": round(
            pick["steady_addBatch_ms"] / pick["steady_trigger_ms"], 3
        )
        if pick["steady_trigger_ms"]
        else None,
    }


def main():
    sf_dir = "/root/testdata/sf0.1"
    for a in sys.argv[1:]:
        if a.startswith("--sf="):
            sf_dir = a.split("=", 1)[1]
    from flink_net_spark.session import get_spark
    from flink_net_spark.tables import load_table

    spark = get_spark("stream-probe-adj")
    spark.sparkContext.setLogLevel("ERROR")

    stage = os.path.join(
        tempfile.gettempdir(), f"fns_bench_stream_v2_{os.path.basename(sf_dir)}"
    )
    if not os.path.exists(os.path.join(stage, "_SUCCESS")):
        ev3 = load_table(spark, sf_dir, "events").withColumn(
            "rep", F.explode(F.sequence(F.lit(1), F.lit(60)))
        )
        ev3.repartition(12).write.mode("overwrite").parquet(stage)
    schema = spark.read.parquet(stage).schema

    out = {"sf": sf_dir}
    t0 = time.time()

    # A: solo-first
    out["A_solo_first_1k"] = settle(spark, stage, schema, 1024, "8", reps=3, warmups=1)
    out["A_solo_first_1m"] = settle(spark, stage, schema, 1_000_000, "16")
    print("A done", json.dumps({k: v for k, v in out.items() if k.startswith("A")}))

    # B: load the session with a heavy registry slice, then re-probe
    import __spark_entry__ as entry

    queries = entry.queries()
    heavy = [
        "graph_pagerank", "graph_triangle_count", "graph_connected_components",
        "dedup_minhash_lsh", "dedup_substring_stats", "sim_ann_planted_recall",
        "text_trigram_backoff_nll", "curation_end_to_end", "stream_tiered_rollup",
        "q9_profit_by_nation", "window_outlier_3sigma", "agg_weighted_quantiles",
    ]
    from flink_net_spark.tables import release_persisted

    t_load = time.time()
    for name in heavy:
        try:
            df = queries[name](spark, sf_dir)
            df.collect()
            release_persisted(df)
            del df
        except Exception as ex:
            print("load err", name, ex)
    spark.catalog.clearCache()
    out["B_load_sec"] = round(time.time() - t_load, 1)
    out["B_loaded_1m"] = settle(spark, stage, schema, 1_000_000, "16")
    out["B_loaded_1k"] = settle(spark, stage, schema, 1024, "8", reps=3, warmups=1)
    print("B done", json.dumps({k: v for k, v in out.items() if k.startswith("B")}))

    # C: provider A/B at 1M keys (RocksDB, RocksDB+changelog)
    rocks = {
        "cls": "org.apache.spark.sql.execution.streaming.state.RocksDBStateStoreProvider",
        "conf": {},
    }
    rocks_cl = {
        "cls": "org.apache.spark.sql.execution.streaming.state.RocksDBStateStoreProvider",
        "conf": {
            "spark.sql.streaming.stateStore.rocksdb.changelogCheckpointing.enabled": "true"
        },
    }
    out["C_rocksdb_1m"] = settle(spark, stage, schema, 1_000_000, "16", reps=3, provider=rocks)
    out["C_rocksdb_changelog_1m"] = settle(
        spark, stage, schema, 1_000_000, "16", reps=3, provider=rocks_cl
    )
    # restore default provider for the final default re-read
    spark.conf.set(
        "spark.sql.streaming.stateStore.providerClass",
        "org.apache.spark.sql.execution.streaming.state.HDFSBackedStateStoreProvider",
    )
    out["C_default_recheck_1m"] = settle(spark, stage, schema, 1_000_000, "16", reps=3)
    out["total_sec"] = round(time.time() - t0, 1)

    os.makedirs("/root/repo/bench_out", exist_ok=True)
    with open("/root/repo/bench_out/STREAM_PROBE_ADJ.json", "w") as f:
        json.dump(out, f, indent=1)
    print(json.dumps(out, indent=1))


if __name__ == "__main__":
    main()
