"""Rich lifecycle, skew salting, trigger surface, allowed lateness, and the
fused source→counter pipeline (SURVEY.md §2.1/§2.3/§2.4/§2.7)."""

from __future__ import annotations

import os

import pandas as pd
import pyspark.sql.functions as F
import pytest

from flink_net_spark.operators.rich import RichFunction, rich_map_in_pandas
from flink_net_spark.operators.skew import salted_aggregate, salted_join, salted_top_k
from flink_net_spark.queries import ORACLES, QUERIES
from flink_net_spark.sinks import memory_sink, run_to_completion, with_trigger
from flink_net_spark.sources import FileSource, source_to_counter
from flink_net_spark.streaming import tumbling, with_allowed_lateness
from tests.conftest import assert_matches_oracle


@pytest.mark.parametrize(
    "name", ["agg_salted_hot_keys", "join_skew_salted", "rich_map_lang_annotate"]
)
def test_harness_queries_match_oracle(spark, duck, name):
    assert_matches_oracle(spark, duck, QUERIES[name], ORACLES[name], name)


def test_rich_lifecycle_open_close_once_per_task(spark, tmp_path):
    marker_dir = str(tmp_path / "markers")
    os.makedirs(marker_dir)

    class Marking(RichFunction):
        def open(self, ctx):  # noqa: A003
            self.pid = ctx.partition_id
            with open(os.path.join(marker_dir, f"open-{self.pid}"), "a") as fh:
                fh.write("x")

        def process(self, pdf):
            return pd.DataFrame({"v": pdf["v"] * 2, "part": self.pid})

        def close(self):
            with open(os.path.join(marker_dir, f"close-{self.pid}"), "a") as fh:
                fh.write("x")

    df = spark.range(0, 1000).select(F.col("id").alias("v")).repartition(4)
    out = rich_map_in_pandas(df, Marking, "v BIGINT, part INT")
    rows = out.collect()
    assert sorted(r["v"] for r in rows) == [2 * i for i in range(1000)]

    opens = [f for f in os.listdir(marker_dir) if f.startswith("open-")]
    closes = [f for f in os.listdir(marker_dir) if f.startswith("close-")]
    assert sorted(opens) and len(opens) == len(closes)
    # exactly once per task: each marker file holds a single byte
    for f in opens + closes:
        assert os.path.getsize(os.path.join(marker_dir, f)) == 1


def test_salted_aggregate_avg_decomposition_matches_plain(spark):
    df = spark.range(0, 5000).select(
        (F.col("id") % 3).alias("k"), (F.col("id") * 7 % 101).cast("double").alias("x")
    )
    salted = salted_aggregate(
        df, keys=["k"], aggs={"avg_x": ("avg", "x"), "total": ("sum", "x")}, n_salts=8
    )
    plain = df.groupBy("k").agg(F.avg("x").alias("avg_x"), F.sum("x").alias("total"))
    s = {r["k"]: (r["avg_x"], r["total"]) for r in salted.collect()}
    p = {r["k"]: (r["avg_x"], r["total"]) for r in plain.collect()}
    assert s.keys() == p.keys()
    for k in p:
        assert s[k][0] == pytest.approx(p[k][0], rel=1e-12)
        assert s[k][1] == pytest.approx(p[k][1], rel=1e-12)


@pytest.mark.parametrize("n_salts", [1, 16])
@pytest.mark.parametrize("group", [(), ("g",)], ids=["global", "grouped"])
@pytest.mark.parametrize("k", [3, 50])
def test_salted_top_k_matches_plain_row_number(spark, k, group, n_salts):
    """One group holds 1900 of 2000 rows, the order key takes four values
    (ties broken by id), and k=50 exceeds the five small groups' 20 rows:
    the salted top-k must return the plain one-phase row_number top-k."""
    from pyspark.sql.window import Window

    df = spark.range(0, 2000).select(
        "id",
        F.when(F.col("id") < 1900, 0).otherwise(F.col("id") % 5 + 1).alias("g"),
        (F.col("id") * 7 % 4).alias("score"),
    )
    order = [F.col("score").desc(), "id"]
    got = salted_top_k(df, k, order, group, salt=F.col("id") % n_salts)
    w = Window.partitionBy(*group).orderBy(*order)
    want = df.withColumn("rank", F.row_number().over(w).cast("long")).filter(
        F.col("rank") <= k
    )
    assert got.dtypes == want.dtypes
    assert sorted(got.collect()) == sorted(want.collect())


def test_salted_join_left_outer(spark):
    fact = spark.createDataFrame(
        [(1, "a"), (1, "b"), (2, "c"), (9, "orphan")], "k INT, payload STRING"
    )
    dim = spark.createDataFrame([(1, "one"), (2, "two")], "k INT, name STRING")
    out = salted_join(fact, dim, on="k", n_salts=4, how="left")
    rows = {(r["payload"], r["name"]) for r in out.collect()}
    assert rows == {("a", "one"), ("b", "one"), ("c", "two"), ("orphan", None)}


def test_processing_time_trigger_runs(spark, tmp_path):
    src = FileSource(path=str(tmp_path / "in"), format="parquet", schema="v BIGINT")
    os.makedirs(tmp_path / "in")
    spark.range(0, 100).select(F.col("id").alias("v")).write.mode("overwrite").parquet(
        str(tmp_path / "in")
    )
    writer = with_trigger(
        memory_sink(src.load(spark), "trig_out"), processing_time="1 seconds"
    ).option("checkpointLocation", str(tmp_path / "ckpt"))
    run_to_completion(writer)
    assert spark.table("trig_out").count() == 100


def test_with_trigger_rejects_two_modes(spark, tmp_path):
    df = spark.readStream.format("rate").load()
    with pytest.raises(ValueError):
        with_trigger(df.writeStream.format("console"), processing_time="1 seconds", available_now=True)


def _run_lateness_pipeline(spark, tmp_path, tag, delayed):
    in_dir = tmp_path / f"stream-{tag}"
    os.makedirs(in_dir)

    def write_batch(ts_list):
        pdf = pd.DataFrame({"ts": pd.to_datetime(ts_list, unit="s"), "v": 1})
        spark.createDataFrame(pdf).coalesce(1).write.mode("append").parquet(str(in_dir))

    write_batch([30, 90, 200])  # advances max event time to 200s
    src = spark.readStream.schema("ts TIMESTAMP, v BIGINT").parquet(str(in_dir))
    if delayed:
        src = with_allowed_lateness(src, "ts", out_of_orderness="10 seconds", lateness="30 seconds")
    else:
        src = src.withWatermark("ts", "10 seconds")
    agg = (
        src.groupBy(tumbling("ts", "60 seconds"))
        .agg(F.count("*").alias("n"))
        .select(F.col("window.start").cast("long").alias("w"), "n")
    )
    writer = memory_sink(agg, f"late_out_{tag}", mode="update").option(
        "checkpointLocation", str(tmp_path / f"ck-{tag}")
    )
    q = writer.start()
    q.processAllAvailable()
    # delayed: wm = 200-40 = 160s, so [120,180) is still open; plain: wm=190
    write_batch([130, 20])  # 130 is late; 20 is beyond any bound
    q.processAllAvailable()
    q.stop()
    q.awaitTermination(30)
    return {r["w"]: r["n"] for r in spark.table(f"late_out_{tag}").collect()}


def test_allowed_lateness_rescues_late_rows(spark, tmp_path):
    """Tumbling 60s window, out-of-orderness 10s, lateness 30s.  After the
    watermark reaches 160s a late row at t=130 (window [120,180), end 180 >
    wm) must still be counted; with only the 10s bound (wm=190 ≥ 180) the
    same row is dropped — the negative control."""
    got = _run_lateness_pipeline(spark, tmp_path, "lax", delayed=True)
    assert got.get(120) == 1  # rescued: pane exists only because of lateness
    assert got[0] == 1  # the t=20 row stayed dropped
    assert got[60] == 1 and got[180] == 1

    plain = _run_lateness_pipeline(spark, tmp_path, "strict", delayed=False)
    assert 120 not in plain  # without lateness the late row is dropped
    assert plain[0] == 1


def test_source_to_counter_fused_pipeline(spark, tmp_path):
    """≙ KafkaToRedisOperator: exactly-once counter over a replayable
    source — the stress-test invariant (count in == count out)."""
    in_dir = tmp_path / "in"
    os.makedirs(in_dir)
    spark.range(0, 2500).write.mode("overwrite").parquet(str(in_dir))
    src = spark.readStream.schema("id BIGINT").option("maxFilesPerTrigger", "2").parquet(
        str(in_dir)
    )
    writer, sink = source_to_counter(src, str(tmp_path / "counter"), str(tmp_path / "ckpt"))
    run_to_completion(writer)
    assert sink.total() == 2500
    # replaying from the same checkpoint must not double-count
    writer2, sink2 = source_to_counter(
        spark.readStream.schema("id BIGINT").parquet(str(in_dir)),
        str(tmp_path / "counter"),
        str(tmp_path / "ckpt"),
    )
    run_to_completion(writer2)
    assert sink2.total() == 2500


def test_async_egress_retry_then_success(spark):
    from flink_net_spark.operators.async_egress import (
        AsyncEgressStage,
        EgressPolicy,
        TransientEgressError,
    )

    df = spark.range(100).select(F.col("id").alias("k"))

    def flaky(chunk, attempt):
        if attempt < 2:
            raise TransientEgressError("503")
        return pd.DataFrame({"k": chunk["k"], "resp": chunk["k"] * 10})

    out = (
        AsyncEgressStage(flaky, "k bigint, resp bigint", EgressPolicy(max_retries=2))
        .transform(df)
        .orderBy("k")
        .collect()
    )
    assert len(out) == 100
    assert out[7]["resp"] == 70


def test_async_egress_retries_exhausted_fails_task(spark):
    from flink_net_spark.operators.async_egress import (
        AsyncEgressStage,
        EgressPolicy,
        TransientEgressError,
    )
    df = spark.range(10).select(F.col("id").alias("k"))

    def always_down(chunk, attempt):
        raise TransientEgressError("503 forever")

    stage = AsyncEgressStage(
        always_down, "k bigint, resp bigint", EgressPolicy(max_retries=1)
    )
    with pytest.raises(Exception, match="503 forever"):
        stage.transform(df).collect()


def test_async_egress_deadline_is_retried(spark):
    from flink_net_spark.operators.async_egress import (
        AsyncEgressStage,
        EgressPolicy,
    )
    import time as _time

    df = spark.range(8).repartition(1).select(F.col("id").alias("k"))

    def slow_then_fast(chunk, attempt):
        if attempt == 0:
            _time.sleep(0.05)  # blows the 1ms deadline -> EgressDeadlineExceeded
        return pd.DataFrame({"k": chunk["k"], "attempt_used": attempt})

    out = (
        AsyncEgressStage(
            slow_then_fast,
            "k bigint, attempt_used int",
            EgressPolicy(max_retries=1, timeout_ms=1),
        )
        .transform(df)
        .collect()
    )
    assert {r["attempt_used"] for r in out} == {1}  # every chunk went to attempt 1
