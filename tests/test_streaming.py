"""Streaming-layer tests — SURVEY.md §2.1/§2.2/§2.8/§2.9 behaviors.

Mirrors the reference's E2E strategy (exact-count invariants on bounded
synthetic streams + fault-injected exactly-once verification:
stress_test_passed_output.txt:85-104, reliability 10M-msg run with 5%
fault injection, FlinkDotnetStandardReliabilityTest.cs).
"""

from __future__ import annotations

import os
import tempfile

import pyspark.sql.functions as F
import pytest

from flink_net_spark.sinks import (
    CounterSink,
    ForeachSinkAdapter,
    TransactionalParquetSink,
    UpsertSink,
    memory_sink,
    run_to_completion,
)
from flink_net_spark.sources import FileSource, KafkaSource, RateSource, replay_table_as_stream
from flink_net_spark.tables import load_table
from tests.conftest import SF_DIR


@pytest.fixture()
def events_stream(spark, tmp_path):
    return replay_table_as_stream(
        spark, SF_DIR, "events", str(tmp_path / "stage"), n_chunks=8, max_files_per_trigger=1
    )


def test_exact_count_invariant(spark, events_stream, tmp_path):
    """≙ the 1M-msg stress test: every record through source→map→sink is
    counted exactly once (Redis global-sequence == produced count)."""
    truth = load_table(spark, SF_DIR, "events").count()
    sink = CounterSink(str(tmp_path / "counter"))
    mapped = events_stream.withColumn("tag", F.concat(F.lit("msg-"), F.col("event_id")))
    run_to_completion(
        mapped.writeStream.foreachBatch(sink).option(
            "checkpointLocation", str(tmp_path / "ckpt")
        )
    )
    assert sink.total() == truth
    # multiple micro-batches actually happened (it was a stream, not a batch)
    batches = [f for f in os.listdir(sink.state_dir) if f.startswith("batch-")]
    assert len(batches) >= 4


class _FailOnce:
    """Commits the batch, then dies once — the crash window between sink
    commit and Spark's checkpoint commit, the classic double-write hazard
    that 2PC/idempotency must close (≙ reliability-test fault injection).
    Mixed in ahead of a sink class, whose own arguments come first."""

    def __init__(self, *sink_args, fail_at_batch: int, flag_path: str):
        super().__init__(*sink_args)
        self.fail_at_batch = fail_at_batch
        self.flag_path = flag_path

    def __call__(self, batch_df, batch_id):
        super().__call__(batch_df, batch_id)
        if batch_id == self.fail_at_batch and not os.path.exists(self.flag_path):
            with open(self.flag_path, "w") as fh:
                fh.write("injected")
            raise RuntimeError("injected failure after sink commit")


class _FailingOnceSink(_FailOnce, TransactionalParquetSink):
    pass


class _FailingOnceUpsertSink(_FailOnce, UpsertSink):
    pass


def test_exactly_once_kill_restart(spark, tmp_path):
    """Kill the query after the sink committed batch 2 but before Spark
    checkpointed it; restart from the same checkpoint.  Spark replays batch
    2 with the same batchId; the idempotent sink must skip it → output has
    no loss and no duplicates."""
    stage = str(tmp_path / "stage")
    stream = replay_table_as_stream(spark, SF_DIR, "events", stage, n_chunks=6, max_files_per_trigger=1)
    truth = load_table(spark, SF_DIR, "events").count()

    out_dir = str(tmp_path / "out")
    ckpt = str(tmp_path / "ckpt")
    sink = _FailingOnceSink(out_dir, fail_at_batch=2, flag_path=str(tmp_path / "flag"))

    q = stream.writeStream.foreachBatch(sink).option("checkpointLocation", ckpt).start()
    with pytest.raises(Exception):  # noqa: PT011 - injected failure surfaces via awaitTermination
        q.awaitTermination()
    assert os.path.exists(sink.flag_path), "failure was not injected"

    # restart from the same checkpoint with a plain (non-failing) sink
    sink2 = TransactionalParquetSink(out_dir)
    q2 = stream.writeStream.foreachBatch(sink2).option("checkpointLocation", ckpt).start()
    q2.processAllAvailable()
    q2.stop()
    q2.awaitTermination(30)

    got = spark.read.parquet(os.path.join(out_dir, "batch_id=*"))
    assert got.count() == truth, "exactly-once violated: loss or duplication"
    assert got.select("event_id").distinct().count() == truth
    # batch 2 exists exactly once on disk
    assert os.path.isdir(os.path.join(out_dir, "batch_id=2"))


def test_restart_rescale_resume_exactly_once(spark, tmp_path):
    """≙ POST /jobs/{id}/restart + /scale (JobManagerController.cs:35-352):
    a STATEFUL keyed aggregate dies mid-stream (after its sink committed a
    batch but before Spark checkpointed it), then ``JobManager.restart``
    resumes the same checkpoint at a DIFFERENT parallelism.  The final
    complete-mode emission must equal the batch truth: state was restored,
    the crashed batch replayed exactly once, and the rescale didn't disturb
    the pinned state-store layout."""
    from flink_net_spark.jobs import JobManager, JobSpec

    stage = str(tmp_path / "stage")
    stream = replay_table_as_stream(
        spark, SF_DIR, "events", stage, n_chunks=6, max_files_per_trigger=1
    )
    truth = {
        r["event_type"]: r["n"]
        for r in load_table(spark, SF_DIR, "events")
        .groupBy("event_type")
        .agg(F.count(F.lit(1)).alias("n"))
        .collect()
    }
    counts = stream.groupBy("event_type").agg(F.count(F.lit(1)).alias("n"))

    out_dir = str(tmp_path / "out")
    ckpt = str(tmp_path / "ckpt")
    prev_parts = spark.conf.get("spark.sql.shuffle.partitions")
    spark.conf.set("spark.sql.shuffle.partitions", "8")
    try:
        fail_sink = _FailingOnceSink(out_dir, fail_at_batch=2, flag_path=str(tmp_path / "flag"))
        spec_v1 = JobSpec(
            name="rescale_job",
            checkpoint=ckpt,
            build=lambda s: counts.writeStream.outputMode("complete").foreachBatch(fail_sink),
        )
        jm = JobManager(spark)
        job = jm.submit(spec_v1)
        with pytest.raises(Exception):  # noqa: PT011 - injected failure
            job.await_termination()
        assert os.path.exists(fail_sink.flag_path), "failure was not injected"

        # restart from the same checkpoint, rescaled 8 -> 4
        sink_v2 = TransactionalParquetSink(out_dir)
        spec_v2 = JobSpec(
            name="rescale_job",
            checkpoint=ckpt,
            build=lambda s: counts.writeStream.outputMode("complete").foreachBatch(sink_v2),
        )
        job2 = jm.restart(spec_v2, new_shuffle_partitions=4)
        # the override is scoped to the restarted job (its cloned stream
        # session) — the shared session conf must come back untouched
        assert spark.conf.get("spark.sql.shuffle.partitions") == "8"
        job2.query.processAllAvailable()
        job2.stop()
        job2.await_termination(30)
    finally:
        spark.conf.set("spark.sql.shuffle.partitions", prev_parts)

    # last complete-mode batch = the final state of the keyed aggregate
    batches = [
        int(d.split("=")[1])
        for d in os.listdir(out_dir)
        if d.startswith("batch_id=")
    ]
    last = spark.read.parquet(os.path.join(out_dir, f"batch_id={max(batches)}"))
    got = {r["event_type"]: r["n"] for r in last.collect()}
    assert got == truth, f"rescale/restart lost or duplicated state: {got} != {truth}"
    # the crashed batch exists exactly once on disk (idempotent replay)
    assert os.path.isdir(os.path.join(out_dir, "batch_id=2"))


def test_restart_survives_process_boundary(spark, tmp_path):
    """Checkpoint durability ACROSS PROCESSES (≙ JobManager restarting a
    job on fresh TaskManager processes after a cluster bounce): a stateful
    keyed count runs in subprocess A (own JVM) over the first half of the
    chunks, exits; the stage gains the remaining chunks and subprocess B (a
    brand-new JVM, at a DIFFERENT parallelism) resumes the same checkpoint.
    B's final complete-mode emission must equal the batch truth over ALL
    chunks — the state store and source offsets were rebuilt purely from
    the checkpoint files, nothing in-memory survived."""
    import subprocess
    import sys as _sys

    # stage 6 single-file chunks; only 3 visible to the first process
    full = load_table(spark, SF_DIR, "events")
    all_dir = str(tmp_path / "all_chunks")
    full.repartition(6).write.mode("overwrite").parquet(all_dir)
    parts = sorted(f for f in os.listdir(all_dir) if f.startswith("part-"))
    assert len(parts) == 6
    stage = str(tmp_path / "stage")
    os.makedirs(stage)
    for p in parts[:3]:
        os.link(os.path.join(all_dir, p), os.path.join(stage, p))

    out_dir, ckpt = str(tmp_path / "out"), str(tmp_path / "ckpt")
    runner = os.path.join(os.path.dirname(__file__), "process_restart_runner.py")

    def run(parallelism: str):
        r = subprocess.run(
            [_sys.executable, runner, stage, out_dir, ckpt, parallelism],
            capture_output=True, text=True, timeout=300,
        )
        assert r.returncode == 0 and "RUNNER_OK" in r.stdout, r.stderr[-2000:]

    run("8")
    for p in parts[3:]:  # the tail arrives while no job is running
        os.link(os.path.join(all_dir, p), os.path.join(stage, p))
    run("4")  # fresh JVM, rescaled, same checkpoint

    truth = {
        r["event_type"]: r["n"]
        for r in full.groupBy("event_type").agg(F.count(F.lit(1)).alias("n")).collect()
    }
    batches = [
        int(d.split("=")[1]) for d in os.listdir(out_dir) if d.startswith("batch_id=")
    ]
    last = spark.read.parquet(os.path.join(out_dir, f"batch_id={max(batches)}"))
    got = {r["event_type"]: r["n"] for r in last.collect()}
    assert got == truth, f"state lost across process boundary: {got} != {truth}"


def test_foreach_sink_lifecycle(spark, events_stream, tmp_path):
    """ISinkFunction open/invoke/close lifecycle via writeStream.foreach
    (≙ ISinkFunction.cs:12, ConsoleSinkFunction.cs:7-30).  Each partition
    writes a marker file in open() and one line per record — local-mode
    executors share our FS, so we can observe the per-record path."""
    marks = str(tmp_path / "marks")
    os.makedirs(marks, exist_ok=True)

    class FileWritingSink(ForeachSinkAdapter):
        def __init__(self):
            super().__init__(self._invoke_row)
            self._fh = None

        def open(self, partition_id, epoch_id):  # noqa: A003
            self._fh = open(os.path.join(marks, f"p{partition_id}-e{epoch_id}"), "a")
            return True

        def _invoke_row(self, row):
            self._fh.write(f"{row.event_id}\n")

        def close(self, error):
            if self._fh:
                self._fh.close()

    small = events_stream.filter(F.col("event_id") < 100).select("event_id")
    run_to_completion(
        small.writeStream.foreach(FileWritingSink()).option(
            "checkpointLocation", str(tmp_path / "ck")
        )
    )
    written = 0
    for f in os.listdir(marks):
        with open(os.path.join(marks, f)) as fh:
            written += sum(1 for _ in fh)
    truth = load_table(spark, SF_DIR, "events").filter(F.col("event_id") < 100).count()
    assert written == truth


def test_file_source_bounded_unbounded(spark, tmp_path):
    """IUnifiedSource.IsBounded: same source definition, batch vs stream."""
    p = str(tmp_path / "txt")
    os.makedirs(p)
    with open(os.path.join(p, "a.txt"), "w") as fh:
        fh.write("alpha\nbeta\ngamma\n")

    bounded = FileSource(path=p, format="text", bounded=True).load(spark)
    assert not bounded.isStreaming
    assert bounded.count() == 3

    streaming = FileSource(path=p, format="text", bounded=False, max_files_per_trigger=1).load(spark)
    assert streaming.isStreaming
    run_to_completion(
        memory_sink(streaming, "file_src_test").option("checkpointLocation", str(tmp_path / "ck"))
    )
    assert spark.table("file_src_test").count() == 3


def test_rate_source(spark, tmp_path):
    """≙ ExampleSource synthetic generator: rate source emits the
    deterministic 0,1,2,... value sequence."""
    df = RateSource(rows_per_second=100, num_partitions=2).load(spark)
    assert df.isStreaming
    q = (
        df.writeStream.format("memory")
        .queryName("rate_test")
        .option("checkpointLocation", str(tmp_path / "ck"))
        .start()
    )
    import time

    deadline = time.time() + 20
    while time.time() < deadline and spark.table("rate_test").count() < 10:
        time.sleep(0.5)
    q.stop()
    vals = [r.value for r in spark.table("rate_test").select("value").collect()]
    assert len(vals) >= 10
    assert sorted(vals) == list(range(len(vals)))  # gapless sequence


def test_kafka_source_configures_offline(spark):
    """Kafka needs a broker (absent here); the builder itself must be
    construct-safe and carry bounded/unbounded through (≙
    KafkaSourceBuilder, KafkaSourceFunction.cs:261)."""
    src = KafkaSource(
        bootstrap_servers="localhost:9092",
        topics="events",
        bounded=True,
        ending_offsets="latest",
        group_id_prefix="flink-net-spark",
    )
    assert src.bounded and src.topics == "events"
    # load() would contact the broker; construction must not.


def test_transactional_sink_idempotent_replay(spark, tmp_path):
    """Direct 2PC-idempotency check: calling the sink twice with the same
    batchId writes the batch once (≙ ITransactionalSinkFunction commit
    dedup)."""
    sink = TransactionalParquetSink(str(tmp_path / "out"))
    df = spark.range(10).withColumnRenamed("id", "v")
    sink(df, 0)
    sink(df, 0)  # replay
    got = spark.read.parquet(str(tmp_path / "out" / "batch_id=0"))
    assert got.count() == 10
    assert sink.committed_batches() == {0}


def test_dead_letter_sink_splits_and_resubmits(spark, events_stream, tmp_path):
    """DLQ pattern: 'error' events dead-letter with reason metadata, the
    rest reach the main sink, resubmit round-trips the rejects — and
    main + DLQ counts exactly partition the input (no loss, no dupes)."""
    from flink_net_spark.sinks import DeadLetterSink

    sink = DeadLetterSink(
        main_path=str(tmp_path / "main"),
        dlq_path=str(tmp_path / "dlq"),
        invalid_cond_sql="event_type = 'error'",
        reason="error_event",
    )
    q = sink.writer(events_stream, str(tmp_path / "ckpt")).start()
    q.processAllAvailable()
    q.stop()

    from flink_net_spark.tables import load_table
    from tests.conftest import SF_DIR

    ev = load_table(spark, SF_DIR, "events")
    n_err = ev.filter("event_type = 'error'").count()
    n_ok = ev.count() - n_err

    main = spark.read.parquet(str(tmp_path / "main" / "batch_id=*"))
    dlq = spark.read.parquet(str(tmp_path / "dlq" / "batch_id=*"))
    assert main.count() == n_ok
    assert dlq.count() == n_err
    assert set(r.dlq_reason for r in dlq.select("dlq_reason").distinct().collect()) == {
        "error_event"
    }
    back = sink.resubmit(spark)
    assert back.count() == n_err
    assert sorted(back.columns) == sorted(ev.columns)


def _user_event_ids(df) -> list[tuple[int, int]]:
    return sorted((r.user_id, r.event_id) for r in df.select("user_id", "event_id").collect())


def _argmax_truth(spark) -> list[tuple[int, int]]:
    """One row per user_id, the one with the highest event_id: what an
    UpsertSink snapshot of the events changelog must hold."""
    events = load_table(spark, SF_DIR, "events")
    return _user_event_ids(events.groupBy("user_id").agg(F.max("event_id").alias("event_id")))


def test_upsert_sink_latest_state_per_key(spark, events_stream, tmp_path):
    """CDC upsert: replaying the events changelog through UpsertSink must
    leave exactly one row per user_id — the one with the highest event_id —
    identical to the batch argmax truth, and replaying a committed batchId
    must be a no-op (exactly-once snapshot)."""
    sink = UpsertSink(str(tmp_path / "upsert"), key_cols=("user_id",), seq_col="event_id")
    run_to_completion(sink.writer(events_stream, str(tmp_path / "ckpt")))

    want = _argmax_truth(spark)
    assert _user_event_ids(sink.snapshot(spark)) == want

    # replaying an already-committed batchId publishes nothing new and
    # leaves the snapshot unchanged
    published = sorted(os.listdir(sink.out_dir))
    assert "batch_id=0" in published
    sink(load_table(spark, SF_DIR, "events").limit(5), 0)
    assert sorted(os.listdir(sink.out_dir)) == published
    assert _user_event_ids(sink.snapshot(spark)) == want


def test_upsert_sink_restart_behind_stateful_upstream(spark, tmp_path):
    """Kill the query after UpsertSink published batch 1 but before Spark
    checkpointed it, behind a stateful ``dropDuplicates``; restart from the
    same checkpoint.  The replayed batch must be read in full (so the
    upstream's state commits) and write nothing: the final snapshot equals
    the batch argmax truth, each batch id is published once, and nothing is
    left in ``.staging``."""
    stream = replay_table_as_stream(
        spark, SF_DIR, "events", str(tmp_path / "stage"), n_chunks=6, max_files_per_trigger=1
    ).dropDuplicates(["event_id"])
    out_dir = str(tmp_path / "upsert")
    ckpt = str(tmp_path / "ckpt")
    keys = ("user_id",)
    fail_sink = _FailingOnceUpsertSink(
        out_dir, keys, "event_id", fail_at_batch=1, flag_path=str(tmp_path / "flag")
    )
    q = fail_sink.writer(stream, ckpt).start()
    with pytest.raises(Exception):  # noqa: PT011 - injected failure surfaces via awaitTermination
        q.awaitTermination()
    assert os.path.exists(fail_sink.flag_path), "failure was not injected"

    sink = UpsertSink(out_dir, keys, "event_id")
    run_to_completion(sink.writer(stream, ckpt))

    assert _user_event_ids(sink.snapshot(spark)) == _argmax_truth(spark)
    published = sorted(n for n in os.listdir(out_dir) if n != ".staging")
    assert published == [f"batch_id={i}" for i in range(6)]
    assert os.listdir(os.path.join(out_dir, ".staging")) == []


def test_dead_letter_sink_replay_keeps_committed_output(spark, tmp_path):
    """A replayed batchId must leave the main and DLQ output it already
    committed as they stand, even when the replay carries other rows; a
    row whose predicate is NULL is dead-lettered, never dropped."""
    from flink_net_spark.sinks import DeadLetterSink

    nulls = DeadLetterSink(
        main_path=str(tmp_path / "nmain"),
        dlq_path=str(tmp_path / "ndlq"),
        invalid_cond_sql="v > 5",
    )
    nulls(spark.createDataFrame([(1,), (7,), (None,)], "v BIGINT"), 0)
    main = spark.read.parquet(str(tmp_path / "nmain" / "batch_id=0"))
    dlq = spark.read.parquet(str(tmp_path / "ndlq" / "batch_id=0"))
    assert [r.v for r in main.collect()] == [1]
    assert sorted((r.v for r in dlq.collect()), key=lambda v: v is None) == [7, None]

    sink = DeadLetterSink(
        main_path=str(tmp_path / "main"),
        dlq_path=str(tmp_path / "dlq"),
        invalid_cond_sql="v % 3 = 0",
    )
    sink(spark.range(10).withColumnRenamed("id", "v"), 0)
    sink(spark.range(100, 120).withColumnRenamed("id", "v"), 0)  # replay, other rows

    main = spark.read.parquet(str(tmp_path / "main" / "batch_id=0"))
    dlq = spark.read.parquet(str(tmp_path / "dlq" / "batch_id=0"))
    assert sorted(r.v for r in main.collect()) == [1, 2, 4, 5, 7, 8]
    assert sorted(r.v for r in dlq.collect()) == [0, 3, 6, 9]


def test_rocksdb_state_backend_is_active_and_correct(spark, tmp_path):
    """The session runs streaming state on the RocksDB state store
    (≙ RocksDBStateBackend.cs:71-395) — assert the provider conf is live,
    run a keyed stateful stream across micro-batches, verify the result,
    and prove RocksDB actually backed the state by the checkpoint layout
    (RocksDB snapshots state as versioned .zip archives; the HDFS-backed
    store would write bare .delta files)."""
    assert "RocksDBStateStoreProvider" in spark.conf.get(
        "spark.sql.streaming.stateStore.providerClass"
    )
    src = str(tmp_path / "src")
    for i in range(3):
        spark.range(i * 100, (i + 1) * 100).selectExpr(
            "id", "id % 7 AS k"
        ).coalesce(1).write.mode("append").parquet(src)
    ckpt = str(tmp_path / "ckpt")
    stream = (
        spark.readStream.schema("id long, k long")
        .option("maxFilesPerTrigger", "1")
        .parquet(src)
        .groupBy("k")
        .agg(F.count(F.lit(1)).alias("n"), F.sum("id").alias("s"))
    )
    q = (
        stream.writeStream.format("memory")
        .queryName("rocksdb_probe")
        .outputMode("complete")
        .option("checkpointLocation", ckpt)
        .start()
    )
    q.processAllAvailable()
    q.stop()
    rows = {r["k"]: (r["n"], r["s"]) for r in spark.table("rocksdb_probe").collect()}
    truth = {
        r["k"]: (r["n"], r["s"])
        for r in spark.range(300)
        .selectExpr("id", "id % 7 AS k")
        .groupBy("k")
        .agg(F.count(F.lit(1)).alias("n"), F.sum("id").alias("s"))
        .collect()
    }
    assert rows == truth
    # RocksDB leaves provider-specific artifacts under state/: versioned
    # .zip snapshot archives, and — with changelogCheckpointing on (the
    # session default) — per-commit .changelog deltas uploaded in place of
    # eager full snapshots.  The HDFS-backed store would write bare .delta
    # files and neither of these.
    arts = [
        f
        for root, _, files in os.walk(os.path.join(ckpt, "state"))
        for f in files
        if f.endswith((".zip", ".changelog"))
    ]
    assert arts, "no RocksDB snapshot/changelog artifacts under the state checkpoint"


def test_file_source_orc_roundtrip(spark, tmp_path):
    """Format coverage past the reference's text/csv/json set: ORC is an
    engine-native column format the generic FileSource must pass through
    untouched — batch AND micro-batch reads of the same directory, with a
    value checksum against the parquet original (not just a row count)."""
    src = (
        load_table(spark, SF_DIR, "events")
        .filter(F.col("event_id") < 500)
        .select("event_id", "user_id", "event_type", "value")
    )
    truth = src.agg(
        F.count(F.lit(1)).alias("n"),
        F.sum("event_id").alias("s"),
        F.sum(F.expr("CAST(ROUND(value * 1000, 0) AS BIGINT)")).alias("v"),
    ).collect()[0]
    p = str(tmp_path / "orc")
    src.repartition(3).write.orc(p)

    bounded = FileSource(path=p, format="orc", bounded=True).load(spark)
    assert not bounded.isStreaming
    got = bounded.agg(
        F.count(F.lit(1)).alias("n"),
        F.sum("event_id").alias("s"),
        F.sum(F.expr("CAST(ROUND(value * 1000, 0) AS BIGINT)")).alias("v"),
    ).collect()[0]
    assert tuple(got) == tuple(truth)

    streaming = FileSource(
        path=p,
        format="orc",
        schema="event_id BIGINT, user_id BIGINT, event_type STRING, value DOUBLE",
        bounded=False,
        max_files_per_trigger=1,
    ).load(spark)
    assert streaming.isStreaming
    run_to_completion(
        memory_sink(streaming, "orc_src_test").option(
            "checkpointLocation", str(tmp_path / "ck_orc")
        )
    )
    assert spark.table("orc_src_test").count() == truth["n"]
