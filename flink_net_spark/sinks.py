"""Sink factories — SURVEY.md §2.2 on ``writeStream`` / ``foreachBatch``.

Reference contracts:
  - ``ISinkFunction<T>.Invoke(record, ctx)`` per-record sink
    (FlinkDotNet/FlinkDotNet.Core.Abstractions/Sinks/ISinkFunction.cs:12)
    → ``ForeachSinkAdapter`` (writeStream.foreach) with the same
    open/invoke/close lifecycle (≙ IOperatorLifecycle.cs:9).
  - ``ConsoleSinkFunction`` (Connectors.Sinks.Console/ConsoleSinkFunction.cs:7-30)
    → ``console_sink``.
  - ``KafkaSinkFunction`` incl. transactional producer
    (Connectors.Sources.Kafka/KafkaSinkFunction.cs:13-90) → ``kafka_sink``.
  - ``ITransactionalSinkFunction`` 2-phase-commit
    (Sinks/ITransactionalSinkFunction.cs:8) → ``TransactionalParquetSink``:
    Spark's micro-batch commit log plays the coordinator; the sink makes the
    batch write atomic+idempotent (stage to temp, rename, a published batch
    dir is never rewritten), which under checkpointed replay yields
    exactly-once output —
    the same guarantee the reference builds from barriers + 2PC
    (docs/wiki/Core-Concepts-Exactly-Once-Semantics.md).
  - ``RedisIncrementSinkFunction`` counter sink
    (FlinkDotNetAspire/FlinkJobSimulator/RedisIncrementSinkFunction.cs:1)
    → ``CounterSink``: idempotent per-batchId counter increments, used by
    the exactly-once stress tests exactly like the reference's Redis
    global-sequence verification (stress_test_passed_output.txt:85-104).

Scale: every sink is executor-side (foreachBatch receives a distributed
DataFrame).  The exactly-once sinks keep no driver-side log: a batch is
committed exactly when its output is published under the sink's directory,
by one rename out of the hidden ``.staging/`` dir (``_publish``), and a
replayed batch whose output is published is read in full, then skipped.
"""

from __future__ import annotations

import json
import math
import os
import shutil
import uuid
from collections.abc import Callable
from dataclasses import dataclass

from pyspark.sql import DataFrame
from pyspark.sql.streaming import DataStreamWriter, StreamingQuery


def console_sink(df: DataFrame, mode: str = "append", truncate: bool = False) -> DataStreamWriter:
    """≙ ConsoleSinkFunction.cs:7-30 (prints records with task context)."""
    return df.writeStream.format("console").outputMode(mode).option("truncate", str(truncate).lower())


def memory_sink(df: DataFrame, table_name: str, mode: str = "append") -> DataStreamWriter:
    """In-session queryable sink (the test/debug sink; no reference analog —
    the reference uses Redis for the same observe-the-output role)."""
    return df.writeStream.format("memory").queryName(table_name).outputMode(mode)


def parquet_sink(df: DataFrame, path: str, checkpoint: str, mode: str = "append") -> DataStreamWriter:
    """File sink with Spark's own transactional file commit protocol."""
    return (
        df.writeStream.format("parquet")
        .outputMode(mode)
        .option("path", path)
        .option("checkpointLocation", checkpoint)
    )


def kafka_sink_options(
    bootstrap_servers: str,
    topic: str,
    checkpoint: str,
    producer_overrides: dict[str, str] | None = None,
) -> dict[str, str]:
    """The EXACT option map applied to the Kafka stream writer — pure
    function so the producer contract is testable without a broker
    (≙ KafkaSinkFunction.cs:13-90 config assembly).  ``kafka.*``-prefixed
    overrides reach the underlying producer config verbatim (the
    reference's ProducerConfig surface)."""
    opts = {
        "kafka.bootstrap.servers": bootstrap_servers,
        "topic": topic,
        "checkpointLocation": checkpoint,
    }
    for k, v in (producer_overrides or {}).items():
        opts[k if k.startswith("kafka.") else f"kafka.{k}"] = v
    return opts


def kafka_sink(
    df: DataFrame,
    bootstrap_servers: str,
    topic: str,
    checkpoint: str,
    producer_overrides: dict[str, str] | None = None,
) -> DataStreamWriter:
    """≙ KafkaSinkFunction.cs:13-90.  df must expose key/value columns.
    Exactly-once to Kafka = checkpointed offsets + idempotent producer
    (the reference's TransactionalId path maps to Kafka transactions which
    Spark's sink does not open; dedup-on-read or idempotent keys cover it)."""
    writer = df.writeStream.format("kafka")
    for k, v in kafka_sink_options(
        bootstrap_servers, topic, checkpoint, producer_overrides
    ).items():
        writer = writer.option(k, v)
    return writer


class ForeachSinkAdapter:
    """Adapter giving a Python object the ``ISinkFunction`` lifecycle:
    ``open(partition_id, epoch_id)`` / ``process(row)`` / ``close(error)``
    (≙ ISinkFunction.cs:12 + IOperatorLifecycle.cs:9).  Pass an instance to
    ``df.writeStream.foreach(...)``.  Row-at-a-time — prefer foreachBatch
    sinks for anything hot; this exists for API parity."""

    def __init__(self, invoke, on_open=None, on_close=None):
        self._invoke = invoke
        self._on_open = on_open
        self._on_close = on_close

    def open(self, partition_id: int, epoch_id: int) -> bool:  # noqa: A003
        if self._on_open:
            self._on_open(partition_id, epoch_id)
        return True

    def process(self, row) -> None:
        self._invoke(row)

    def close(self, error) -> None:
        if self._on_close:
            self._on_close(error)


def _publish(out_dir: str, name: str, write: Callable[[str], None]) -> bool:
    """The sinks' one commit rule: ``out_dir/name`` is written once.
    ``write(path)`` builds it (a file or a dir) inside the hidden
    ``out_dir/.staging/`` and one rename publishes it, so a published name is
    always complete and its existence records the commit.  Returns False,
    without calling ``write``, when ``name`` is already published."""
    final = os.path.join(out_dir, name)
    if os.path.exists(final):
        return False
    staging = os.path.join(out_dir, ".staging", f"{name}-{uuid.uuid4().hex}")
    os.makedirs(os.path.dirname(staging), exist_ok=True)
    write(staging)
    os.replace(staging, final)
    return True


def _consume(batch_df: DataFrame) -> None:
    """Read a replayed batch in full and write nothing.  Upstream stateful
    operators commit their state-store deltas only when every partition is
    processed, and Spark validates those commits per batch, so a replay that
    skips the read would leave their state uncommitted."""
    batch_df.write.format("noop").mode("overwrite").save()


def _published_batches(out_dir: str) -> set[int]:
    """Batch ids published under ``out_dir`` as ``batch_id=<id>``."""
    if not os.path.isdir(out_dir):
        return set()
    return {int(n.split("=", 1)[1]) for n in os.listdir(out_dir) if n.startswith("batch_id=")}


@dataclass
class TransactionalParquetSink:
    """Exactly-once parquet sink as idempotent ``foreachBatch``.

    2PC mapping (≙ ITransactionalSinkFunction.cs:8 BeginTransaction/
    PreCommit/Commit/Abort):
      - BeginTransaction → write batch to ``<out>/.staging/batch_id=<batchId>-<uuid>``
      - PreCommit        → staging write completes (any failure = auto-abort,
                           the orphaned staging dir is ignored)
      - Commit           → atomic rename to ``<out>/batch_id=<batchId>``; the
                           published dir is the commit record
      - replayed batch   → ``batch_id=<batchId>`` already published → read the
                           batch in full, write nothing (idempotent)

    Under checkpoint-restart Spark replays the last uncommitted batch with
    the SAME batchId, so output is exactly-once end-to-end.
    """

    out_dir: str

    def committed_batches(self) -> set[int]:
        return _published_batches(self.out_dir)

    def __call__(self, batch_df: DataFrame, batch_id: int) -> None:
        if not _publish(self.out_dir, f"batch_id={batch_id}", batch_df.write.parquet):
            _consume(batch_df)

    def writer(self, df: DataFrame, checkpoint: str) -> DataStreamWriter:
        return df.writeStream.foreachBatch(self).option("checkpointLocation", checkpoint)


@dataclass
class CounterSink:
    """Idempotent counting sink ≙ RedisIncrementSinkFunction (201 LoC of
    Lua-batched INCRBY in the reference).  Publishes one JSON file per
    batchId, ``batch-<batchId>.json``, so a replayed batch is counted once;
    ``total()`` sums the per-batch counts — the reference's Redis
    global-sequence invariant check."""

    state_dir: str

    def __call__(self, batch_df: DataFrame, batch_id: int) -> None:
        n = batch_df.count()  # reads a replayed batch in full too

        def write(path: str) -> None:
            with open(path, "w") as fh:
                json.dump({"batch_id": batch_id, "count": n}, fh)

        _publish(self.state_dir, f"batch-{batch_id}.json", write)

    def total(self) -> int:
        total = 0
        for f in os.listdir(self.state_dir):
            if f.startswith("batch-"):
                with open(os.path.join(self.state_dir, f)) as fh:
                    total += json.load(fh)["count"]
        return total


def with_trigger(
    writer: DataStreamWriter,
    processing_time: str | None = None,
    available_now: bool = False,
) -> DataStreamWriter:
    """Trigger surface ≙ the reference's Trigger taxonomy
    (Core.Api/Windowing/DefaultTriggers.cs:7-52, Trigger.cs:8-80), mapped to
    Spark's micro-batch scheduling:

      - ``processing_time="10 seconds"`` ≙ ProcessingTimeTrigger — fire a
        micro-batch on a wall-clock cadence (DefaultTriggers.cs:31-44).
      - ``available_now=True`` — drain everything available then stop
        (the bounded-job trigger; how ``run_to_completion`` finishes).
      - neither — Spark's default as-fast-as-possible micro-batches ≙
        EventTimeTrigger: results for an event-time window emit when the
        watermark passes its end (DefaultTriggers.cs:7-29), which in Spark
        is watermark semantics on ANY trigger cadence.
      - NeverTrigger (GlobalWindows default, DefaultTriggers.cs:46-52) has
        no writer mapping: global-window firing is custom logic in the
        stateful harness (streaming.stateful.count_trigger_window etc.).
    """
    if processing_time is not None and available_now:
        raise ValueError("pick one trigger mode")
    if processing_time is not None:
        return writer.trigger(processingTime=processing_time)
    if available_now:
        return writer.trigger(availableNow=True)
    return writer


def run_to_completion(writer: DataStreamWriter) -> StreamingQuery:
    """Start a bounded streaming query, drain every available micro-batch,
    stop.  The Flink-analog of running a bounded DataStream job to finality."""
    q = writer.start()
    q.processAllAvailable()
    q.stop()
    q.awaitTermination(30)
    return q


# -- batch table sinks: partitioned / bucketed layout ------------------------
# The reference has no batch storage layout surface (its sinks are
# per-record streams); these are the engine-native batch counterparts that
# make the 100 TB layout story concrete: partition pruning via directory
# layout, and bucketing so repeated big-big joins on the bucket key need NO
# exchange at read time (the shuffle is paid once, at write).


def write_partitioned(
    df: DataFrame, path: str, partition_cols: list[str], mode: str = "overwrite"
) -> None:
    """Hive-style partitioned parquet: one directory per partition value so
    any filter on a partition column prunes whole directories at plan time
    (PartitionFilters in the scan, zero I/O for pruned values).  Partition
    columns must be low-cardinality (date, region, event_type) — high-
    cardinality partitioning creates a small-file explosion at 100 TB."""
    df.write.partitionBy(*partition_cols).mode(mode).parquet(path)


def write_bucketed(
    df: DataFrame,
    table_name: str,
    path: str,
    bucket_cols: list[str],
    n_buckets: int,
    sort_cols: list[str] | None = None,
    mode: str = "overwrite",
) -> None:
    """Bucketed table write: rows are hash-distributed into ``n_buckets``
    files per partition by ``bucket_cols`` and registered in the catalog.
    Two tables bucketed the same way join WITHOUT any Exchange — the
    shuffle is pre-paid at write time, which is the right trade for
    fact-to-fact joins that repeat every pipeline run (the co-located join
    the brief calls out).  ``sort_cols`` additionally pre-sorts within
    buckets so sort-merge join skips its sort."""
    w = df.write.bucketBy(n_buckets, *bucket_cols)
    if sort_cols:
        w = w.sortBy(*sort_cols)
    w.option("path", path).mode(mode).format("parquet").saveAsTable(table_name)


@dataclass
class DeadLetterSink:
    """Dead-letter-queue pattern (≙ the JobManager's DLQ resubmit surface,
    FlinkDotNet/FlinkDotNet.JobManager/Controllers/JobManagerController.cs:35-352):
    a ``foreachBatch`` sink that splits every micro-batch on a validity
    predicate — valid rows land in the main output, rejects land in a DLQ
    directory with batch/reason metadata, and ``resubmit`` reads the DLQ
    back as a source so repaired records re-enter the pipeline.  A row whose
    predicate is NULL is dead-lettered too, so the main and DLQ outputs
    together hold every row of the batch, each row once.

    Exactly-once: each output is published once as ``batch_id=<batchId>``
    (2PC Commit = the rename out of ``.staging/``), so a replayed batch leaves
    the output it already committed as it stands.
    Executor-side throughout; the split predicate is a Column (codegen).
    """

    main_path: str
    dlq_path: str
    invalid_cond_sql: str  # SQL boolean expr; true or NULL → dead-letter
    reason: str = "validation_failed"

    def __call__(self, batch_df: DataFrame, batch_id: int) -> None:
        from pyspark.sql import functions as F

        cond = F.coalesce(F.expr(self.invalid_cond_sql), F.lit(True))
        name = f"batch_id={batch_id}"
        dead = (
            batch_df.filter(cond)
            .withColumn("dlq_reason", F.lit(self.reason))
            .withColumn("dlq_batch_id", F.lit(batch_id))
        )
        wrote_main = _publish(self.main_path, name, batch_df.filter(~cond).write.parquet)
        wrote_dlq = _publish(self.dlq_path, name, dead.write.parquet)
        if not (wrote_main or wrote_dlq):
            _consume(batch_df)

    def writer(self, df: DataFrame, checkpoint: str) -> DataStreamWriter:
        return (
            df.writeStream.foreachBatch(self)
            .outputMode("append")
            .option("checkpointLocation", checkpoint)
        )

    def resubmit(self, spark) -> DataFrame:
        """Read dead-lettered records back (metadata stripped) for replay."""
        return spark.read.option("recursiveFileLookup", "false").parquet(
            os.path.join(self.dlq_path, "batch_id=*")
        ).drop("dlq_reason", "dlq_batch_id")


@dataclass
class UpsertSink:
    """Keyed CDC upsert sink — changelog-in, latest-state-out (≙ the
    reference's Redis keyed-state sink pattern, RedisIncrementSinkFunction.cs:1,
    generalized to arbitrary rows; Flink calls this an *upsert sink* on a
    retract stream).

    Each micro-batch is compacted to its newest row per key (max ``seq_col``),
    merged with the newest published snapshot (old rows for touched keys are
    replaced), and published as a new immutable snapshot ``batch_id=<batchId>``
    named by the batch that produced it (2PC Commit = the rename out of
    ``.staging/``).  A replayed batchId whose snapshot is published is read in
    full and writes nothing, so checkpoint-restart keeps the snapshot
    exactly-once.  Every snapshot is kept.

    Scale: the merge is a key-partitioned anti-join + union — one shuffle on
    the key.  Rewriting the full snapshot per batch is the plain-parquet
    reality; on a real lake this maps 1:1 to ``MERGE INTO`` on a Delta/
    Iceberg table where only touched partitions/files rewrite.  The
    per-batch compaction (window argmax) bounds merge input to the batch's
    own keys first.
    """

    out_dir: str
    key_cols: tuple[str, ...]
    seq_col: str

    def _newest(self) -> str | None:
        ids = _published_batches(self.out_dir)
        return os.path.join(self.out_dir, f"batch_id={max(ids)}") if ids else None

    def __call__(self, batch_df: DataFrame, batch_id: int) -> None:
        from pyspark.sql import functions as F
        from pyspark.sql.window import Window

        w = Window.partitionBy(*self.key_cols).orderBy(F.col(self.seq_col).desc())

        def argmax(df: DataFrame) -> DataFrame:
            return df.withColumn("_rn", F.row_number().over(w)).filter("_rn = 1").drop("_rn")

        def write(path: str) -> None:
            merged = latest = argmax(batch_df)
            if (newest := self._newest()) is not None:
                # argmax over snapshot ∪ batch, not "batch wins": an
                # out-of-order changelog may deliver an older row later.
                merged = argmax(batch_df.sparkSession.read.parquet(newest).unionByName(latest))
            merged.write.parquet(path)

        if not _publish(self.out_dir, f"batch_id={batch_id}", write):
            _consume(batch_df)

    def snapshot(self, spark) -> DataFrame:
        newest = self._newest()
        if newest is None:
            raise FileNotFoundError(f"no snapshot published under {self.out_dir}")
        return spark.read.parquet(newest)

    def writer(self, df: DataFrame, checkpoint: str) -> DataStreamWriter:
        return df.writeStream.foreachBatch(self).option("checkpointLocation", checkpoint)


def compact_parquet(
    spark,
    path: str,
    target_file_bytes: int = 128 * 1024 * 1024,
    partition_cols: list[str] | None = None,
) -> int:
    """Small-file compaction: rewrite a parquet directory so output files
    approach ``target_file_bytes`` (the operational chore every streaming
    sink and fine-grained partitioned write creates at 100 TB — thousands
    of KB-sized files per partition turn scans into metadata storms and
    NameNode/listing hot spots).

    Sizing uses the directory's actual on-disk bytes (compressed), so the
    output file count is ``ceil(disk_bytes / target)`` — one coalesce-style
    round-robin repartition, no key shuffle.  For partitioned layouts pass
    ``partition_cols`` to preserve the directory structure (files compact
    *within* partitions via a repartition on the partition key).

    Crash-safety contract (precise wording per ADVICE r5): the source is
    NEVER partially overwritten — at every instant a complete copy of the
    data exists on disk, either at ``path`` or parked at
    ``path._precompact`` between the two swap renames.  A crash in that
    window is healed on the next call (the backup is renamed back before
    compacting; proven by the kill-between-renames test).  A leftover
    backup NEXT TO a live ``path`` (crash after the swap, before cleanup)
    raises instead of silently discarding either copy — the operator
    verifies ``path`` and removes the backup.  The swap uses ``os.rename``
    of sibling directories, so staging/backup live on ``path``'s
    filesystem; a ``path`` that is itself a mount point would fail the
    rename (EXDEV) before anything is touched.  Returns the new file
    count."""
    staging = path.rstrip("/") + "._compacting"
    backup = path.rstrip("/") + "._precompact"
    if os.path.exists(backup):
        if os.path.exists(path):
            raise RuntimeError(
                f"both {path} and {backup} exist — a previous compaction "
                "crashed after its swap but before cleanup; verify the data "
                f"at {path} and delete the backup before re-running"
            )
        # crash landed between the two swap renames: the dataset is intact
        # at the backup location — restore it and proceed
        os.rename(backup, path)
    shutil.rmtree(staging, ignore_errors=True)

    disk = sum(
        os.path.getsize(os.path.join(root, f))
        for root, _d, files in os.walk(path)
        for f in files
        if not f.startswith(("_", "."))
    )
    n_files = max(1, math.ceil(disk / target_file_bytes))
    df = spark.read.parquet(path)
    if partition_cols:
        (
            df.repartition(n_files, *partition_cols)
            .write.partitionBy(*partition_cols)
            .mode("overwrite")
            .parquet(staging)
        )
    else:
        df.repartition(n_files).write.mode("overwrite").parquet(staging)
    os.rename(path, backup)
    os.rename(staging, path)
    shutil.rmtree(backup)
    return sum(
        1
        for root, _d, files in os.walk(path)
        for f in files
        if f.endswith(".parquet")
    )
