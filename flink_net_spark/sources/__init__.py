"""Source factories — SURVEY.md §2.1 re-expressed on Spark's unified reader.

Reference contracts:
  - ``ISourceFunction<T>``/``ISourceContext<T>`` pull-loop source
    (FlinkDotNet/FlinkDotNet.Core.Abstractions/Sources/ISourceFunction.cs:12,
    ISourceContext.cs:10): Spark's source API subsumes the run/collect/
    cancel loop; event timestamps travel as an ordinary TimestampType column
    instead of ``CollectWithTimestamp`` side-band metadata.
  - ``IUnifiedSource.IsBounded`` (Sources/IUnifiedSource.cs:6): here the
    ``bounded`` flag flips ``spark.read`` vs ``spark.readStream`` on the
    same format/options — the exact batch/stream unification the reference
    declares.
  - ``FileSourceFunction`` reads a file line-by-line and deserializes
    (FlinkDotNet.Connectors.Sources.File/FileSourceFunction.cs:7-80); the
    Spark file source additionally tails directories, tracks processed files
    in the checkpoint (≙ ICheckpointedFunction), and rate-limits via
    ``maxFilesPerTrigger`` (≙ backpressure, SURVEY §2.10).
  - ``KafkaSourceFunction`` + ``FlinkKafkaConsumerGroup`` (checkpointed
    offsets, bounded mode, consumer groups —
    FlinkDotNet.Connectors.Sources.Kafka/KafkaSourceFunction.cs:19-100,
    FlinkKafkaConsumerGroup.cs:20): Spark's kafka source checkpoints offsets
    automatically; bounded mode = ``endingOffsets``.
  - ``ExampleSource`` synthetic generator
    (Core.Api/Pipeline/FlinkDotnetPipelineExample.cs:277) → rate source.

Scale: file sources list+split natively (maxPartitionBytes governs split
size at 100 TB); kafka parallelism = topic partitions.  No driver-side
record loops anywhere.
"""

from __future__ import annotations

import os
from dataclasses import dataclass, field

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql.types import StructType


@dataclass
class FileSource:
    """File source, bounded or streaming, any Spark-supported format.

    ≙ FileSourceFunction (line-delimited text + pluggable deserializer,
    FileSourceFunction.cs:7-80).  ``format="text"`` + a downstream
    ``from_json``/``from_csv`` map reproduces the reference exactly;
    parquet/json/csv formats are the engine-native superset.
    """

    path: str
    format: str = "text"
    schema: str | StructType | None = None  # required for streaming non-text
    bounded: bool = False  # ≙ IUnifiedSource.IsBounded
    max_files_per_trigger: int | None = None  # ≙ source-side backpressure
    options: dict[str, str] = field(default_factory=dict)

    def load(self, spark: SparkSession) -> DataFrame:
        if self.bounded:
            reader = spark.read.format(self.format)
        else:
            reader = spark.readStream.format(self.format)
            if self.max_files_per_trigger:
                reader = reader.option("maxFilesPerTrigger", str(self.max_files_per_trigger))
        if self.schema:
            reader = reader.schema(self.schema)
        for k, v in self.options.items():
            reader = reader.option(k, v)
        return reader.load(self.path)


@dataclass
class RateSource:
    """Synthetic rate source ≙ ExampleSource N-message generator
    (FlinkDotnetPipelineExample.cs:277).  Emits (timestamp, value) rows at
    ``rows_per_second``; deterministic value sequence 0,1,2,..."""

    rows_per_second: int = 1000
    num_partitions: int | None = None

    def load(self, spark: SparkSession) -> DataFrame:
        reader = (
            spark.readStream.format("rate")
            .option("rowsPerSecond", str(self.rows_per_second))
        )
        if self.num_partitions:
            reader = reader.option("numPartitions", str(self.num_partitions))
        return reader.load()


@dataclass
class KafkaSource:
    """Kafka source builder ≙ KafkaSourceFunction/KafkaSourceBuilder
    (KafkaSourceFunction.cs:19-100,261).

    Offset checkpointing (≙ ICheckpointedFunction via
    FlinkKafkaConsumerGroup.RestoreFromCheckpointAsync) is automatic: Spark
    stores per-partition offsets in the query checkpoint.  ``bounded=True``
    (≙ the reference's bounded consumption mode) reads a fixed offset range
    as a batch DataFrame.

    Requires a reachable broker + the spark-sql-kafka package at runtime;
    construction is offline-safe (factories only configure the reader).
    """

    bootstrap_servers: str
    topics: str  # comma-separated, ≙ Subscribe(topics)
    starting_offsets: str = "earliest"
    ending_offsets: str | None = None  # bounded mode only
    group_id_prefix: str | None = None  # ≙ ConsumerConfig.GroupId
    bounded: bool = False
    options: dict[str, str] = field(default_factory=dict)

    def reader_options(self) -> dict[str, str]:
        """The EXACT option map applied to the (batch or stream) reader —
        a pure function so the consumer-group / offset contract is testable
        without a broker (≙ KafkaSourceBuilder's config assembly,
        KafkaSourceFunction.cs:261).  ``kafka.*``-prefixed passthrough
        options reach the underlying consumer config verbatim."""
        opts = {
            "kafka.bootstrap.servers": self.bootstrap_servers,
            "subscribe": self.topics,
            "startingOffsets": self.starting_offsets,
        }
        if self.bounded:
            opts["endingOffsets"] = self.ending_offsets or "latest"
        if self.group_id_prefix:
            opts["groupIdPrefix"] = self.group_id_prefix
        opts.update(self.options)
        return opts

    def load(self, spark: SparkSession) -> DataFrame:
        reader = (spark.read if self.bounded else spark.readStream).format("kafka")
        for k, v in self.reader_options().items():
            reader = reader.option(k, v)
        return reader.load()

    @classmethod
    def from_checkpoint(
        cls, checkpoint_dir: str, bootstrap_servers: str, topics: str, **kwargs
    ) -> "KafkaSource":
        """Resume consumption from a query checkpoint's committed offsets
        (≙ FlinkKafkaConsumerGroup.RestoreFromCheckpointAsync,
        FlinkKafkaConsumerGroup.cs:20): parse the latest entry of the
        checkpoint's offset log and use it as ``startingOffsets``."""
        return cls(
            bootstrap_servers,
            topics,
            starting_offsets=starting_offsets_from_checkpoint(checkpoint_dir),
            **kwargs,
        )


def starting_offsets_from_checkpoint(checkpoint_dir: str) -> str:
    """Extract the latest Kafka source offsets from a Structured Streaming
    checkpoint as a ``startingOffsets`` JSON string.

    Spark's offset log (``<ckpt>/offsets/<batchId>``) is line-oriented:
    ``v1`` header, one metadata JSON line, then one offset JSON per source —
    for the Kafka source that JSON is exactly the
    ``{"topic":{"partition":offset}}`` shape ``startingOffsets`` accepts, so
    restore is a parse + passthrough (the same contract the reference
    implements by seeking the consumer group,
    FlinkKafkaConsumerGroup.cs:20-100)."""
    import json as _json

    offsets_dir = os.path.join(checkpoint_dir, "offsets")
    batches = [f for f in os.listdir(offsets_dir) if f.isdigit()]
    if not batches:
        raise FileNotFoundError(f"no offset log entries under {offsets_dir}")
    latest = os.path.join(offsets_dir, max(batches, key=int))
    with open(latest) as f:
        lines = [ln.strip() for ln in f if ln.strip()]
    if not lines or not lines[0].startswith("v"):
        raise ValueError(f"unrecognized offset log header in {latest}")
    for ln in lines[1:]:
        if ln == "-":  # source with no offset yet
            continue
        try:
            parsed = _json.loads(ln)
        except ValueError:
            continue
        # the kafka source offset: {topic: {partition: offset}}
        if isinstance(parsed, dict) and all(
            isinstance(v, dict) for v in parsed.values()
        ) and parsed and "batchWatermarkMs" not in parsed:
            return _json.dumps(parsed, sort_keys=True)
    raise ValueError(f"no kafka source offsets found in {latest}")


def source_to_counter(source_df: DataFrame, counter_dir: str, checkpoint: str):
    """Fused consume→count pipeline ≙ ``KafkaToRedisOperator``
    (FlinkDotNet/FlinkDotNet.TaskManager/Operators/KafkaToRedisOperator.cs:14-120):
    the reference fuses a Kafka consumer with Redis counter increments inside
    one checkpointed operator.  Here the fusion is source → ``CounterSink``
    ``foreachBatch`` under one checkpoint: source offsets and the sink's
    per-batchId idempotence combine into the same exactly-once counter
    invariant the stress test asserts (stress_test_passed_output.txt:85-104).

    Works with any streaming source (Kafka via ``KafkaSource().load()``, or
    file/rate streams for broker-less runs).  Returns the configured writer;
    ``.start()`` or ``sinks.run_to_completion`` runs it.
    """
    from flink_net_spark.sinks import CounterSink

    sink = CounterSink(counter_dir)
    writer = source_df.writeStream.foreachBatch(sink).option("checkpointLocation", checkpoint)
    return writer, sink


def replay_table_as_stream(
    spark: SparkSession,
    sf_dir: str,
    name: str,
    stage_dir: str,
    n_chunks: int = 8,
    max_files_per_trigger: int = 2,
) -> DataFrame:
    """Replay a testdata table as a deterministic file stream.

    Mirrors the reference's E2E strategy (synthetic messages produced into
    Kafka, then consumed — stress_test_passed_output.txt:52-61): the table
    is staged once into ``n_chunks`` parquet files (built privately and
    published with one rename, ``session.publish_once``), then read back with
    ``readStream`` + ``maxFilesPerTrigger`` so the stream arrives in
    multiple micro-batches.  Used by the streaming correctness queries and
    the exactly-once tests.
    """
    from flink_net_spark.session import publish_once
    from flink_net_spark.tables import ensure_read_confs, load_table

    ensure_read_confs(spark)
    publish_once(
        stage_dir,
        lambda tmp: load_table(spark, sf_dir, name).repartition(n_chunks).write.parquet(tmp),
    )
    return parquet_stream(spark, stage_dir, max_files_per_trigger)


def parquet_stream(spark: SparkSession, path: str, max_files_per_trigger: int) -> DataFrame:
    """A file stream over the parquet files of the published stage ``path``,
    ``max_files_per_trigger`` per micro-batch, in file mtime order, with the
    schema of the staged files."""
    return FileSource(
        path, "parquet", spark.read.parquet(path).schema, max_files_per_trigger=max_files_per_trigger
    ).load(spark)
