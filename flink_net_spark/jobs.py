"""Job control + observability facade — SURVEY.md §2.14.

≙ the reference's JobManager REST surface
(FlinkDotNet/FlinkDotNet.JobManager/Controllers/JobManagerController.cs:35-352:
list jobs, job detail, metrics, stop, cancel, checkpoints) re-expressed over
``StreamingQuery``, and ``IFlinkMetrics``
(Core.Abstractions/Observability/IFlinkMetrics.cs:1-88) over
``StreamingQueryListener``.
"""

from __future__ import annotations

from collections.abc import Callable
from dataclasses import dataclass, field
from typing import Any

from pyspark.sql import SparkSession
from pyspark.sql.streaming import DataStreamWriter, StreamingQuery
from pyspark.sql.streaming.listener import StreamingQueryListener

from flink_net_spark.tables import shuffle_partitions


class JobClient:
    """≙ JobManagerController job-scoped endpoints (status/stop/cancel/
    metrics)."""

    def __init__(self, query: StreamingQuery):
        self.query = query

    @property
    def job_id(self) -> str:
        return str(self.query.id)

    @property
    def run_id(self) -> str:
        return str(self.query.runId)

    def status(self) -> dict:
        """≙ GET /jobs/{id}."""
        return {
            "job_id": self.job_id,
            "run_id": self.run_id,
            "name": self.query.name,
            "is_active": self.query.isActive,
            "status": self.query.status,
        }

    def metrics(self) -> dict | None:
        """≙ GET /jobs/{id}/metrics — last micro-batch progress (rows/s,
        batch duration, state rows)."""
        return self.query.lastProgress

    def stop(self) -> None:
        """≙ POST /jobs/{id}/stop (graceful)."""
        self.query.stop()

    def cancel(self) -> None:
        """≙ POST /jobs/{id}/cancel — Spark has no hard-kill distinct from
        stop; stop() is both."""
        self.query.stop()

    def await_termination(self, timeout_sec: float | None = None):
        return self.query.awaitTermination(timeout_sec)

    def exception(self):
        return self.query.exception()


@dataclass
class JobSpec:
    """Restartable job definition ≙ the submit payload of POST /jobs
    (JobManagerController.cs:140): a ``build`` callable that reconstructs
    the stream's writer from the session, plus the checkpoint directory
    that carries the job's progress (source offsets + operator state).
    Holding the *recipe* rather than a live query is what makes
    restart-from-checkpoint a first-class operation."""

    name: str
    checkpoint: str
    build: Callable[[SparkSession], DataStreamWriter]

    def start(self, spark: SparkSession) -> JobClient:
        writer = (
            self.build(spark)
            .queryName(self.name)
            .option("checkpointLocation", self.checkpoint)
        )
        return JobClient(writer.start())


class JobManager:
    """≙ JobManagerController collection endpoints (list/overview)."""

    def __init__(self, spark: SparkSession):
        self.spark = spark

    def list_jobs(self) -> list[JobClient]:
        """≙ GET /jobs."""
        return [JobClient(q) for q in self.spark.streams.active]

    def get_job(self, job_id: str) -> JobClient | None:
        q = self.spark.streams.get(job_id)
        return JobClient(q) if q else None

    def stop_all(self) -> None:
        for q in self.spark.streams.active:
            q.stop()

    def submit(self, spec: JobSpec) -> JobClient:
        """≙ POST /jobs (JobManagerController.cs:140)."""
        return spec.start(self.spark)

    def restart(
        self, spec: JobSpec, new_shuffle_partitions: int | None = None
    ) -> JobClient:
        """≙ POST /jobs/{id}/restart + /scale
        (JobManagerController.cs:35-352): stop the active run of this job
        if one exists, then resume the SAME job from its checkpoint —
        optionally at a new parallelism.

        Rescale semantics on Spark: ``spark.sql.shuffle.partitions``
        governs task parallelism for stateless stages and new queries
        immediately; a STATEFUL query's state-store partition count was
        pinned into the checkpoint at its first batch (Spark reads
        numShufflePartitions back from the offset log on restart), so the
        keyed state layout is stable across the rescale — which is exactly
        what makes the resume exactly-once: replayed batches recompute from
        restored state and idempotent sinks skip already-committed
        batchIds.  State keys still redistribute across whatever executors
        the new parallelism provides (partition count ≠ executor count) —
        the same decoupling the reference gets from key-group-to-subtask
        reassignment on rescale."""
        for q in self.spark.streams.active:
            if q.name == spec.name:
                q.stop()
                try:
                    q.awaitTermination(30)
                except Exception:
                    pass  # a failed run surfaces its error here; restart anyway
        if new_shuffle_partitions is None:
            return spec.start(self.spark)
        # Scope the parallelism override to this job's start: the resumed
        # checkpoint pins its own state partitioning anyway, and leaving the
        # session-global conf mutated would silently rescale every other
        # query sharing the SparkSession.
        with shuffle_partitions(self.spark, new_shuffle_partitions):
            return spec.start(self.spark)


@dataclass
class MetricsRecorder(StreamingQueryListener):
    """≙ IFlinkMetrics counters/gauges via StreamingQueryListener: records
    per-batch input row counts and processing rates per query."""

    progress: dict[str, list[dict]] = field(default_factory=dict)
    started: list[str] = field(default_factory=list)
    terminated: list[str] = field(default_factory=list)

    def onQueryStarted(self, event: Any) -> None:  # noqa: N802
        self.started.append(str(event.id))

    def onQueryProgress(self, event: Any) -> None:  # noqa: N802
        p = event.progress
        self.progress.setdefault(str(p.id), []).append(
            {
                "batch_id": p.batchId,
                "num_input_rows": p.numInputRows,
                "batch_duration_ms": p.batchDuration,
            }
        )

    def onQueryTerminated(self, event: Any) -> None:  # noqa: N802
        self.terminated.append(str(event.id))

    def onQueryIdle(self, event: Any) -> None:  # noqa: N802
        pass

    def total_input_rows(self, query_id: str) -> int:
        return sum(b["num_input_rows"] for b in self.progress.get(query_id, []))

    def attach(self, spark: SparkSession) -> "MetricsRecorder":
        spark.streams.addListener(self)
        return self

    def detach(self, spark: SparkSession) -> None:
        spark.streams.removeListener(self)
