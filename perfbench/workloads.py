"""The benchmark workloads.

Each workload stages its inputs without Spark, registers them on a
session made by ``flink_net_spark.session.get_spark``, warms up for a
fixed amount of work, then times operations for a fixed wall-clock window
and checks every operation's output.  The program is driven only through
its public entry points (``sources.FileSource``, ``datastream``, the
``__spark_entry__`` query registry, ``tables.release_persisted`` and
``metrics``); everything reported is read from outside: wall clocks around
those calls, Structured Streaming's ``StreamingQueryProgress``, Spark's
status tracker and each result's query-execution phase tracker.
"""

from __future__ import annotations

import json
import math
import os
import random
import time
from contextlib import nullcontext
from datetime import datetime

import numpy as np
import pyarrow.parquet as pq

from gen import N_KEYS, Generator, Truth
from oracle import BATCH_QUERIES, DATA_DIR, load_fingerprints
from stats import fingerprint, mean, median

# Progress phases of one micro-batch, in the order MicroBatchExecution runs them.
_PHASES = ("latestOffset", "walCommit", "getBatch", "queryPlanning", "addBatch", "commitOffsets")


class Window:
    """Operations timed in one measuring window."""

    def __init__(self, traced: bool):
        self.traced = traced
        self.op_s: list[float] = []  # wall time of each operation
        self.records = 0
        self.wall_s = 0.0
        self.layers: dict[str, float] = {}

    def end_to_end(self) -> dict:
        p50 = median(self.op_s)
        return {
            "rec_per_s": self.records / self.wall_s if self.wall_s else None,
            "op_p50_ms": p50 * 1000 if p50 is not None else None,
            "ops": len(self.op_s),
        }


def _group_counts(spark, group: str, m=None) -> dict:
    """Jobs, stages, tasks and shuffle/spill volume of one job group
    (``m``: the group's ``JobGroupMetrics`` when already collected)."""
    from flink_net_spark.metrics import collect_group_metrics

    tracker = spark.sparkContext.statusTracker()
    jobs = tracker.getJobIdsForGroup(group)
    tasks = 0
    for jid in jobs:
        info = tracker.getJobInfo(jid)
        for sid in info.stageIds if info else ():
            st = tracker.getStageInfo(sid)
            tasks += st.numTasks if st else 0
    m = m or collect_group_metrics(spark, group)
    return {
        "jobs": len(jobs),
        "stages": m.n_stages,
        "tasks": tasks,
        "shuffle.write_mb": m.shuffle_write_bytes / 1e6,
        "shuffle.read_mb": m.shuffle_read_bytes / 1e6,
        "spill_mb": m.spill_bytes / 1e6,
    }


# ---------------------------------------------------------------------------
# stream_keyed_count
# ---------------------------------------------------------------------------


class _BatchSink:
    """foreachBatch sink: writes each micro-batch's output to its own
    parquet directory, and remembers when the write ran."""

    def __init__(self, out_dir: str):
        self.out_dir = out_dir
        self.writes: dict[int, tuple[float, float]] = {}

    def __call__(self, batch_df, batch_id: int) -> None:
        t0 = time.time()
        batch_df.write.mode("overwrite").parquet(os.path.join(self.out_dir, f"b={batch_id}"))
        self.writes[batch_id] = (t0, time.time())


def _last_progress(q) -> dict | None:
    p = q._jsq.lastProgress()
    return json.loads(p.json()) if p else None


def _epoch(ts: str) -> float:
    return datetime.fromisoformat(ts.replace("Z", "+00:00")).timestamp()


class StreamKeyedCount:
    """The reference's stress pipeline, as one long-running query over a
    staged Zipf-keyed backlog (``gen.Generator``): ``FileSource`` with
    ``maxFilesPerTrigger`` -> ``DataStream.with_column`` (the key) ->
    ``key_by("k").reduce(count, sum)`` on the session's RocksDB state
    store -> a foreachBatch parquet sink."""

    name = "stream_keyed_count"
    rows_per_file = 50_000
    files_per_trigger = 8  # 400k rows: per-record work, not the commit, sets the rate
    warm_ops = 10  # triggers
    shuffle_partitions = 8  # state-store instances
    # The backlog holds input for this rate over every window, so a faster
    # program still finds input; if it runs out, the run says so.
    max_rate = 500_000

    def __init__(self, work: str, seed: int, seconds: int, windows: int):
        self.seconds = seconds
        self.windows = windows
        self.in_dir = os.path.join(work, "input")
        self.out_dir = os.path.join(work, "output")
        self.checkpoint_dir = os.path.join(work, "checkpoint")
        self.gen = Generator(seed, self.rows_per_file)
        per_trigger = self.rows_per_file * self.files_per_trigger
        triggers = self.warm_ops + math.ceil(windows * seconds * self.max_rate / per_trigger)
        self.n_files = triggers * self.files_per_trigger

    def stage(self) -> None:
        self.gen.write(self.in_dir, self.n_files)
        os.makedirs(self.checkpoint_dir)

    def session_conf(self) -> dict:
        return {"spark.sql.streaming.numRecentProgressUpdates": "2000"}

    def register(self, spark) -> None:
        import pyspark.sql.functions as F

        from flink_net_spark.datastream import StreamExecutionEnvironment
        from flink_net_spark.sources import FileSource

        source = FileSource(
            self.in_dir,
            format="parquet",
            schema="user_id BIGINT, value BIGINT",
            max_files_per_trigger=self.files_per_trigger,
        )
        ds = StreamExecutionEnvironment(spark).from_source(source)
        ds = ds.with_column("k", F.col("user_id") % N_KEYS)
        self.result = ds.key_by("k").reduce(n=F.count(F.lit(1)), sum_value=F.sum("value")).df

    def run(self, spark, tracer) -> tuple[list, list[Window], dict]:
        """Warm up, then time ``self.windows`` windows (the last one traced
        when tracing).  Returns (warm op seconds, windows, detail)."""
        sink = _BatchSink(self.out_dir)
        q = (
            self.result.writeStream.foreachBatch(sink)
            .outputMode("update")
            .option("checkpointLocation", self.checkpoint_dir)
            .start()
        )
        seen: list[float] = []  # wall time each batch id was seen complete
        try:
            # window w covers batch ids (bounds[w], bounds[w + 1]]
            bounds = [self._wait_batch(q, self.warm_ops - 1, seen)]
            for w in range(self.windows):
                deadline = seen[bounds[-1]] + self.seconds
                last = bounds[-1]
                # the trigger running at the deadline still belongs to the window
                while seen[last] < deadline and not self._exhausted(q):
                    last = self._wait_batch(q, last + 1, seen)
                bounds.append(last)
        finally:
            q.stop()
        batches = {p["batchId"]: p for p in (json.loads(x.json) for x in q.recentProgress)}
        batches = {b: p for b, p in batches.items() if p["numInputRows"] > 0}
        self.completed = sorted(batches)
        self.batches = batches
        trig_s = {b: p["durationMs"]["triggerExecution"] / 1000 for b, p in batches.items()}
        end_of = {b: _epoch(p["timestamp"]) + trig_s[b] for b, p in batches.items()}
        windows = []
        for w in range(self.windows):
            lo, hi = bounds[w], bounds[w + 1]
            ids = [b for b in self.completed if lo < b <= hi]
            win = Window(traced=tracer.enabled and w == self.windows - 1)
            win.op_s = [trig_s[b] for b in ids]
            win.records = sum(batches[b]["numInputRows"] for b in ids)
            win.wall_s = end_of[hi] - end_of[lo] if ids else 0.0
            if win.traced and ids:
                win.layers = self._layers(spark, q, batches, ids, sink, tracer, end_of[lo])
            windows.append(win)
        warm_s = [trig_s[b] for b in self.completed if b < self.warm_ops]
        detail = {"backlog_exhausted": self._exhausted(q), "triggers_completed": len(batches)}
        return warm_s, windows, detail

    def _exhausted(self, q) -> bool:
        """True once the last staged file has been handed to a trigger."""
        p = _last_progress(q)
        end = p["sources"][0]["endOffset"] if p else None
        return end is not None and int(end["logOffset"]) + 1 >= self.n_files // self.files_per_trigger

    @staticmethod
    def _wait_batch(q, batch_id: int, seen: list, stall_s: float = 120.0) -> int:
        """Poll the query until batch ``batch_id`` has completed."""
        t_last = time.time()
        while len(seen) <= batch_id:
            if q.exception() is not None:
                raise RuntimeError(f"stream failed: {q.exception()}")
            p = _last_progress(q)
            if p and p["numInputRows"] > 0 and p["batchId"] >= len(seen):
                now = time.time()
                seen.extend([now] * (p["batchId"] + 1 - len(seen)))
                t_last = now
            elif time.time() - t_last > stall_s:
                raise RuntimeError(f"no trigger completed for {stall_s:.0f} s")
            else:
                time.sleep(0.02)
        return batch_id

    def _layers(self, spark, q, batches, ids, sink, tracer, t0) -> dict:
        ps = [batches[b] for b in ids]
        dur = lambda p, k: p["durationMs"].get(k, 0)  # noqa: E731
        ops = [(p.get("stateOperators") or [{}])[0] for p in ps]
        cm = [o.get("customMetrics", {}) for o in ops]
        out = {
            "sources.latest_offset_ms": mean([dur(p, "latestOffset") for p in ps]),
            "sources.get_batch_ms": mean([dur(p, "getBatch") for p in ps]),
            "trigger.query_planning_ms": mean([dur(p, "queryPlanning") for p in ps]),
            "trigger.add_batch_ms": mean([dur(p, "addBatch") for p in ps]),
            "trigger.wal_commit_ms": mean([dur(p, "walCommit") for p in ps]),
            "trigger.commit_offsets_ms": mean([dur(p, "commitOffsets") for p in ps]),
            "state.commit_ms": mean([o.get("commitTimeMs", 0) for o in ops]),
            "state.update_ms": mean([o.get("allUpdatesTimeMs", 0) for o in ops]),
            "state.rows_total": ops[-1].get("numRowsTotal", 0),
            "state.rows_updated": mean([o.get("numRowsUpdated", 0) for o in ops]),
            "state.mem_mb": ops[-1].get("memoryUsedBytes", 0) / 1e6,
            "state.instances": ops[-1].get("numStateStoreInstances", 0),
            "state.rocksdb_flush_ms": mean([c.get("rocksdbCommitFlushLatency", 0) for c in cm]),
            "state.rocksdb_checkpoint_ms": mean([c.get("rocksdbCommitCheckpointLatency", 0) for c in cm]),
            "state.rocksdb_file_sync_ms": mean([c.get("rocksdbCommitFileSyncLatencyMs", 0) for c in cm]),
        }
        starts = [_epoch(p["timestamp"]) for p in ps]
        ends = [s + dur(p, "triggerExecution") / 1000 for s, p in zip(starts, ps)]
        out["trigger.gap_ms"] = mean([(s - e) * 1000 for s, e in zip(starts[1:], ends[:-1])]) or 0.0
        group = _group_counts(spark, str(q.runId))
        n_all = len(batches)
        out.update({k: v / n_all for k, v in group.items()})
        # per-trigger spans from the engine's own progress, children of the drain
        drain = tracer.add("drain", t0, ends[-1])
        for b, p, s, e in zip(ids, ps, starts, ends):
            trig = tracer.add("trigger", s, e, parent=drain, op=b)
            at = s
            for phase in _PHASES:
                d = dur(p, phase) / 1000
                pid = tracer.add(f"trigger.{phase}", at, at + d, parent=trig, op=b)
                if phase == "addBatch" and b in sink.writes:
                    tracer.add("sink.write", *sink.writes[b], parent=pid, op=b)
                at += d
        return out

    def check(self) -> tuple[int, int, list]:
        """Compare every completed batch's emitted rows with the truth for
        the files drained so far.  Returns (attempted, failed, messages)."""
        truth = Truth(self.gen)
        failed, msgs = 0, []
        for b in self.completed:
            n_rows = self.batches[b]["numInputRows"]
            n_files = n_rows // self.rows_per_file
            touched = truth.advance(n_files)
            try:
                t = pq.read_table(os.path.join(self.out_dir, f"b={b}"))
                k = t.column("k").to_numpy()
                ok = (
                    n_rows == n_files * self.rows_per_file
                    and np.array_equal(np.sort(k), touched)
                    and np.array_equal(t.column("n").to_numpy(), truth.count[k])
                    and np.array_equal(t.column("sum_value").to_numpy(), truth.total[k])
                )
                why = "output differs from truth"
            except (OSError, ValueError, KeyError) as ex:
                ok, why = False, str(ex)
            if not ok:
                failed += 1
                msgs.append(f"batch {b}: {why}")
        return len(self.completed), failed, msgs[:5]


# ---------------------------------------------------------------------------
# batch_builders
# ---------------------------------------------------------------------------

# Input tables each batch query reads (for the records-per-second figure).
_INPUTS = {
    "graph_connected_components": ("lineitem",),
    "graph_sssp_weighted": ("lineitem",),
}


def _phase_ms(df, phase: str) -> float:
    opt = df._jdf.queryExecution().tracker().phases().get(phase)
    return float(opt.get().durationMs()) if opt.isDefined() else 0.0


class BatchBuilders:
    """Rounds of the iterative builders from the query registry: each
    round builds, collects and releases every query in ``BATCH_QUERIES``,
    in an order drawn from the seed."""

    name = "batch_builders"
    warm_ops = 2  # full rounds
    shuffle_partitions = None  # the program's default

    def __init__(self, work: str, seed: int, seconds: int, windows: int):
        self.seconds = seconds
        self.windows = windows
        # local checkpoints live in Spark's block manager, under the local dir
        self.checkpoint_dir = os.path.join(work, "spark-local")
        self.rng = random.Random(seed)
        self.records_per_round = sum(
            pq.ParquetFile(os.path.join(DATA_DIR, f"{t}.parquet")).metadata.num_rows
            for q in BATCH_QUERIES
            for t in _INPUTS[q]
        )
        self.results: list[tuple] = []  # (name, columns, rows or exception)
        self.rounds: list[list] = []  # [(name, seconds)] per round, warm ones first

    def stage(self) -> None:
        pass  # the tables are read in place from perfbench/data

    def session_conf(self) -> dict:
        return {}

    def register(self, spark) -> None:
        import __spark_entry__

        registry = __spark_entry__.queries()
        self.queries = {n: registry[n] for n in BATCH_QUERIES}
        for t in sorted({t for ts in _INPUTS.values() for t in ts}):
            spark.read.parquet(os.path.join(DATA_DIR, f"{t}.parquet")).createOrReplaceTempView(t)

    def run(self, spark, tracer) -> tuple[list, list[Window], dict]:
        warm_s = [self._round(spark, tracer, traced=False, op=-1 - i)[0] for i in range(self.warm_ops)]
        windows = []
        op = 0
        for w in range(self.windows):
            win = Window(traced=tracer.enabled and w == self.windows - 1)
            per_round = []
            t0 = time.perf_counter()
            while time.perf_counter() - t0 < self.seconds:
                secs, layers = self._round(spark, tracer, traced=win.traced, op=op)
                win.op_s.append(secs)
                per_round.append(layers)
                op += 1
            win.wall_s = time.perf_counter() - t0
            win.records = self.records_per_round * len(win.op_s)
            if win.traced:
                win.layers = {k: mean([r[k] for r in per_round]) for k in per_round[0]}
            windows.append(win)
        return warm_s, windows, {"round_query_s": self.rounds}

    def _round(self, spark, tracer, traced: bool, op: int) -> tuple[float, dict]:
        from flink_net_spark.tables import release_persisted

        order = list(BATCH_QUERIES)
        self.rng.shuffle(order)
        layers: dict[str, float] = {}
        query_s = []
        t0 = time.perf_counter()
        with tracer.span("round", op=op) if traced else nullcontext():
            for name in order:
                tq = time.perf_counter()
                try:
                    if traced:
                        cols, rows, got = self._traced_query(spark, tracer, name, op)
                        for k, v in got.items():
                            layers[k] = layers.get(k, 0.0) + v
                    else:
                        df = self.queries[name](spark, DATA_DIR)
                        rows = df.collect()
                        cols = df.columns
                        release_persisted(df)
                    self.results.append((name, cols, rows))
                except Exception as ex:  # a failed build is a failed operation, not a crash
                    self.results.append((name, None, ex))
                query_s.append((name, time.perf_counter() - tq))
        self.rounds.append(query_s)
        return time.perf_counter() - t0, layers

    def _traced_query(self, spark, tracer, name: str, op: int):
        from flink_net_spark.metrics import measure_job_metrics
        from flink_net_spark.tables import release_persisted

        sc = spark.sparkContext
        group = f"perfbench-{op}-{name}"
        with tracer.span(f"query.{name}", op=op):
            t = {}

            def build_and_collect():
                t0 = time.perf_counter()
                with tracer.span("queries.build", op=op):
                    df = self.queries[name](spark, DATA_DIR)
                t1 = time.perf_counter()
                with tracer.span("queries.collect", op=op):
                    rows = df.collect()
                t["build"], t["collect"] = t1 - t0, time.perf_counter() - t1
                return df, rows

            m, (df, rows) = measure_job_metrics(spark, build_and_collect, group=group)
            cols = df.columns
            phases = {p: _phase_ms(df, p) for p in ("analysis", "optimization", "planning")}
            t0 = time.perf_counter()
            with tracer.span("tables.release", op=op):
                release_persisted(df)
            release_s = time.perf_counter() - t0
            infos = sc._jsc.sc().getRDDStorageInfo()
            cached = sum(i.memSize() + i.diskSize() for i in infos)
            layers = {
                "queries.build_s": t["build"],
                "queries.collect_s": t["collect"],
                "queries.analysis_ms": phases["analysis"],
                "queries.optimization_ms": phases["optimization"],
                "queries.planning_ms": phases["planning"],
                "tables.release_s": release_s,
                "tables.persisted_rdds_after_release": sc._jsc.sc().getPersistentRDDs().size(),
                "tables.cached_mb_after_release": cached / 1e6,
            }
            layers.update(_group_counts(spark, group, m))
        return cols, rows, layers

    def check(self) -> tuple[int, int, list]:
        expected = load_fingerprints()
        failed, msgs = 0, []
        for name, cols, rows in self.results:
            if cols is None:
                failed += 1
                msgs.append(f"{name}: {type(rows).__name__}: {str(rows)[:200]}")
            elif fingerprint(cols, [tuple(r) for r in rows]) != expected[name]:
                failed += 1
                msgs.append(f"{name}: fingerprint differs from the oracle")
        return len(self.results), failed, msgs[:5]


WORKLOADS = {w.name: w for w in (StreamKeyedCount, BatchBuilders)}
