"""SparkSession builder with scale-appropriate defaults.

Design notes (100 TB target, tested on local[N]):
  - AQE on: runtime shuffle-partition coalescing + skew-join splitting stand in
    for the reference's load-aware KeyGenStage partitioning
    (reference: FlinkDotNet/FlinkDotNet.Core.Api/Pipeline/GatewayAndKeyGenStages.cs:217).
  - Arrow on: every pandas-UDF boundary is Arrow-batched, never per-row.
  - UTC session timezone: event time is epoch-derived everywhere; keeps
    window math identical across engines (oracle parity).
  - Broadcast threshold is left at default (10 MB) — dimension tables
    (region/nation/supplier at any SF) broadcast automatically; queries
    additionally hint `broadcast()` explicitly where the dimension is
    guaranteed small.
  - RocksDB state store for streaming state (reference keeps keyed state in
    RocksDB too: FlinkDotNet/FlinkDotNet.Storage.RocksDB/RocksDBStateBackend.cs:71).
  - ``file:`` goes through ``jvm/NoForkLocalFs.java`` on local masters.
    Without libhadoop (pip-installed PySpark never ships it) Hadoop's local
    file system starts a ``chmod`` process for every file and directory it
    creates and a ``readlink`` process for each end of every rename: several
    ms each, on every checkpoint, state-store and sink file.  The shim does
    those two calls through ``java.nio``; ``.crc`` checksums, rename
    semantics and permission bits are unchanged.  ``get_spark`` compiles it
    once per source hash; a non-local master, a JVM already running without
    it, or no ``javac`` keeps Hadoop's default with one warning, and
    ``local_fs_mode`` reports which is active.
"""

from __future__ import annotations

import hashlib
import os
import shutil
import subprocess
import tempfile
import uuid
import warnings
import zipfile
from typing import Callable

from pyspark.sql import SparkSession


def env_positive_int(name: str, default: int) -> int:
    """The positive integer in environment variable ``name``, or
    ``default`` when it is unset or empty; any other value raises
    ValueError naming the variable."""
    raw = os.environ.get(name, "")
    if not raw:
        return default
    if not raw.isdecimal() or int(raw) == 0:
        raise ValueError(f"{name}={raw!r}: expected a positive integer")
    return int(raw)


DEFAULT_SHUFFLE_PARTITIONS = env_positive_int("SPARK_GRAFT_SHUFFLE_PARTITIONS", 32)


def get_spark(
    app_name: str = "flink_net_spark",
    master: str | None = None,
    shuffle_partitions: int = DEFAULT_SHUFFLE_PARTITIONS,
    extra_conf: dict[str, str] | None = None,
) -> SparkSession:
    """Create (or fetch) a SparkSession tuned for this engine.

    ``master`` defaults to ``local[$SPARK_GRAFT_CPUS]`` (env, default ``*``)
    when no cluster master is configured — on a real cluster the submit-time
    master wins.
    """
    if master is None:
        cpus = os.environ.get("SPARK_GRAFT_CPUS", "*")
        master = f"local[{cpus}]"
    extra_conf = dict(extra_conf or {})
    extra_conf.update(_local_fs_conf(master, extra_conf))

    builder = (
        SparkSession.builder.appName(app_name)
        .master(master)
        .config("spark.sql.shuffle.partitions", str(shuffle_partitions))
        .config("spark.sql.adaptive.enabled", "true")
        .config("spark.sql.adaptive.coalescePartitions.enabled", "true")
        .config("spark.sql.adaptive.skewJoin.enabled", "true")
        .config("spark.sql.execution.arrow.pyspark.enabled", "true")
        .config("spark.sql.session.timeZone", "UTC")
        .config("spark.sql.parquet.filterPushdown", "true")
        # testdata events.parquet carries TIMESTAMP(NANOS); Spark has no ns
        # timestamp type — read as long and convert in tables.load_table
        .config("spark.sql.legacy.parquet.nanosAsLong", "true")
        # read parquet isAdjustedToUTC=false timestamps as plain TIMESTAMP
        # (session tz is UTC, so instants are identical; keeps unix_millis &
        # streaming event-time usable on every table)
        .config("spark.sql.parquet.inferTimestampNTZ.enabled", "false")
        .config("spark.sql.files.maxPartitionBytes", "134217728")
        .config("spark.sql.autoBroadcastJoinThreshold", "10485760")
        .config(
            "spark.sql.streaming.stateStore.providerClass",
            "org.apache.spark.sql.execution.streaming.state.RocksDBStateStoreProvider",
        )
        # commit deltas to the checkpoint instead of full RocksDB snapshots:
        # measured +20-30% steady-state rate on the 1M-distinct-key probe
        # (bench.py stream_probe), and at real state sizes full-snapshot
        # uploads are the classic large-state checkpoint bottleneck
        .config(
            "spark.sql.streaming.stateStore.rocksdb.changelogCheckpointing.enabled",
            "true",
        )
        .config("spark.sql.streaming.multipleWatermarkPolicy", "min")
        .config("spark.driver.memory", os.environ.get("SPARK_GRAFT_DRIVER_MEM", "8g"))
        .config("spark.ui.enabled", "false")
    )
    for k, v in extra_conf.items():
        builder = builder.config(k, v)
    return builder.getOrCreate()


def ship_package_to_executors(spark: SparkSession) -> None:
    """Make ``flink_net_spark`` importable on every Python worker.

    Pickled pandas-UDF closures reference this package by module path;
    workers of an externally-built SparkSession (different cwd, no
    PYTHONPATH entry) cannot import it otherwise.  ``addPyFile`` is the
    cluster-correct mechanism — the same call ships the package to remote
    executors on a 1000-node deployment.  Idempotent per session.
    """
    if getattr(spark, "_fns_pkg_shipped", False):
        return
    import flink_net_spark

    pkg_dir = os.path.dirname(os.path.abspath(flink_net_spark.__file__))

    def pkg_files():
        for root, _dirs, files in os.walk(pkg_dir):
            if "__pycache__" in root:
                continue
            for f in sorted(files):
                if not f.endswith(".pyc"):
                    yield os.path.join(root, f)

    # content-keyed zip name: a stale cache would ship yesterday's code
    h = hashlib.md5()
    for full in pkg_files():
        st = os.stat(full)
        h.update(f"{os.path.relpath(full, pkg_dir)}:{st.st_mtime_ns}:{st.st_size}".encode())

    def build(tmp: str) -> None:
        with zipfile.ZipFile(tmp, "w") as z:
            for full in pkg_files():
                z.write(full, os.path.join("flink_net_spark", os.path.relpath(full, pkg_dir)))

    zip_path = os.path.join(tempfile.gettempdir(), f"flink_net_spark_pkg_{h.hexdigest()[:12]}.zip")
    spark.sparkContext.addPyFile(publish_once(zip_path, build))
    spark._fns_pkg_shipped = True


def publish_once(path: str, build: Callable[[str], None]) -> str:
    """``path``, made the first time by ``build(tmp)`` into a private sibling
    (a file or a dir) and published with one rename: a concurrent process sees
    no ``path`` or a complete one, never a partial one, so the existence of
    ``path`` is its marker.  When another process published a dir first, its
    copy stands and ours is discarded; a killed build leaves only its
    ``.tmp`` sibling."""
    if not os.path.exists(path):
        tmp = f"{path}.{uuid.uuid4().hex}.tmp"
        try:
            build(tmp)
            try:
                os.rename(tmp, path)
            except OSError:
                # a dir cannot replace a published one: keep the winner's
                if not (os.path.isdir(tmp) and os.path.isdir(path)):
                    raise
        finally:
            if os.path.isdir(tmp):
                shutil.rmtree(tmp, ignore_errors=True)
            elif os.path.lexists(tmp):
                os.remove(tmp)
    return path


NOFORK_FS = "flink_net_spark.jvm.NoForkLocalFs"
_NOFORK_SRC = os.path.join(os.path.dirname(os.path.abspath(__file__)), "jvm", "NoForkLocalFs.java")
# why the last get_spark kept Hadoop's default local file system (None: it did
# not); per process, like the py4j gateway and its JVM
_local_fs_fallback: str | None = None


def _nofork_jar() -> str:
    """NoForkLocalFs compiled against this Spark's jars, cached under the
    temp dir by a hash of its source."""
    from pyspark.find_spark_home import _find_spark_home

    javac = shutil.which("javac")
    if javac is None:
        raise FileNotFoundError("no javac on PATH")
    with open(_NOFORK_SRC, "rb") as f:
        digest = hashlib.md5(f.read()).hexdigest()

    def build(tmp: str) -> None:
        with tempfile.TemporaryDirectory() as classes:
            # --release 17: loadable by every JVM Spark 4 runs on, whichever
            # JDK's javac is first on PATH
            cmd = [javac, "-J-Xmx256m", "--release", "17", "-nowarn",
                   "-cp", os.path.join(_find_spark_home(), "jars", "*"),
                   "-d", classes, _NOFORK_SRC]
            subprocess.run(cmd, check=True, capture_output=True, text=True)
            with zipfile.ZipFile(tmp, "w") as z:
                for root, _dirs, files in os.walk(classes):
                    for f in files:
                        full = os.path.join(root, f)
                        z.write(full, os.path.relpath(full, classes))

    jar = os.path.join(tempfile.gettempdir(), f"flink_net_spark_nofork_{digest[:12]}.jar")
    return publish_once(jar, build)


def _local_fs_conf(master: str, extra_conf: dict[str, str]) -> dict[str, str]:
    """The confs that mount NoForkLocalFs on ``file:``, with the jar added in
    front of the caller's ``spark.driver.extraClassPath``.  Empty when the
    driver JVM could not load it; the reason is then kept for
    ``local_fs_mode`` and warned once."""
    global _local_fs_fallback
    from pyspark import SparkContext

    conf = {
        "spark.hadoop.fs.file.impl": NOFORK_FS,
        "spark.hadoop.fs.AbstractFileSystem.file.impl": f"{NOFORK_FS}$Afs",
    }
    reason = None
    if master != "local" and not master.startswith("local["):
        reason = f"master {master} runs executors outside the driver JVM"
    elif SparkContext._jvm is not None or "PYSPARK_GATEWAY_PORT" in os.environ:
        SparkContext._ensure_initialized()  # attach to the gateway that is already running
        if not SparkContext._jvm.org.apache.spark.util.Utils.classIsLoadable(NOFORK_FS):
            # an earlier fallback in this process is why the JVM lacks the jar
            reason = _local_fs_fallback or "the running JVM was started without the NoForkLocalFs jar"
    else:
        try:
            jar = _nofork_jar()
        except (OSError, subprocess.CalledProcessError) as ex:
            detail = getattr(ex, "stderr", None) or str(ex)
            reason = f"cannot build the NoForkLocalFs jar: {detail.strip().splitlines()[0]}"
        else:
            prior = extra_conf.get("spark.driver.extraClassPath")
            conf["spark.driver.extraClassPath"] = os.pathsep.join(filter(None, (jar, prior)))
    reason_changed, _local_fs_fallback = reason != _local_fs_fallback, reason
    if reason is None:
        return conf
    if reason_changed:
        warnings.warn(
            f"file: stays on Hadoop's local file system, which starts a chmod/readlink "
            f"process per file: {reason}",
            RuntimeWarning,
            stacklevel=3,
        )
    return {}


def local_fs_mode(spark: SparkSession) -> str:
    """``"nio"`` when both Hadoop APIs serve ``spark``'s ``file:`` paths
    through NoForkLocalFs, else ``"hadoop-shell: <reason>"``."""
    jvm = spark.sparkContext._jvm
    hconf = spark.sparkContext._jsc.hadoopConfiguration()
    fs = jvm.org.apache.hadoop.fs.FileSystem.getLocal(hconf).getClass().getName()
    afs = jvm.org.apache.hadoop.fs.FileContext.getLocalFSFileContext(hconf)
    afs = afs.getDefaultFileSystem().getClass().getName()
    if fs == NOFORK_FS and afs == f"{NOFORK_FS}$Afs":
        return "nio"
    return f"hadoop-shell: {_local_fs_fallback or f'file: is served by {fs} and {afs}'}"
