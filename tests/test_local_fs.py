"""The ``file:`` file system that ``session.get_spark`` mounts on local masters.

Without libhadoop, Hadoop's RawLocalFileSystem starts a ``chmod`` process per
created file and directory and a ``readlink`` process per rename end.
``jvm/NoForkLocalFs.java`` does both calls through ``java.nio``.  These tests
pin that a stream drain starts no such process, that every changed call gives
what Hadoop's own class gives on the same paths, and that the fallback to
Hadoop's default is never silent.
"""

from __future__ import annotations

import json
import os
import shutil
import subprocess
import sys
import textwrap

import pytest

from flink_net_spark.session import NOFORK_FS, local_fs_mode

ROOT = os.path.dirname(os.path.dirname(os.path.abspath(__file__)))
WRAPPED = ("chmod", "readlink", "ls", "stat")
HADOOP_FS = {
    "fs.file.impl": "org.apache.hadoop.fs.LocalFileSystem",
    "fs.AbstractFileSystem.file.impl": "org.apache.hadoop.fs.local.LocalFs",
}
NOFORK = {
    "fs.file.impl": NOFORK_FS,
    "fs.AbstractFileSystem.file.impl": f"{NOFORK_FS}$Afs",
}


def _run_fresh(body: str, env: dict[str, str], tmp_path=None) -> tuple[dict, str]:
    """Run ``body`` in a fresh interpreter (so a fresh JVM) from the repo
    root; it must print one JSON object as its last stdout line.  Returns
    that object and all the output.  With
    ``tmp_path``, spark-submit starts the JVM first and then the script, as
    a cluster launch does."""
    cmd = [sys.executable, "-c", textwrap.dedent(body)]
    if tmp_path is not None:
        from pyspark.find_spark_home import _find_spark_home

        script = tmp_path / "script.py"
        script.write_text(textwrap.dedent(body))
        cmd = [os.path.join(_find_spark_home(), "bin", "spark-submit"), "--master", "local[1]", str(script)]
        env = dict(env, PYTHONPATH=ROOT, PYSPARK_PYTHON=sys.executable, PYSPARK_DRIVER_PYTHON=sys.executable)
    proc = subprocess.run(cmd, cwd=ROOT, env=env, capture_output=True, text=True, timeout=600)
    assert proc.returncode == 0, (proc.stdout + proc.stderr)[-3000:]
    # spark-submit merges the script's stderr into its stdout
    return json.loads(proc.stdout.strip().splitlines()[-1]), proc.stdout + proc.stderr


# -- no external process ------------------------------------------------------

DRAIN = """
    import json, os
    import pandas as pd
    from flink_net_spark import sinks
    from flink_net_spark.session import get_spark, local_fs_mode

    work = os.environ["FNS_WORK"]
    src = os.path.join(work, "in")
    os.makedirs(src)
    for i in range(3):  # staged without Hadoop, so only the drain touches it
        pd.DataFrame({"k": [j % 50 for j in range(i * 100, i * 100 + 100)]}).to_parquet(
            os.path.join(src, f"part-{i}.parquet"))
    spark = get_spark("local-fs-test", master="local[2]", shuffle_partitions=2,
                      extra_conf={"spark.driver.extraClassPath": "/nonexistent/caller.jar",
                                  "spark.ui.showConsoleProgress": "false"})
    spark.sparkContext.setLogLevel("ERROR")
    stream = (spark.readStream.schema("k BIGINT").option("maxFilesPerTrigger", 1)
              .parquet(src).dropDuplicates(["k"]))
    q = sinks.run_to_completion(
        stream.writeStream.format("parquet").outputMode("append")
        .option("path", os.path.join(work, "out"))
        .option("checkpointLocation", os.path.join(work, "ckpt")))
    jvm = spark.sparkContext._jvm
    print(json.dumps({
        "triggers": sum(1 for p in q.recentProgress if p["numInputRows"]),
        "rows_out": spark.read.parquet(os.path.join(work, "out")).count(),
        "provider": spark.conf.get("spark.sql.streaming.stateStore.providerClass"),
        "mode": local_fs_mode(spark),
        "class_path_conf": spark.conf.get("spark.driver.extraClassPath"),
        "jvm_class_path": jvm.java.lang.System.getProperty("java.class.path"),
    }))
    spark.stop()
"""


@pytest.fixture(scope="module")
def fresh_drain(tmp_path_factory):
    """A 3-trigger RocksDB drain to a parquet sink in a fresh JVM whose PATH
    starts with logging wrappers of chmod, readlink, ls and stat."""
    base = tmp_path_factory.mktemp("fork")
    bin_dir, log = base / "bin", base / "calls.log"
    bin_dir.mkdir()
    for cmd in WRAPPED:
        real = shutil.which(cmd)
        wrapper = bin_dir / cmd
        wrapper.write_text(f'#!/bin/sh\necho "{cmd} $*" >> "{log}"\nexec "{real}" "$@"\n')
        wrapper.chmod(0o755)
    env = dict(os.environ, PATH=f"{bin_dir}{os.pathsep}{os.environ['PATH']}", FNS_WORK=str(base / "work"))
    out, _ = _run_fresh(DRAIN, env)
    out["calls"] = log.read_text().splitlines() if log.exists() else []
    return out


def test_stream_drain_starts_no_shell_process(fresh_drain):
    assert fresh_drain["triggers"] == 3
    assert fresh_drain["rows_out"] == 50
    assert fresh_drain["provider"].endswith("RocksDBStateStoreProvider")
    assert fresh_drain["mode"] == "nio"
    assert fresh_drain["calls"] == [], (
        f"{len(fresh_drain['calls'])} external processes, first: {fresh_drain['calls'][:5]}"
    )


def test_caller_extra_class_path_is_merged(fresh_drain):
    for cp in (fresh_drain["class_path_conf"], fresh_drain["jvm_class_path"]):
        entries = cp.split(os.pathsep)
        assert "/nonexistent/caller.jar" in entries
        assert any(os.path.basename(e).startswith("flink_net_spark_nofork_") for e in entries)


# -- the fallback is never silent ----------------------------------------------

FALLBACK = """
    import json, os, warnings
    warnings.simplefilter("always")
    from flink_net_spark.session import get_spark, local_fs_mode

    spark = get_spark("local-fs-fallback", master="local[1]", shuffle_partitions=1)
    spark.sparkContext.setLogLevel("ERROR")
    spark.range(10).write.parquet(os.path.join(os.environ["FNS_WORK"], "p"))
    spark.stop()
    spark = get_spark("local-fs-fallback", master="local[1]", shuffle_partitions=1)
    hconf = spark.sparkContext._jsc.hadoopConfiguration()
    fs = spark.sparkContext._jvm.org.apache.hadoop.fs.FileSystem.getLocal(hconf)
    print(json.dumps({
        "mode": local_fs_mode(spark),
        "fs": fs.getClass().getName(),
        "rows": spark.read.parquet(os.path.join(os.environ["FNS_WORK"], "p")).count(),
    }))
    spark.stop()
"""


def test_no_javac_on_path_falls_back_with_one_warning(tmp_path):
    """PATH keeps every directory and program except javac; the launcher
    still finds java through JAVA_HOME or the PATH copy."""
    shadow = tmp_path / "bin"
    shadow.mkdir()
    path = []
    for d in os.environ["PATH"].split(os.pathsep):
        if not os.path.isdir(d):
            continue
        if not os.path.exists(os.path.join(d, "javac")):
            path.append(d)
            continue
        for name in os.listdir(d):
            if name != "javac" and not (shadow / name).exists():
                (shadow / name).symlink_to(os.path.join(d, name))
    env = dict(os.environ, PATH=os.pathsep.join([str(shadow), *path]), FNS_WORK=str(tmp_path))
    assert shutil.which("javac", path=env["PATH"]) is None
    out, output = _run_fresh(FALLBACK, env)
    assert out["mode"] == "hadoop-shell: cannot build the NoForkLocalFs jar: no javac on PATH"
    assert not out["fs"].startswith("flink_net_spark")
    assert out["rows"] == 10
    assert output.count("RuntimeWarning: file: stays on Hadoop's local file system") == 1
    assert "ClassNotFoundException" not in output


def test_running_jvm_without_the_jar_falls_back_with_one_warning(tmp_path):
    """Under spark-submit the JVM is up before get_spark runs, without the
    jar on its class path: mounting the class would fail every file access."""
    env = dict(os.environ, FNS_WORK=str(tmp_path))
    out, output = _run_fresh(FALLBACK, env, tmp_path)
    assert out["mode"] == "hadoop-shell: the running JVM was started without the NoForkLocalFs jar"
    assert not out["fs"].startswith("flink_net_spark")
    assert out["rows"] == 10
    assert output.count("RuntimeWarning: file: stays on Hadoop's local file system") == 1
    assert "ClassNotFoundException" not in output


def test_non_local_master_keeps_hadoop_default():
    """Executors outside the driver JVM cannot load the jar: no conf is set,
    and the reason is recorded and warned."""
    script = """
        import json, warnings
        warnings.simplefilter("always")
        from flink_net_spark import session
        confs = [session._local_fs_conf(m, {}) for m in ("spark://h:7077", "local-cluster[2,1,512]", "yarn")]
        print(json.dumps({"confs": confs, "reason": session._local_fs_fallback}))
    """
    out, output = _run_fresh(script, dict(os.environ))
    assert out["confs"] == [{}, {}, {}]
    assert out["reason"] == "master yarn runs executors outside the driver JVM"
    assert output.count("RuntimeWarning: file: stays on Hadoop's local file system") == 3
    assert "ClassNotFoundException" not in output


# -- same results as Hadoop's own RawLocalFileSystem ----------------------------


def _raw_fs(spark, impl: str, umask: str = "022"):
    jvm = spark.sparkContext._jvm
    conf = jvm.org.apache.hadoop.conf.Configuration(spark.sparkContext._jsc.hadoopConfiguration())
    conf.set("fs.permissions.umask-mode", umask)
    cls = jvm.java.lang.Class.forName(impl)
    fs = jvm.org.apache.hadoop.util.ReflectionUtils.newInstance(cls, conf)
    fs.initialize(jvm.java.net.URI("file:///"), conf)
    return fs


def _arms(spark, umask="022"):
    return {
        "hadoop": _raw_fs(spark, "org.apache.hadoop.fs.RawLocalFileSystem", umask),
        "nio": _raw_fs(spark, f"{NOFORK_FS}$Raw", umask),
    }


def test_session_uses_the_shim(spark):
    assert local_fs_mode(spark) == "nio"


@pytest.mark.parametrize("umask", ["022", "077"])
def test_created_mode_bits_match_hadoop(spark, tmp_path, umask):
    jvm = spark.sparkContext._jvm
    Path, Perm = jvm.org.apache.hadoop.fs.Path, jvm.org.apache.hadoop.fs.permission.FsPermission
    modes = {}
    for arm, fs in _arms(spark, umask).items():
        base = tmp_path / arm
        fs.mkdirs(Path(str(base / "a" / "b")), Perm("777"))
        fs.create(Path(str(base / "a" / "f")), Perm("666"), True, 4096, 1, 1 << 20, None).close()
        fs.create(Path(str(base / "g")), True).close()  # default permission
        (base / "h").write_text("x")
        fs.setPermission(Path(str(base / "h")), Perm("640"))  # explicit: no umask
        modes[arm] = {
            str(p.relative_to(base)): oct(p.stat().st_mode) for p in sorted(base.rglob("*"))
        }
    assert modes["nio"] == modes["hadoop"]
    assert modes["nio"]["h"] == oct(0o100640)
    assert sorted(modes["nio"]) == ["a", "a/b", "a/f", "g", "h"]


def test_sticky_and_setgid_fall_back_and_still_apply(spark, tmp_path):
    Perm = spark.sparkContext._jvm.org.apache.hadoop.fs.permission.FsPermission
    Path = spark.sparkContext._jvm.org.apache.hadoop.fs.Path
    modes = {}
    for arm, fs in _arms(spark).items():
        sticky, setgid = tmp_path / arm / "sticky", tmp_path / arm / "setgid"
        sticky.mkdir(parents=True)
        setgid.mkdir()
        setgid.chmod(0o2775)
        fs.setPermission(Path(str(sticky)), Perm("1777"))
        fs.setPermission(Path(str(setgid)), Perm("750"))
        modes[arm] = (oct(sticky.stat().st_mode & 0o7777), oct(setgid.stat().st_mode & 0o7777))
    assert modes["nio"] == modes["hadoop"] == (oct(0o1777), oct(0o2750))


def _outcome(call):
    """``call()``'s result, or ("raises", <Java exception class>)."""
    try:
        return call()
    except Exception as ex:  # noqa: BLE001 - the Java exception class is the result
        origin = getattr(ex, "java_exception", None) or getattr(ex, "_origin", None)
        if origin is None:
            raise
        return ("raises", origin.getClass().getName())


def _link_status(fs, path):
    st = _outcome(lambda: fs.getFileLinkStatus(path))
    if isinstance(st, tuple):
        return st
    return (
        st.isSymlink(), st.isDirectory(), st.getLen(), st.getPath().toString(),
        st.getSymlink().toString() if st.isSymlink() else None,
        st.getPermission().toString(), st.getOwner(), st.getGroup(),
    )


def test_file_link_status_matches_hadoop(spark, tmp_path):
    Path = spark.sparkContext._jvm.org.apache.hadoop.fs.Path
    (tmp_path / "file").write_text("abc")
    (tmp_path / "dir").mkdir()
    (tmp_path / "link").symlink_to(tmp_path / "file")
    (tmp_path / "rel_link").symlink_to("dir")
    (tmp_path / "dangling").symlink_to(tmp_path / "gone")
    arms = _arms(spark)
    seen = {}
    for name in ("file", "dir", "link", "rel_link", "dangling", "missing"):
        for form in (str(tmp_path / name), f"file:{tmp_path / name}"):
            got = {arm: _link_status(fs, Path(form)) for arm, fs in arms.items()}
            assert got["nio"] == got["hadoop"], form
            seen[form] = got["nio"]
    assert seen[str(tmp_path / "link")][0] is True
    assert seen[str(tmp_path / "link")][4] == f"file:{tmp_path / 'file'}"
    assert seen[str(tmp_path / "dangling")][:3] == (True, False, 0)
    assert seen[str(tmp_path / "dir")][:2] == (False, True)
    assert seen[str(tmp_path / "missing")] == ("raises", "java.io.FileNotFoundException")


def _checkpoint_manager(spark, fs_conf: dict, path: str):
    jvm = spark.sparkContext._jvm
    conf = jvm.org.apache.hadoop.conf.Configuration(spark.sparkContext._jsc.hadoopConfiguration())
    for k, v in fs_conf.items():
        conf.set(k, v)
    mgr = jvm.org.apache.spark.sql.execution.streaming.checkpointing.CheckpointFileManager.create(
        jvm.org.apache.hadoop.fs.Path(path), conf
    )
    mgr.mkdirs(jvm.org.apache.hadoop.fs.Path(path))
    return mgr


def _write_atomic(spark, mgr, path: str, data: bytes):
    out = mgr.createAtomic(spark.sparkContext._jvm.org.apache.hadoop.fs.Path(path), True)
    out.write(bytearray(data))
    out.close()


def test_create_atomic_overwrite_matches_hadoop(spark, tmp_path):
    trees = {}
    for arm, fs_conf in (("hadoop", HADOOP_FS), ("nio", NOFORK)):
        base = tmp_path / arm
        mgr = _checkpoint_manager(spark, fs_conf, str(base))
        _write_atomic(spark, mgr, str(base / "0"), b"first version\n" * 100)
        _write_atomic(spark, mgr, str(base / "0"), b"second\n")
        trees[arm] = {
            p.name: (oct(p.stat().st_mode), p.read_bytes()) for p in sorted(base.iterdir())
        }
    assert trees["nio"] == trees["hadoop"]
    assert sorted(trees["nio"]) == [".0.crc", "0"]
    assert trees["nio"]["0"][1] == b"second\n"


def test_corrupt_checkpoint_file_raises_checksum_exception(spark, tmp_path):
    """Both arms verify a corrupted byte on a FileSystem read.  Hadoop's
    FileContext read does not verify at all (FilterFs.open(Path) goes
    straight to the raw file system, past ChecksumFs), in both arms alike."""
    jvm = spark.sparkContext._jvm
    Path = jvm.org.apache.hadoop.fs.Path
    reads = {}
    for arm, fs_conf in (("hadoop", HADOOP_FS), ("nio", NOFORK)):
        path = tmp_path / arm / "offsets" / "0"
        mgr = _checkpoint_manager(spark, fs_conf, str(path.parent))
        _write_atomic(spark, mgr, str(path), b'v1\n{"batchWatermarkMs":0}\n' * 40)
        data = bytearray(path.read_bytes())
        data[100] ^= 0x01
        path.write_bytes(bytes(data))
        conf = jvm.org.apache.hadoop.conf.Configuration(spark.sparkContext._jsc.hadoopConfiguration())
        for k, v in fs_conf.items():
            conf.set(k, v)
        fs = jvm.org.apache.hadoop.fs.FileSystem.newInstance(jvm.java.net.URI("file:///"), conf)
        reads[arm] = (
            fs.getClass().getName(),
            _outcome(lambda: bytes(fs.open(Path(str(path))).readAllBytes())),
            _outcome(lambda: bytes(mgr.open(Path(str(path))).readAllBytes())) == bytes(data),
        )
        fs.close()
    assert reads["nio"][0] == NOFORK_FS
    assert reads["nio"][1:] == reads["hadoop"][1:] == (
        ("raises", "org.apache.hadoop.fs.ChecksumException"), True,
    )
