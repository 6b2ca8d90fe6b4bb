"""The engine's ``file:`` filesystem (``highload_kafka_streams_spark/jvm``).

Sessions ``get_spark`` starts on a local master read and write local paths
through ``hks.localfs``: Hadoop's local filesystem with ``setPermission`` and
``getFileLinkStatus`` done through Java NIO instead of forked ``chmod`` and
``readlink`` processes. These tests hold it to the stock classes in the same
JVM (modes, link status, checksum files, corruption detection), check that
the committed jar is what its sources build, and count the spawns a
checkpointed stream makes.
"""

import importlib.util
import json
import os
import shutil
import stat
import subprocess
import sys

import pytest
from py4j.protocol import Py4JJavaError
from pyspark.sql import functions as F

from highload_kafka_streams_spark.streaming.sinks import idempotent_parquet_sink

REPO = os.path.dirname(os.path.dirname(os.path.abspath(__file__)))
STOCK = ("org.apache.hadoop.fs.LocalFileSystem", "org.apache.hadoop.fs.local.LocalFs")
NIO = ("hks.localfs.NioLocalFileSystem", "hks.localfs.NioLocalFs")


def _jclass(jvm, name):
    obj = jvm
    for part in name.split("."):
        obj = getattr(obj, part)
    return obj


def _conf(spark, afs=None):
    """A copy of the session's Hadoop conf under umask 027."""
    conf = spark._jvm.org.apache.hadoop.conf.Configuration(
        spark.sparkContext._jsc.hadoopConfiguration()
    )
    conf.set("fs.permissions.umask-mode", "027")
    if afs:
        conf.set("fs.AbstractFileSystem.file.impl", afs)
    return conf


def _filesystem(spark, cls):
    fs = _jclass(spark._jvm, cls)()
    fs.initialize(spark._jvm.java.net.URI("file:///"), _conf(spark))
    return fs


def _modes(root):
    out = {}
    for dirpath, dirs, files in os.walk(root):
        for name in dirs + files:
            p = os.path.join(dirpath, name)
            out[os.path.relpath(p, root)] = stat.S_IMODE(os.lstat(p).st_mode)
    return out


def _window_counts(spark, src):
    """Hourly counts per user over a parquet source, one file per batch."""
    return (
        spark.readStream.schema("ts timestamp, user_id long")
        .option("maxFilesPerTrigger", 1)
        .parquet(src)
        .withWatermark("ts", "10 minutes")
        .groupBy(F.window("ts", "1 hour"), "user_id")
        .count()
    )


def _add_input(spark, src, i):
    (
        spark.range(i * 1000, (i + 1) * 1000)
        .select(
            F.timestamp_seconds(F.lit(1_700_000_000) + F.col("id") * 7).alias("ts"),
            (F.col("id") % 13).alias("user_id"),
        )
        .coalesce(1)
        .write.mode("append")
        .parquet(src)
    )


def _run_stream(spark, src, ckpt, sink):
    q = (
        _window_counts(spark, src)
        .writeStream.foreachBatch(idempotent_parquet_sink(sink))
        .outputMode("update")
        .option("checkpointLocation", ckpt)
        .trigger(availableNow=True)
        .start()
    )
    q.awaitTermination(120)
    return q


def test_jar_matches_its_sources(tmp_path):
    """The committed jar holds exactly the classes its sources compile to."""
    if shutil.which("javac") is None:
        pytest.skip("javac not installed: the committed jar cannot be rebuilt")
    spec = importlib.util.spec_from_file_location(
        "build_jvm", os.path.join(REPO, "tools", "build_jvm.py")
    )
    build_jvm = importlib.util.module_from_spec(spec)
    spec.loader.exec_module(build_jvm)
    rebuilt = build_jvm.build(str(tmp_path / "rebuilt.jar"))
    assert build_jvm.class_bytes(rebuilt) == build_jvm.class_bytes(build_jvm.JAR), (
        "jvm/hks-localfs.jar is stale: run python tools/build_jvm.py"
    )


def test_local_session_resolves_file_scheme_to_nio(spark):
    jvm = spark._jvm
    uri = jvm.java.net.URI("file:///")
    conf = spark.sparkContext._jsc.hadoopConfiguration()
    fc = jvm.org.apache.hadoop.fs.FileContext.getFileContext(uri, conf)
    got = (
        jvm.org.apache.hadoop.fs.FileSystem.get(uri, conf).getClass().getName(),
        fc.getDefaultFileSystem().getClass().getName(),
    )
    assert got == NIO


def test_modes_match_stock_under_umask_027(spark, tmp_path):
    """Files and dirs made through the FileSystem and the FileContext APIs
    (default, explicit and changed modes, overwriting renames) get the same
    modes and the same ``.crc`` siblings as with the stock classes."""
    jvm = spark._jvm
    Path, FsPermission = jvm.org.apache.hadoop.fs.Path, jvm.org.apache.hadoop.fs.permission.FsPermission
    create_flags = jvm.java.util.EnumSet.of(jvm.org.apache.hadoop.fs.CreateFlag.CREATE)
    no_opts = spark.sparkContext._gateway.new_array(
        getattr(jvm.org.apache.hadoop.fs, "Options$CreateOpts"), 0
    )
    overwrite = spark.sparkContext._gateway.new_array(
        getattr(jvm.org.apache.hadoop.fs, "Options$Rename"), 1
    )
    overwrite[0] = getattr(jvm.org.apache.hadoop.fs, "Options$Rename").OVERWRITE

    def populate(root, fs_cls, afs_cls):
        fs = _filesystem(spark, fs_cls)
        fs.mkdirs(Path(f"{root}/fs/a/b"))
        fs.mkdirs(Path(f"{root}/fs/c"), FsPermission("777"))
        for name in ("f1", "f2"):
            out = fs.create(Path(f"{root}/fs/a/{name}"))
            out.write(bytearray(b"payload"))
            out.close()
        fs.create(Path(f"{root}/fs/c/f3")).close()
        fs.setPermission(Path(f"{root}/fs/c/f3"), FsPermission("666"))
        fs.setPermission(Path(f"{root}/fs/a/f2"), FsPermission("600"))
        fs.rename(Path(f"{root}/fs/a/f1"), Path(f"{root}/fs/a/b/f1"))

        fc = jvm.org.apache.hadoop.fs.FileContext.getFileContext(
            jvm.java.net.URI("file:///"), _conf(spark, afs_cls)
        )
        assert fc.getDefaultFileSystem().getClass().getName() == afs_cls
        fc.mkdir(Path(f"{root}/fc/d/e"), FsPermission.getDirDefault(), True)
        for name in ("g1", "g2"):
            out = fc.create(Path(f"{root}/fc/d/{name}"), create_flags, no_opts)
            out.write(bytearray(name.encode()))
            out.close()
        fc.rename(Path(f"{root}/fc/d/g1"), Path(f"{root}/fc/d/g2"), overwrite)
        fc.setPermission(Path(f"{root}/fc/d/g2"), FsPermission("640"))
        return _modes(root)

    stock = populate(tmp_path / "stock", *STOCK)
    nio = populate(tmp_path / "nio", *NIO)
    assert nio == stock
    assert {".f2.crc", ".f3.crc", ".g2.crc"} <= {os.path.basename(p) for p in nio}
    assert stock["fs/c"] == 0o750 and stock["fs/a/f2"] == 0o600 and stock["fs/c/f3"] == 0o666


def test_link_status_equals_stock(spark, tmp_path):
    """``getFileLinkStatus`` on symlinks (live and dangling), their targets
    and missing paths, qualified and bare, matches the stock class."""
    jvm = spark._jvm
    stock = _filesystem(spark, "org.apache.hadoop.fs.RawLocalFileSystem")
    nio = _filesystem(spark, "hks.localfs.NioRawLocalFileSystem")
    (tmp_path / "target").write_text("x")
    (tmp_path / "link").symlink_to(tmp_path / "target")
    (tmp_path / "dangling").symlink_to(tmp_path / "gone")

    def status(fs, p):
        try:
            return fs.getFileLinkStatus(jvm.org.apache.hadoop.fs.Path(p)).toString()
        except Py4JJavaError as e:
            return e.java_exception.toString()

    seen_links = 0
    for name in ("target", "link", "dangling", "missing"):
        for prefix in ("", "file:"):
            p = f"{prefix}{tmp_path / name}"
            assert status(nio, p) == status(stock, p), p
            seen_links += "isSymlink=true" in status(nio, p)
    assert seen_links == 2  # bare paths to both links resolve as links


def test_sticky_mode_matches_stock(spark, tmp_path):
    """A mode NIO cannot express takes Hadoop's own path (the spawn test
    below sees its ``chmod``). ``FsPermission`` carries no setuid or setgid
    bit, so the sticky bit is the only such mode; the non-POSIX fallback
    cannot be reached through this JVM's default (Linux) file store."""
    Path, FsPermission = spark._jvm.org.apache.hadoop.fs.Path, spark._jvm.org.apache.hadoop.fs.permission.FsPermission
    for cls in ("org.apache.hadoop.fs.RawLocalFileSystem", "hks.localfs.NioRawLocalFileSystem"):
        d = tmp_path / cls
        d.mkdir()
        _filesystem(spark, cls).setPermission(Path(str(d)), FsPermission("1750"))
    modes = {stat.S_IMODE(os.stat(d).st_mode) for d in tmp_path.iterdir()}
    assert modes == {0o1750}


def test_flipped_delta_byte_fails_restart(spark, tmp_path):
    """Checksums still guard the state store: corrupt one committed delta
    file and the restart fails with a checksum error."""
    src, ckpt, sink = (str(tmp_path / d) for d in ("src", "ckpt", "sink"))
    _add_input(spark, src, 0)
    _run_stream(spark, src, ckpt, sink)
    state = os.path.join(ckpt, "state", "0")
    deltas = [os.path.join(state, p, "1.delta") for p in sorted(os.listdir(state)) if p.isdigit()]
    assert deltas and all(os.path.exists(d + ".crc") for d in deltas)  # checksum sidecars
    assert all(os.path.exists(os.path.join(os.path.dirname(d), ".1.delta.crc")) for d in deltas)
    delta = max(deltas, key=os.path.getsize)
    with open(delta, "r+b") as f:
        f.seek(os.path.getsize(delta) // 2)
        b = f.read(1)
        f.seek(-1, os.SEEK_CUR)
        f.write(bytes([b[0] ^ 0xFF]))

    _add_input(spark, src, 1)
    with pytest.raises(Exception, match="(?i)checksum"):
        _run_stream(spark, src, ckpt, sink)


_SPAWN_SCRIPT = """
import json, os, sys
sys.path.insert(0, {repo!r})
from highload_kafka_streams_spark.session import get_spark
from tests.test_localfs import _add_input, _run_stream

root = {root!r}
spark = get_spark(master="local[2]")
src = os.path.join(root, "src")
for i in range(3):
    _add_input(spark, src, i)
q = _run_stream(spark, src, os.path.join(root, "ckpt"), os.path.join(root, "sink"))
jvm = spark._jvm
sticky = os.path.join(root, "sticky")
os.mkdir(sticky)
fs = jvm.org.apache.hadoop.fs.FileSystem.getLocal(spark.sparkContext._jsc.hadoopConfiguration())
fs.getRaw().setPermission(jvm.org.apache.hadoop.fs.Path(sticky), jvm.org.apache.hadoop.fs.permission.FsPermission("1755"))
print(json.dumps({{"batches": sum(p["numInputRows"] > 0 for p in q.recentProgress)}}))
spark.stop()
"""


def test_stream_forks_no_chmod_or_readlink(tmp_path):
    """A 3-batch windowed aggregation into ``idempotent_parquet_sink`` on
    two state partitions forks no ``chmod`` or ``readlink`` on its
    checkpoint or sink (the stock filesystem forks about 360). A sticky
    mode still goes to ``chmod``, Hadoop's own path."""
    shim, log = tmp_path / "bin", tmp_path / "spawns.log"
    shim.mkdir()
    for cmd in ("chmod", "readlink"):
        real = shutil.which(cmd)
        (shim / cmd).write_text(f'#!/bin/sh\necho "{cmd} $*" >> {log}\nexec {real} "$@"\n')
        (shim / cmd).chmod(0o755)
    env = dict(
        os.environ,
        PATH=f"{shim}{os.pathsep}{os.environ['PATH']}",
        SPARK_GRAFT_DRIVER_MEM="1g",
    )
    script = _SPAWN_SCRIPT.format(repo=REPO, root=str(tmp_path))
    proc = subprocess.run(
        [sys.executable, "-c", script], env=env, cwd=str(tmp_path),
        capture_output=True, text=True, timeout=600,
    )
    assert proc.returncode == 0, proc.stderr[-3000:]
    assert json.loads(proc.stdout.strip().splitlines()[-1]) == {"batches": 3}
    calls = log.read_text().splitlines() if log.exists() else []
    dirs = (str(tmp_path / "ckpt"), str(tmp_path / "sink"))
    assert [c for c in calls if any(d in c for d in dirs)] == []
    assert [c.split()[0] for c in calls if str(tmp_path / "sticky") in c] == ["chmod"]
