"""The fork-free local Hadoop filesystem (``async_stream_processing_spark/
jvm``): it returns what the stock ``RawLocalFileSystem`` returns and
leaves the same mode bits, a stateful drain into the versioned lake forks
no ``chmod``/``readlink``/``stat``/``ls``, the ``.crc`` check still
fails a corrupted file, and ``get_spark`` enables it only for a local
master on the call that starts the JVM."""

from __future__ import annotations

import glob
import json
import os
import shutil
import subprocess
import sys
import textwrap
import zipfile
from contextlib import contextmanager
from datetime import datetime, timedelta

import pytest
from py4j.protocol import Py4JJavaError

from async_stream_processing_spark.session import (
    LOCALFS_JAR,
    PACKAGE_ROOT,
    localfs_conf,
)
from tools.build_localfs_jar import build, javac_version

FORKED = {"chmod", "readlink", "stat", "ls"}
LOCALFS_KEYS = ("spark.driver.extraClassPath", "spark.hadoop.fs.file.impl",
                "spark.hadoop.fs.AbstractFileSystem.file.impl")


@pytest.fixture(scope="module")
def jvm(spark):
    hc = spark.sparkContext._jsc.hadoopConfiguration()
    assert hc.get("fs.file.impl") == "asyncstream.localfs.NioLocalFileSystem", (
        "the test session's JVM was not started by get_spark")
    return spark._jvm


def _raw_fs(jvm, cls):
    fs = cls()
    fs.initialize(jvm.java.net.URI("file:///"),
                  jvm.org.apache.hadoop.conf.Configuration())
    return fs


@pytest.fixture
def both(jvm):
    """(stock, shim) raw local filesystems."""
    return (_raw_fs(jvm, jvm.org.apache.hadoop.fs.RawLocalFileSystem),
            _raw_fs(jvm, jvm.asyncstream.localfs.NioRawLocalFileSystem))


@contextmanager
def process_starts(jvm, tmp_path):
    """Names of the commands the JVM starts inside the block, from a JFR
    ``jdk.ProcessStart`` recording."""
    names: list[str] = []
    rec = jvm.jdk.jfr.Recording()
    rec.enable("jdk.ProcessStart")
    rec.start()
    try:
        yield names
    finally:
        rec.stop()
        out = jvm.java.io.File(str(tmp_path / "starts.jfr")).toPath()
        rec.dump(out)
        rec.close()
        for e in jvm.jdk.jfr.consumer.RecordingFile.readAllEvents(out):
            names.append(os.path.basename(str(e.getString("command")).split()[0]))


def _link_status(jvm, fs, path):
    try:
        st = fs.getFileLinkStatus(jvm.org.apache.hadoop.fs.Path(path))
    except Py4JJavaError as e:
        return e.java_exception.getClass().getName()
    return (st.isDirectory(), st.isSymlink(), st.getLen(),
            st.getModificationTime(), st.getPermission().toString(),
            st.getSymlink().toString() if st.isSymlink() else None)


def test_shim_returns_the_stock_link_status(jvm, both, tmp_path):
    (tmp_path / "file").write_bytes(b"x" * 17)
    (tmp_path / "dir").mkdir()
    os.symlink(tmp_path / "file", tmp_path / "link")
    os.symlink(tmp_path / "gone", tmp_path / "dangling")
    stock, shim = both
    for name in ("file", "dir", "link", "dangling", "missing"):
        # FileContext passes qualified paths, FileSystem callers plain ones
        for path in (str(tmp_path / name), "file:" + str(tmp_path / name)):
            want = _link_status(jvm, stock, path)
            assert _link_status(jvm, shim, path) == want, path
    assert _link_status(jvm, shim, str(tmp_path / "link"))[1]
    assert _link_status(jvm, shim, str(tmp_path / "dangling"))[1]
    assert _link_status(jvm, shim, str(tmp_path / "missing")) == (
        "java.io.FileNotFoundException")


def test_shim_leaves_the_stock_mode_bits(jvm, both, tmp_path):
    Path, FsPermission = (jvm.org.apache.hadoop.fs.Path,
                          jvm.org.apache.hadoop.fs.permission.FsPermission)
    modes = (0o644, 0o755, 0o700, 0o1777)
    for label, fs in zip(("stock", "shim"), both):
        root = tmp_path / label
        root.mkdir()
        for m in modes:
            perm = FsPermission(m)
            fs.create(Path(str(root / f"c{m:o}")), perm, True, 4096, 1,
                      1 << 20, None).close()
            fs.mkdirs(Path(str(root / f"d{m:o}" / "sub")), perm)
            (root / f"s{m:o}").write_bytes(b"")
            fs.setPermission(Path(str(root / f"s{m:o}")), perm)
            fs.setPermission(Path(str(root / f"d{m:o}")), perm)

    def modes_under(root):
        return {str(p.relative_to(root)): p.stat().st_mode
                for p in root.rglob("*")}

    stock_modes = modes_under(tmp_path / "stock")
    assert len(stock_modes) == 4 * len(modes)
    assert modes_under(tmp_path / "shim") == stock_modes

    # plain modes stay in-process; sticky ones take the stock path
    _, shim = both
    with process_starts(jvm, tmp_path) as starts:
        for m in (0o644, 0o755, 0o700):
            shim.setPermission(Path(str(tmp_path / "shim" / f"s{m:o}")),
                               FsPermission(m))
            shim.getFileLinkStatus(Path(str(tmp_path / "shim" / f"d{m:o}")))
    assert not FORKED & set(starts), starts


def _tick_files(spark, src, n_files):
    t0 = datetime(2024, 1, 1)
    for i in range(n_files):
        rows = [(t0 + timedelta(minutes=10 * i + j), 100 * i + j, j % 3,
                 1000 * (i + j)) for j in range(6)]
        spark.createDataFrame(
            rows, "ts timestamp, event_id long, user_id long, x long"
        ).coalesce(1).write.mode("append").parquet(src)


def _fold_into_lake(spark, src, lake, ckpt):
    from async_stream_processing_spark.plans.versioned import versioned_sink
    from async_stream_processing_spark.streaming.reorder import (
        reordered_fold_stream,
    )
    from async_stream_processing_spark.streaming.replay import (
        await_drain,
        replay_stream,
    )

    stream = replay_stream(spark, src,
                           "ts timestamp, event_id long, user_id long, x long",
                           max_files_per_trigger=1)
    q = versioned_sink(reordered_fold_stream(stream, "ewma",
                                             delay="30 minutes"), lake, ckpt)
    await_drain(q, 300)
    return q


def test_stateful_drain_into_the_lake_forks_nothing(spark, jvm, tmp_path):
    from async_stream_processing_spark.plans.versioned import versions

    src, lake = str(tmp_path / "src"), str(tmp_path / "lake")
    _tick_files(spark, src, 3)
    with process_starts(jvm, tmp_path) as starts:
        q = _fold_into_lake(spark, src, lake, str(tmp_path / "ck"))
    assert len(q.recentProgress) >= 3
    assert len(versions(lake)) >= 3
    assert not FORKED & set(starts), sorted(starts)
    # the checksummed filesystems still wrote their sidecars
    assert glob.glob(str(tmp_path / "ck" / "offsets" / ".*.crc"))
    assert glob.glob(os.path.join(lake, "**", ".*.parquet.crc"), recursive=True)


def test_corrupted_lake_file_fails_the_checksum(spark, tmp_path):
    from async_stream_processing_spark.plans.versioned import read_version

    src, lake = str(tmp_path / "src"), str(tmp_path / "lake")
    _tick_files(spark, src, 1)
    _fold_into_lake(spark, src, lake, str(tmp_path / "ck"))
    assert read_version(spark, lake).count() > 0
    data = sorted(p for p in glob.glob(os.path.join(lake, "**", "*.parquet"),
                                       recursive=True)
                  if os.path.getsize(p) > 64)
    assert data
    with open(data[0], "r+b") as fh:  # same length, one byte flipped
        fh.seek(40)
        b = fh.read(1)
        fh.seek(40)
        fh.write(bytes([b[0] ^ 0xFF]))
    with pytest.raises(Exception, match="Checksum error"):
        read_version(spark, lake).collect()


def test_localfs_only_for_local_masters():
    assert localfs_conf(None) == {}
    assert localfs_conf("spark://host:7077") == {}
    assert localfs_conf("local-cluster[1,1,1024]") == {}
    assert localfs_conf("yarn") == {}


_SESSION_PROBE = textwrap.dedent("""
    import json, os, sys
    from pyspark.sql import SparkSession
    from async_stream_processing_spark import get_spark

    master, tmp = sys.argv[1], sys.argv[2]
    if master == "reuse":
        SparkSession.builder.master("local[1]") \\
            .config("spark.ui.enabled", "false").getOrCreate()
        master = None
    spark = get_spark("localfs-probe", shuffle_partitions=2, master=master)
    conf = spark.sparkContext.getConf()
    keys = {k: conf.get(k, None) for k in sys.argv[3:]}
    spark.range(5).write.parquet(os.path.join(tmp, "pq"))
    src = os.path.join(tmp, "src")
    spark.range(3).write.parquet(src)
    q = (spark.readStream.schema("id long").parquet(src)
         .groupBy("id").count()
         .writeStream.outputMode("complete").format("memory")
         .queryName("probe").option("checkpointLocation",
                                    os.path.join(tmp, "ck"))
         .trigger(availableNow=True).start())
    q.awaitTermination(180)
    print(json.dumps({"keys": keys,
                      "parquet": spark.read.parquet(
                          os.path.join(tmp, "pq")).count(),
                      "drained": spark.table("probe").count()}))
""")


@pytest.mark.parametrize("master", ["reuse", "local-cluster[1,1,1024]"])
def test_get_spark_leaves_other_sessions_stock(master, tmp_path):
    """A JVM that is already running has no jar on its classpath, and a
    non-local master's executors would not either: both keep Hadoop's
    own local filesystem and still write parquet and drain a stream."""
    env = dict(os.environ, PYTHONPATH=PACKAGE_ROOT, SPARK_GRAFT_CPUS="1")
    out = subprocess.run(
        [sys.executable, "-c", _SESSION_PROBE, master, str(tmp_path),
         *LOCALFS_KEYS],
        capture_output=True, text=True, timeout=600, env=env,
        cwd=str(tmp_path))
    assert out.returncode == 0, out.stderr[-3000:]
    got = json.loads(out.stdout.strip().splitlines()[-1])
    assert got["keys"] == dict.fromkeys(LOCALFS_KEYS), got
    assert got["parquet"] == 5 and got["drained"] == 3, got


def test_jar_rebuilds_to_the_same_classes(tmp_path):
    with zipfile.ZipFile(LOCALFS_JAR) as z:
        manifest = z.read("META-INF/MANIFEST.MF").decode()
        shipped = {n: z.read(n) for n in z.namelist() if n.endswith(".class")}
    built_by = next(line.split(":", 1)[1].strip()
                    for line in manifest.splitlines()
                    if line.startswith("Created-By:"))
    local = javac_version() if shutil.which("javac") else None
    if local != built_by:
        pytest.skip(f"the jar was built by {built_by!r}; this host has "
                    f"{local!r}, whose class bytes may differ")
    with zipfile.ZipFile(build(str(tmp_path / "localfs.jar"))) as z:
        rebuilt = {n: z.read(n) for n in z.namelist() if n.endswith(".class")}
    assert len(shipped) == 4
    assert rebuilt == shipped
