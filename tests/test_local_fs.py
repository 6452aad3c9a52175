"""The session's ``file:`` filesystem (``hive_json_spark/NioLocalFileSystem.java``).

It must be in place wherever it can be built, and it must leave the disk as
Hadoop's own ``LocalFileSystem`` does: the same modes, the same ``.crc``
sidecars, and checksums that are still verified on read. A write that fails
leaves no part file in its destination.
"""

import os
import re
import shutil
import subprocess
import time
import zipfile

import pytest

from hive_json_spark import session
from hive_json_spark.session import FS_CLASS

HADOOP_FS = "org.apache.hadoop.fs.LocalFileSystem"


def _file_fs(spark):
    jvm = spark.sparkContext._jvm
    conf = spark.sparkContext._jsc.hadoopConfiguration()
    return jvm, jvm.org.apache.hadoop.fs.FileSystem.get(jvm.java.net.URI("file:///"), conf)


def _tree(root):
    """(relative path with the write's UUID masked, mode) of every entry."""
    out = []
    for d, dirs, files in os.walk(root):
        for n in dirs + files:
            p = os.path.join(d, n)
            rel = re.sub(r"part-(\d+)-[0-9a-f-]{36}", r"part-\1-UUID", os.path.relpath(p, root))
            out.append((rel, oct(os.stat(p).st_mode)))
    return sorted(out)


@pytest.fixture
def source_copy(tmp_path, monkeypatch):
    """The filesystem's source in a fresh directory, nothing built yet."""
    src = tmp_path / session._FS_SOURCE.name
    shutil.copy(session._FS_SOURCE, src)
    monkeypatch.setattr(session, "_FS_SOURCE", src)
    return src


def test_jar_is_built_once_per_source(source_copy, monkeypatch):
    if shutil.which("javac") is None:
        pytest.skip("no javac on PATH")
    build = session.local_fs_jar.__wrapped__  # past the per-process cache
    jar = build()
    assert os.path.dirname(jar) == str(source_copy.parent / "_jvm")
    assert os.listdir(os.path.dirname(jar)) == [os.path.basename(jar)]  # no temp left
    assert sorted(zipfile.ZipFile(jar).namelist()) == [
        "hive_json_spark/NioLocalFileSystem$Raw.class",
        "hive_json_spark/NioLocalFileSystem.class",
    ]

    def no_compile(*a, **k):
        raise AssertionError("compiled again")

    monkeypatch.setattr(subprocess, "run", no_compile)
    assert build() == jar
    source_copy.write_text(source_copy.read_text() + "\n")
    with pytest.raises(AssertionError, match="compiled again"):
        build()  # a new source hash is a new jar


def test_unbuildable_jar_keeps_hadoops_filesystem(source_copy, monkeypatch, caplog):
    build = session.local_fs_jar.__wrapped__
    (source_copy.parent / "_jvm").write_text("")  # a file where the build dir goes
    assert build() is None
    assert "stays Hadoop's filesystem" in caplog.text
    caplog.clear()
    monkeypatch.setattr(shutil, "which", lambda name: None)
    assert build() is None
    assert "no javac on PATH" in caplog.text


def test_running_jvm_without_the_jar_keeps_hadoops_filesystem(monkeypatch, caplog):
    """A JVM's class path is fixed at launch: a session that named the class
    in a JVM started without the jar would fail every file: read and write."""
    from types import SimpleNamespace

    from pyspark import SparkContext

    monkeypatch.setattr(session, "local_fs_jar", lambda: "/built/nio-local-fs.jar")
    jvm = SimpleNamespace(System=SimpleNamespace(getProperty=lambda key: "/lib/a.jar:/lib/b.jar"))
    monkeypatch.setattr(SparkContext, "_jvm", jvm)
    assert session._local_disk_conf() == {}
    assert "this JVM started without /built/nio-local-fs.jar" in caplog.text
    on_path = SimpleNamespace(getProperty=lambda key: "/lib/a.jar:/built/nio-local-fs.jar")
    monkeypatch.setattr(jvm, "System", on_path)
    assert session._local_disk_conf()["spark.hadoop.fs.file.impl"] == FS_CLASS


def test_session_filesystem_is_the_engines(spark):
    jvm, fs = _file_fs(spark)
    if shutil.which("javac") is None:
        assert fs.getClass().getName() == HADOOP_FS
        return
    assert fs.getClass().getName() == FS_CLASS
    assert fs.getRawFileSystem().getClass().getName() == FS_CLASS + "$Raw"
    assert spark.conf.get("spark.sql.streaming.checkpointFileManagerClass").endswith(
        ".FileSystemBasedCheckpointFileManager"
    )


@pytest.mark.parametrize("mode", [0o600, 0o644, 0o700, 0o755, 0o777, 0o1777], ids=oct)
def test_set_permission_matches_hadoop(spark, tmp_path, mode):
    jvm, fs = _file_fs(spark)
    if fs.getClass().getName() != FS_CLASS:
        pytest.skip("the session runs on Hadoop's filesystem")
    hadoop = jvm.org.apache.hadoop.fs.RawLocalFileSystem()
    hadoop.initialize(jvm.java.net.URI("file:///"), spark.sparkContext._jsc.hadoopConfiguration())
    perm = jvm.org.apache.hadoop.fs.permission.FsPermission(f"{mode:o}")
    assert perm.toShort() == mode
    got = {}
    for name, raw in (("ours", fs.getRawFileSystem()), ("hadoop", hadoop)):
        # a file, a directory, and a set-group-ID directory, which chmod
        # keeps set under a four-digit mode
        f, d, g = (tmp_path / f"{name}_{k}" for k in "fdg")
        f.write_text("x")
        d.mkdir()
        g.mkdir()
        os.chmod(g, 0o2700)
        for p in (f, d, g):
            raw.setPermission(jvm.org.apache.hadoop.fs.Path(str(p)), perm)
        got[name] = [oct(os.stat(p).st_mode) for p in (f, d, g)]
    assert got["ours"] == got["hadoop"]


def test_partitioned_write_matches_hadoop_modes_and_sidecars(spark, tmp_path):
    df = spark.range(0, 200, 1, 2).selectExpr("cast(id % 7 as string) k", "cast(id as string) v")
    df.write.partitionBy("k").text(str(tmp_path / "ours"))
    hadoop = {"fs.file.impl": HADOOP_FS, "fs.file.impl.disable.cache": "true"}
    # the writer's options reach the filesystem it opens: a missing class fails it
    with pytest.raises(Exception, match="NoSuchFs"):
        df.write.options(**{**hadoop, "fs.file.impl": "NoSuchFs"}).text(str(tmp_path / "no"))
    df.write.options(**hadoop).partitionBy("k").text(str(tmp_path / "hadoop"))

    ours = _tree(tmp_path / "ours")
    assert ours == _tree(tmp_path / "hadoop")
    names = {os.path.basename(p) for p, _ in ours}
    assert "._SUCCESS.crc" in names
    parts = [p for p, _ in ours if os.path.basename(p).startswith("part-")]
    assert len(parts) == 7 * 2  # one per task and key; each has its sidecar
    assert all(
        (os.path.join(os.path.dirname(p), f".{os.path.basename(p)}.crc"), m) in ours
        for p, m in ours
        if p in parts
    )


def test_flipped_byte_fails_the_checksum(spark, tmp_path):
    out = tmp_path / "t"
    spark.range(0, 100, 1, 1).selectExpr("cast(id as string) v").write.text(str(out))
    assert spark.read.text(str(out)).count() == 100
    (part,) = [p for p in out.iterdir() if p.name.startswith("part-")]
    data = bytearray(part.read_bytes())
    data[5] ^= 0x01
    part.write_bytes(bytes(data))
    with pytest.raises(Exception, match="Checksum error"):
        spark.read.text(str(out)).collect()


def test_failed_write_leaves_no_part_file(spark, tmp_path):
    # eight write tasks with no exchange in front; the last one fails after
    # the others have committed. Task output reaches the destination only
    # when the job commits, so the failed job leaves no part file behind.
    from pyspark import TaskContext

    def fail_last(frames):
        for pdf in frames:
            if TaskContext.get().partitionId() == 7:
                time.sleep(1.0)
                raise RuntimeError("the last task fails")
            yield pdf

    out = tmp_path / "out"
    with pytest.raises(Exception, match="the last task fails"):
        spark.range(0, 800, 1, 8).mapInPandas(fail_last, "id long").write.parquet(str(out))
    assert not list(out.rglob("part-*"))
