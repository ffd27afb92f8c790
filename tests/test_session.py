"""The session profile: ``session.spark_cpus``, the ``$SPARK_GRAFT_CPUS``
check that runs before any master string is built, and the ``file:``
filesystem that :func:`get_spark` pins (its classpath entry, the
committed jar, and file modes equal to Hadoop's stock local
filesystem)."""

from __future__ import annotations

import hashlib
import os
import re
import stat
import zipfile

import pytest
from pyspark.sql import SparkSession

from data_pipeline_project_using_telegram_and_aws_spark.session import (
    JVM_JAR,
    LOCAL_FILESYSTEM,
    get_spark,
    spark_cpus,
)


@pytest.mark.parametrize("value", ["", "0", "00", "-1", "2.5", "four", " 4", "4*"])
def test_bad_spark_graft_cpus_raises_naming_the_variable(monkeypatch, value):
    monkeypatch.setenv("SPARK_GRAFT_CPUS", value)
    with pytest.raises(ValueError, match="SPARK_GRAFT_CPUS"):
        spark_cpus()
    # get_spark checks before it builds anything
    with pytest.raises(ValueError, match="SPARK_GRAFT_CPUS"):
        get_spark("bad-cpus")


@pytest.mark.parametrize("value", ["1", "4", "32", "*"])
def test_valid_spark_graft_cpus_pass_through(monkeypatch, value):
    monkeypatch.setenv("SPARK_GRAFT_CPUS", value)
    assert spark_cpus() == value


def test_unset_spark_graft_cpus_takes_the_default(monkeypatch):
    monkeypatch.delenv("SPARK_GRAFT_CPUS", raising=False)
    assert spark_cpus() == "*"
    assert spark_cpus(default="8") == "8"


def test_caller_classpath_keeps_the_jar_first(monkeypatch):
    """A caller's ``extraClassPath`` goes after the jar, never in its
    place: without the jar on the launch classpath the JVM cannot load
    the ``file:`` filesystem it is told to use."""
    monkeypatch.setattr(
        SparkSession.Builder, "getOrCreate", lambda self: dict(self._options)
    )
    conf = get_spark(
        "classpath", master="local[1]", shuffle_partitions=1,
        extra_conf={"spark.driver.extraClassPath": "lib/extra.jar"},
    )
    assert conf["spark.driver.extraClassPath"] == os.pathsep.join(
        [JVM_JAR, "lib/extra.jar"]
    )
    assert conf["spark.executor.extraClassPath"] == JVM_JAR
    assert conf["spark.hadoop.fs.file.impl"] == LOCAL_FILESYSTEM


def test_committed_jar_is_built_from_the_committed_source():
    """``tools/build_jvm.sh`` stamps the source's sha256 into the jar's
    manifest; a source edit without a rebuild fails here. Needs no
    ``javac``."""
    src = os.path.join(os.path.dirname(JVM_JAR), "NioLocalFileSystem.java")
    with open(src, "rb") as f:
        digest = hashlib.sha256(f.read()).hexdigest()
    with zipfile.ZipFile(JVM_JAR) as jar:
        names = set(jar.namelist())
        manifest = jar.read("META-INF/MANIFEST.MF").decode()
    # manifest lines wrap at 72 bytes; a continuation starts with a space
    attrs = dict(
        line.split(": ", 1)
        for line in re.sub(r"\r?\n ", "", manifest).splitlines()
        if line
    )
    assert attrs["Source-SHA256"] == digest
    cls = LOCAL_FILESYSTEM.replace(".", "/")
    assert {f"{cls}.class", f"{cls}$Raw.class"} <= names


def _modes(jvm, fs, root):
    """Create a directory and a file through ``fs``, then set 0600 on
    the file and 01777 on the directory; every mode seen on disk."""
    Path = jvm.org.apache.hadoop.fs.Path
    FsPermission = jvm.org.apache.hadoop.fs.permission.FsPermission
    d, f = f"{root}/dir", f"{root}/dir/file"

    def mode(p):
        return stat.S_IMODE(os.stat(p).st_mode)

    assert fs.mkdirs(Path(d))
    out = fs.create(Path(f))
    out.write(bytearray(b"bytes"))
    out.close()
    seen = {"dir": mode(d), "file": mode(f), "crc": mode(f"{d}/.file.crc")}
    fs.setPermission(Path(f), FsPermission("600"))
    fs.setPermission(Path(d), FsPermission("1777"))
    return {**seen, "file_600": mode(f), "dir_1777": mode(d)}


def test_session_file_modes_match_the_stock_local_filesystem(spark, tmp_path):
    """The session's ``file:`` filesystem is the pinned class, still
    writes ``.crc`` checksums, and leaves the modes Hadoop's stock
    ``LocalFileSystem`` leaves, the sticky bit included."""
    jvm = spark._jvm
    conf = spark._jsparkSession.sessionState().newHadoopConf()
    uri = jvm.java.net.URI("file:///")
    session_fs = jvm.org.apache.hadoop.fs.FileSystem.get(uri, conf)
    assert session_fs.getClass().getName() == LOCAL_FILESYSTEM
    stock_fs = jvm.org.apache.hadoop.fs.LocalFileSystem()
    stock_fs.initialize(uri, conf)

    got = _modes(jvm, session_fs, tmp_path / "session")
    assert got == _modes(jvm, stock_fs, tmp_path / "stock")
    assert got == {
        "dir": 0o755, "file": 0o644, "crc": 0o644,
        "file_600": 0o600, "dir_1777": 0o1777,
    }
