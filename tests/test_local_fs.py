"""The session's `file:` filesystem. ``session.get_spark`` compiles the
no-fork classes in ``jvm/crane/fs`` into a jar and wires it in for a
local-mode JVM it launches; they must create, chmod and stat local files
exactly as Hadoop's stock classes do, which these tests check against
``os.stat`` / ``os.readlink`` and against stock instances in the same JVM. Without
javac the helper falls back to the stock classes with one stderr line."""

from __future__ import annotations

import os
import shutil
import zipfile

import pytest
from py4j.protocol import Py4JJavaError
from pyspark import SparkContext

from crane_stream_processing_spark import session

STOCK = {
    "fs.file.impl": "org.apache.hadoop.fs.LocalFileSystem",
    "fs.AbstractFileSystem.file.impl": "org.apache.hadoop.fs.local.LocalFs",
}


def _conf(spark, stock: bool):
    """The session's Hadoop conf, or a copy of it naming the stock classes."""
    conf = spark._jsparkSession.sessionState().newHadoopConf()
    for k, v in (STOCK if stock else {}).items():
        conf.set(k, v)
    return conf


def _fs(spark, stock: bool):
    """An uncached `file:` FileSystem, so a stock conf gets a stock instance."""
    jvm = spark._jvm
    return jvm.org.apache.hadoop.fs.FileSystem.newInstance(
        jvm.java.net.URI("file:///"), _conf(spark, stock)
    )


def _fc(spark, stock: bool):
    jvm = spark._jvm
    return jvm.org.apache.hadoop.fs.FileContext.getFileContext(
        jvm.java.net.URI("file:///"), _conf(spark, stock)
    )


def _modes(root) -> dict[str, int]:
    """Relative path -> permission bits (with sticky/setid) under ``root``."""
    out = {}
    for dirpath, dirnames, filenames in os.walk(root):
        for name in dirnames + filenames:
            p = os.path.join(dirpath, name)
            out[os.path.relpath(p, root)] = os.stat(p).st_mode & 0o7777
    return out


@pytest.mark.skipif(shutil.which("javac") is None, reason="no javac: stock classes")
def test_session_file_scheme_uses_no_fork_classes(spark):
    jvm = spark._jvm
    conf = spark._jsc.hadoopConfiguration()
    uri = jvm.java.net.URI("file:///")
    fs = jvm.org.apache.hadoop.fs.FileSystem.get(uri, conf)
    assert fs.getClass().getName() == "crane.fs.NoForkLocalFileSystem"
    assert fs.getRaw().getClass().getName() == "crane.fs.NoForkRawLocalFileSystem"
    afs = jvm.org.apache.hadoop.fs.FileContext.getFileContext(uri, conf).getDefaultFileSystem()
    assert afs.getClass().getName() == "crane.fs.NoForkLocalFs"
    assert afs.getRawFs().getClass().getName() == "crane.fs.NoForkRawLocalFs"
    stock = _fs(spark, stock=True)
    assert stock.getClass().getName() == "org.apache.hadoop.fs.LocalFileSystem"
    stock.close()
    jar = session.local_fs_classes()
    assert jar.endswith(".jar")
    with zipfile.ZipFile(jar) as zf:
        assert sorted(zf.namelist()) == [
            f"crane/fs/NoFork{n}.class"
            for n in ("LocalFileSystem", "LocalFs", "RawLocalFileSystem", "RawLocalFs")
        ]
    runtime = jvm.java.lang.management.ManagementFactory.getRuntimeMXBean()
    assert jar in runtime.getClassPath().split(os.pathsep)


def _make_tree(spark, stock: bool, root: str) -> None:
    """A directory, a nested directory and a file with its .crc, made once
    through FileSystem and once through the checkpoint manager Spark's
    streaming commits use (FileContext: mkdir, temp-file create, rename)."""
    jvm = spark._jvm
    P = jvm.org.apache.hadoop.fs.Path
    fs = _fs(spark, stock)
    fs.mkdirs(P(f"{root}/fs_dir"))
    fs.mkdirs(P(f"{root}/fs_nested/a/b"))
    fs.create(P(f"{root}/fs_dir/file")).close()
    fs.close()
    pkg = jvm.org.apache.spark.sql.execution.streaming.checkpointing
    cfm = pkg.CheckpointFileManager.create(P(root), _conf(spark, stock))
    cfm.mkdirs(P(f"{root}/fc_nested/a/b"))
    out = cfm.createAtomic(P(f"{root}/fc_nested/a/b/1.delta"), False)
    out.write(bytearray(b"x"))
    out.close()


def test_create_and_mkdir_modes_match_stock_after_umask(spark, tmp_path):
    umask = spark._jvm.org.apache.hadoop.fs.permission.FsPermission.getUMask(
        _conf(spark, False)
    ).toShort()
    trees = {}
    for stock in (False, True):
        root = tmp_path / ("stock" if stock else "nofork")
        root.mkdir()
        _make_tree(spark, stock, str(root))
        trees[stock] = _modes(root)
    assert trees[False] == trees[True]
    d, f = 0o777 & ~umask, 0o666 & ~umask
    assert trees[False] == {
        "fs_dir": d,
        "fs_dir/file": f,
        "fs_dir/.file.crc": f,
        "fs_nested": d,
        "fs_nested/a": d,
        "fs_nested/a/b": d,
        "fc_nested": d,
        "fc_nested/a": d,
        "fc_nested/a/b": d,
        "fc_nested/a/b/1.delta": f,
        "fc_nested/a/b/.1.delta.crc": f,
    }


def test_set_permission_explicit_and_sticky_match_stock(spark, tmp_path):
    jvm = spark._jvm
    P = jvm.org.apache.hadoop.fs.Path
    FsPermission = jvm.org.apache.hadoop.fs.permission.FsPermission
    trees = {}
    for stock in (False, True):
        root = tmp_path / ("stock" if stock else "nofork")
        root.mkdir()
        fs = _fs(spark, stock)
        fs.create(P(f"{root}/file")).close()
        fs.setPermission(P(f"{root}/file"), FsPermission(0o640))
        fs.mkdirs(P(f"{root}/dir"))
        fs.setPermission(P(f"{root}/dir"), FsPermission(0o1755))
        fs.close()
        trees[stock] = _modes(root)
    assert trees[False] == trees[True]
    assert trees[False]["file"] == 0o640
    assert trees[False]["dir"] == 0o1755


def _link_status(spark, api, p: str):
    """getFileLinkStatus through a FileSystem or FileContext, as
    (isFile, isDirectory, isSymlink, length, link target path)."""
    s = api.getFileLinkStatus(spark._jvm.org.apache.hadoop.fs.Path(p))
    target = s.getSymlink().toUri().getPath() if s.isSymlink() else None
    return (s.isFile(), s.isDirectory(), s.isSymlink(), s.getLen(), target)


def test_file_link_status_matches_os_and_stock(spark, tmp_path):
    (tmp_path / "file").write_bytes(b"abc")
    (tmp_path / "dir").mkdir()
    os.symlink(tmp_path / "file", tmp_path / "link")
    os.symlink(tmp_path / "gone", tmp_path / "dangling")
    names = ("file", "dir", "link", "dangling")
    seen = {}
    for stock in (False, True):
        fs = _fs(spark, stock)
        for label, api in (("fs", fs), ("fc", _fc(spark, stock))):
            seen[stock, label] = {n: _link_status(spark, api, str(tmp_path / n)) for n in names}
            with pytest.raises(Py4JJavaError) as err:
                _link_status(spark, api, str(tmp_path / "missing"))
            assert err.value.java_exception.getClass().getName() == (
                "java.io.FileNotFoundException"
            )
        fs.close()
    for label in ("fs", "fc"):
        got = seen[False, label]
        assert got == seen[True, label]
        assert got["file"] == (True, False, False, 3, None)
        assert got["dir"][:3] == (False, True, False)
        assert got["link"][2] and got["link"][4] == os.readlink(tmp_path / "link")
        assert got["dangling"][2]


def test_missing_javac_falls_back_with_one_stderr_line(tmp_path, monkeypatch, capsys):
    monkeypatch.setenv("XDG_CACHE_HOME", str(tmp_path))
    monkeypatch.setattr(shutil, "which", lambda *a, **k: None)
    assert session.local_fs_classes() is None
    err = capsys.readouterr().err
    assert len(err.splitlines()) == 1 and "javac" in err


def test_no_fork_classes_wired_only_into_a_local_jvm_being_launched(monkeypatch):
    monkeypatch.setattr(session, "local_fs_classes", lambda: "/cache/nofork.jar")
    monkeypatch.setattr(SparkContext, "_gateway", None)
    monkeypatch.delenv("PYSPARK_GATEWAY_PORT", raising=False)
    caller = {
        "spark.driver.extraClassPath": "/caller.jar",
        "spark.hadoop.fs.file.impl": "my.LocalFileSystem",
    }
    conf = session._with_local_fs("local[2]", caller)
    assert conf["spark.driver.extraClassPath"] == os.pathsep.join(
        ["/caller.jar", "/cache/nofork.jar"]
    )
    assert conf["spark.hadoop.fs.file.impl"] == "my.LocalFileSystem"
    assert conf["spark.hadoop.fs.AbstractFileSystem.file.impl"] == "crane.fs.NoForkLocalFs"
    assert session._with_local_fs("local", {})["spark.driver.extraClassPath"] == (
        "/cache/nofork.jar"
    )
    for master in (None, "spark://host:7077", "local-cluster[2,1,1024]", "yarn"):
        assert session._with_local_fs(master, caller) == caller
    monkeypatch.setattr(SparkContext, "_gateway", object())
    assert session._with_local_fs("local[2]", caller) == caller
