"""JVM start-up from a class-data-sharing archive. ``session.get_spark``
gives a local-mode JVM it launches a dynamic AppCDS archive: the first
launch for a class path dumps one at exit, and the archive is published by
a marker only after that JVM exited 0; later launches map it. The launch
confs, the conf-directory rule and the publish step are checked without a
JVM; one subprocess pair trains and then maps an archive in a temporary
cache."""

from __future__ import annotations

import fcntl
import glob
import io
import json
import os
import subprocess
import sys

import pytest
from pyspark import SparkContext

from crane_stream_processing_spark import session

JOPTS = "spark.driver.extraJavaOptions"
CP = "spark.driver.extraClassPath"
CALLER = {JOPTS: "-Djava.io.tmpdir=/caller/tmp", CP: "/caller.jar"}


@pytest.fixture
def launching(tmp_path, monkeypatch):
    """A process about to launch a local JVM, with its own cache root and
    a conf directory that holds only a template; returns that directory."""
    monkeypatch.setenv("XDG_CACHE_HOME", str(tmp_path / "cache"))
    monkeypatch.setattr(SparkContext, "_gateway", None)
    monkeypatch.delenv("PYSPARK_GATEWAY_PORT", raising=False)
    conf_dir = tmp_path / "conf"
    conf_dir.mkdir()
    (conf_dir / "spark-defaults.conf.template").write_text("spark.x 1\n")
    monkeypatch.setenv("SPARK_CONF_DIR", str(conf_dir))
    return str(conf_dir)


def _publish_fake_archive(class_path: str, size: int = 0) -> str:
    out = session._cds_dir(class_path)
    os.makedirs(out)
    archive = os.path.join(out, "train-7.jsa")
    with open(archive, "wb") as fh:
        fh.write(b"\0" * size)
    with open(os.path.join(out, "done-7"), "w") as fh:
        fh.write(str(size))
    return archive


def test_maps_a_published_archive_and_keeps_caller_options(launching):
    archive = _publish_fake_archive(CALLER[CP])
    with session._class_data_sharing("local[2]", CALLER) as conf:
        empty = os.environ["SPARK_CONF_DIR"]
        assert empty != launching and os.listdir(empty) == []
    assert conf[CP] == CALLER[CP]
    assert conf[JOPTS] == (
        f"-XX:SharedArchiveFile={archive} -Xlog:cds*=off {CALLER[JOPTS]}"
    )
    assert os.environ["SPARK_CONF_DIR"] == launching


def test_trains_without_an_archive_and_restores_an_unset_conf_dir(
    launching, monkeypatch
):
    monkeypatch.delenv("SPARK_CONF_DIR")
    monkeypatch.setattr(session, "_cds_conf_dir", lambda: "/cache/conf-empty")
    with session._class_data_sharing("local", {}) as conf:
        assert os.environ["SPARK_CONF_DIR"] == "/cache/conf-empty"
    out = session._cds_dir("")
    assert conf[JOPTS] == (
        f"-XX:ArchiveClassesAtExit={out}/train-{os.getpid()}.jsa -Xlog:cds*=off"
    )
    assert "SPARK_CONF_DIR" not in os.environ


@pytest.mark.parametrize("marker", ["16", "", "junk"])
def test_archive_whose_size_differs_from_its_marker_is_retrained(launching, marker):
    """JDK 17 dies with SIGBUS when it maps a truncated archive, so an
    archive is mapped only while its size is the one its marker holds; a
    truncated one (or a marker without a size) makes the launch train."""
    archive = _publish_fake_archive(CALLER[CP], size=16)
    assert session._published_archive(os.path.dirname(archive)) == archive
    if marker == "16":
        os.truncate(archive, 8)
    else:
        with open(os.path.join(os.path.dirname(archive), "done-7"), "w") as fh:
            fh.write(marker)
    assert session._published_archive(os.path.dirname(archive)) is None
    with session._class_data_sharing("local[2]", CALLER) as conf:
        pass
    training = os.path.join(os.path.dirname(archive), f"train-{os.getpid()}.jsa")
    assert conf[JOPTS].startswith(f"-XX:ArchiveClassesAtExit={training} ")


def test_one_trainer_at_a_time(launching):
    archive, _, lock = session._cds_plan(CALLER[CP])
    assert lock is not None and archive.endswith(f"train-{os.getpid()}.jsa")
    try:
        assert session._cds_plan(CALLER[CP]) is None  # launches plain
        with session._class_data_sharing("local[2]", CALLER) as conf:
            pass
        assert conf == CALLER
    finally:
        lock.close()
    with open(os.path.join(os.path.dirname(archive), "lock")) as fh:
        fcntl.flock(fh, fcntl.LOCK_EX | fcntl.LOCK_NB)  # released


def test_non_local_master_and_running_jvm_get_nothing(launching, monkeypatch):
    for master in (None, "spark://host:7077", "local-cluster[2,1,1024]", "yarn"):
        with session._class_data_sharing(master, CALLER) as conf:
            assert os.environ["SPARK_CONF_DIR"] == launching
        assert conf == CALLER
    monkeypatch.setenv("PYSPARK_GATEWAY_PORT", "1")
    with session._class_data_sharing("local[2]", CALLER) as conf:
        pass
    assert conf == CALLER
    monkeypatch.delenv("PYSPARK_GATEWAY_PORT")
    monkeypatch.setattr(SparkContext, "_gateway", object())
    with session._class_data_sharing("local[2]", CALLER) as conf:
        pass
    assert conf == CALLER
    assert not glob.glob(os.path.join(session._cache_root(), "cds-*"))


def test_conf_dir_with_a_real_file_keeps_cds_off(launching):
    _publish_fake_archive(CALLER[CP])
    with open(os.path.join(launching, "spark-defaults.conf"), "w") as fh:
        fh.write("spark.driver.memory 2g\n")
    with session._class_data_sharing("local[2]", CALLER) as conf:
        assert os.environ["SPARK_CONF_DIR"] == launching
    assert conf == CALLER


def test_non_empty_class_directory_keeps_cds_off(launching, tmp_path):
    classes = tmp_path / "classes"
    classes.mkdir()
    (classes / "A.class").write_bytes(b"")
    assert session._cds_dir(str(classes)) is None
    assert session._cds_dir(os.pathsep.join(["/caller.jar", str(tmp_path / "conf-x")]))


def test_key_follows_the_class_path(launching, tmp_path):
    jar = tmp_path / "caller.jar"
    jar.write_bytes(b"1")
    first = session._cds_dir(str(jar))
    assert session._cds_dir(str(jar)) == first
    jar.write_bytes(b"22")
    assert session._cds_dir(str(jar)) != first
    assert session._cds_dir(str(jar) + os.pathsep + "/other.jar") != first


class FakeJvm:
    """The part of ``subprocess.Popen`` the publish step uses."""

    def __init__(self, returncode: int | None):
        self.returncode = returncode
        self.stdin = io.StringIO()

    def poll(self):
        return self.returncode

    def wait(self, timeout=None):
        self.stdin_closed_first = self.stdin.closed
        self.returncode = 0
        return 0


def _trainer(out: str, pid: int, jvm: FakeJvm):
    os.makedirs(out, exist_ok=True)
    archive = os.path.join(out, f"train-{pid}.jsa")
    open(archive, "wb").close()
    return jvm, archive, open(os.path.join(out, "lock"), "a")


@pytest.mark.parametrize("returncode", [0, 1, -9])
def test_marker_only_after_exit_status_zero(tmp_path, monkeypatch, returncode):
    out = str(tmp_path / "cds-new")
    old = tmp_path / "cds-old"
    old.mkdir()
    stale = os.path.join(out, "train-5.jsa")
    stale_marker = os.path.join(out, "done-5")
    os.makedirs(out)
    open(stale, "wb").close()
    open(stale_marker, "w").close()
    trainer = _trainer(out, 6, FakeJvm(returncode))
    monkeypatch.setattr(session, "_CDS_TRAINER", trainer)
    session._publish_trained()
    assert session._CDS_TRAINER is None and trainer[2].closed
    published = returncode == 0
    assert os.path.exists(os.path.join(out, "done-6")) == published
    assert (session._published_archive(out) == trainer[1]) == published
    assert os.path.exists(stale) != published
    assert os.path.exists(stale_marker) != published
    assert old.exists() != published
    if published:
        with open(os.path.join(out, "done-6")) as fh:
            assert fh.read() == str(os.path.getsize(trainer[1]))


def test_running_trainer_is_published_only_after_it_exits(tmp_path, monkeypatch):
    out = str(tmp_path / "cds-k")
    jvm = FakeJvm(None)
    trainer = _trainer(out, 8, jvm)
    monkeypatch.setattr(session, "_CDS_TRAINER", trainer)
    session._publish_trained()  # the next launch: still running, kept
    assert session._CDS_TRAINER is trainer
    assert session._published_archive(out) is None
    os.remove(trainer[1])  # a dump that left no file publishes nothing
    session._exit_publish()  # exit: close stdin, wait, then check
    assert jvm.stdin_closed_first and session._CDS_TRAINER is None
    assert session._published_archive(out) is None
    trainer = _trainer(out, 9, FakeJvm(None))
    monkeypatch.setattr(session, "_CDS_TRAINER", trainer)
    session._exit_publish()
    assert session._published_archive(out) == trainer[1]


CHILD = r"""
import json, sys
sys.path.insert(0, sys.argv[1])
from crane_stream_processing_spark.session import cds_mode, get_spark
spark = get_spark("cds_test", master="local[1]", extra_conf=json.loads(sys.argv[2]))
runtime = spark._jvm.java.lang.management.ManagementFactory.getRuntimeMXBean()
spark.range(10).selectExpr("sum(id)").collect()
print(json.dumps({"mode": cds_mode(spark), "args": list(runtime.getInputArguments())}))
"""


def _child(cache: str, extra: dict) -> dict:
    env = dict(os.environ, XDG_CACHE_HOME=cache, SPARK_GRAFT_DRIVER_MEM="1g")
    env.pop("PYSPARK_GATEWAY_PORT", None)
    root = os.path.dirname(os.path.dirname(os.path.abspath(__file__)))
    proc = subprocess.run(
        [sys.executable, "-c", CHILD, root, json.dumps(extra)],
        capture_output=True, text=True, timeout=300, env=env,
    )
    assert proc.returncode == 0, proc.stderr[-2000:]
    lines = proc.stdout.splitlines()
    assert len(lines) == 1, proc.stdout[-2000:]  # no CDS line on stdout
    return json.loads(lines[0])


def test_first_launch_trains_and_the_next_maps(tmp_path):
    if session._cds_conf_dir() is None:
        pytest.skip("the Spark conf directory holds real files: no CDS")
    cache = str(tmp_path / "cache")
    first = _child(cache, {})
    assert first["mode"] == "train"
    (out,) = glob.glob(os.path.join(cache, "crane_stream_processing_spark", "cds-*"))
    markers = glob.glob(os.path.join(out, "done-*"))
    assert len(markers) == 1
    archive = os.path.join(out, "train-" + markers[0].rsplit("-", 1)[1] + ".jsa")
    assert os.path.getsize(archive) > 0
    log = tmp_path / "class-load.log"
    second = _child(cache, {JOPTS: f"-Xlog:class+load:file={log}"})
    assert second["mode"] == "map"
    assert f"-XX:SharedArchiveFile={archive}" in second["args"]
    loads = [l for l in log.read_text().splitlines() if " org.apache.spark.SparkContext " in l]
    assert loads and loads[0].endswith("source: shared objects file (top)")
