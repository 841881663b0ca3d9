"""SparkSession factory tuned for this engine.

The reference system ran on a fixed 10-VM topology with hand-assigned roles
(reference ``server/Crane.go:325-343``); here the "cluster" is whatever the
SparkSession is pointed at — local[N] for tests, a real cluster in prod.
All scale knobs live in one place so tests and bench share them.

Scale rationale (100 TB design):
- AQE on: runtime shuffle-partition coalescing + skew-join splitting means
  the static ``shuffle.partitions`` only needs to be an upper bound.
- ``autoBroadcastJoinThreshold`` left at default (10 MB): dimension tables
  (region/nation/supplier/part at any SF) broadcast automatically; fact-fact
  joins go sort-merge with AQE skew handling.
- Arrow enabled: every pandas_udf / applyInPandas path is Arrow-batched.
- Session timezone pinned UTC so timestamp semantics match the DuckDB oracle
  and are cluster-independent.
"""

from __future__ import annotations

import atexit
import fcntl
import glob
import hashlib
import os
import shutil
import subprocess
import sys
import tempfile
import zipfile
from collections.abc import Iterator, Mapping
from contextlib import contextmanager
from typing import IO

from pyspark.sql import DataFrame, SparkSession

__all__ = [
    "get_spark",
    "DEFAULT_SHUFFLE_PARTITIONS",
    "exclude_generate_filter_rule",
    "ensure_engine_confs",
    "clone_session",
    "scoped_confs",
    "cores",
    "small_state_width",
    "scan_splits",
    "spread",
    "local_fs_classes",
    "cds_mode",
]

DEFAULT_SHUFFLE_PARTITIONS = int(os.environ.get("SPARK_GRAFT_CPUS", "32"))

# InferFiltersFromGenerate adds a `size(e) > 0` pre-filter before every
# explode; pushdown then moves it below exchanges and CollapseProject
# inlines the generator's full expression tree into the filter. For cheap
# arrays that's a win, but for computed pipelines (tokens → shingles →
# explode) the inlined copy re-evaluates the whole pipeline per row — and
# higher-order lambdas get no CSE, so the filter alone cost ~50× the
# generate (measured: 13 s vs 0.3 s on the sf0.1 decontamination scan,
# single-partition because the filter also lands below the repartition).
# Excluding the rule is semantics-preserving (it only prunes rows the
# Generate would drop anyway).
_GENERATE_FILTER_RULE = (
    "org.apache.spark.sql.catalyst.optimizer.InferFiltersFromGenerate"
)


def exclude_generate_filter_rule(spark: SparkSession) -> None:
    """Append InferFiltersFromGenerate to the session's excluded optimizer
    rules (runtime-safe: works on sessions the engine didn't build)."""
    try:
        cur = spark.conf.get("spark.sql.optimizer.excludedRules")
    except Exception:
        cur = None
    if not cur:
        spark.conf.set("spark.sql.optimizer.excludedRules", _GENERATE_FILTER_RULE)
    elif _GENERATE_FILTER_RULE not in cur:
        spark.conf.set(
            "spark.sql.optimizer.excludedRules", f"{cur},{_GENERATE_FILTER_RULE}"
        )


# This module is the only writer of session confs, one mechanism per kind:
# - engine semantics confs, set on the caller's session by every registry
#   call (inventory.query), catalog read and clone (ensure_engine_confs);
# - planner confs that must still hold when the caller plans the returned
#   lazy frame, set on a memoized clone of the caller's session
#   (clone_session), so the caller's conf never changes;
# - confs read only while a builder runs (stream starts, iterative loops),
#   set on the caller's session and restored on exit (scoped_confs).


def ensure_engine_confs(spark: SparkSession) -> None:
    """Self-set the confs the engine's semantics depend on, runtime-safe
    on sessions the engine didn't build (the driver's own session):

    - UTC timestamp semantics — oracle-comparable, cluster-independent
      rendering/windowing/literal-casting of TIMESTAMP values;
    - ``nanosAsLong``: events.ts may be stored as TIMESTAMP(NANOS), which
      Spark cannot scan without it (harmless for MICROS files);
    - the InferFiltersFromGenerate exclusion (see above)."""
    spark.conf.set("spark.sql.session.timeZone", "UTC")
    spark.conf.set("spark.sql.legacy.parquet.nanosAsLong", "true")
    exclude_generate_filter_rule(spark)


# Clone sessions carry live-session state (confs, catalog): not artifacts.
_ISOLATED_SESSIONS: dict[tuple[int, str], SparkSession] = {}

# Runtime knobs a clone copies from its caller, so the clone's plans keep
# the caller's parallelism and replanning behaviour.
_CARRIED_CONFS = ("spark.sql.shuffle.partitions", "spark.sql.adaptive.enabled")


def clone_session(
    spark: SparkSession, purpose: str, confs: Mapping[str, str]
) -> SparkSession:
    """A clone of ``spark`` (same SparkContext, catalog and cache, its own
    SQLConf) with ``confs`` set, for a query whose planner confs must
    still hold when the caller plans the returned lazy frame, and must
    never be seen by the caller or by queries planned concurrently on its
    session. A clone copies only builder-time confs, so the caller's
    shuffle width and AQE switch are carried over and the engine
    semantics confs are set on it directly.

    Memoized per (SparkContext, purpose): a fresh JVM session per call
    would accumulate SQLConf, listener and temp-view state without bound
    in a long-lived process. Distinct purposes get distinct clones, so
    one query's confs never shape another's plan; every call re-applies
    the carried knobs and the purpose's full ``confs``, so reuse is
    conf-deterministic."""
    sc = spark.sparkContext
    key = (id(sc), purpose)
    iso = _ISOLATED_SESSIONS.get(key)
    if iso is None or iso.sparkContext is not sc:
        iso = spark.newSession()
        _ISOLATED_SESSIONS[key] = iso
    carried = {k: spark.conf.get(k) for k in _CARRIED_CONFS}
    for k, v in {**carried, **confs}.items():
        iso.conf.set(k, v)
    ensure_engine_confs(iso)
    return iso


@contextmanager
def scoped_confs(spark: SparkSession, confs: Mapping[str, str]) -> Iterator[None]:
    """Set ``confs`` on ``spark`` for the body only, for confs read while
    the body runs (a stream's start, an iterative loop's actions). On
    exit each key gets its old value back, or is unset if it had none."""
    prev = {k: spark.conf.get(k, None) for k in confs}
    for k, v in confs.items():
        spark.conf.set(k, v)
    try:
        yield
    finally:
        for k, v in prev.items():
            if v is None:
                spark.conf.unset(k)
            else:
                spark.conf.set(k, v)


# Partition widths. Every width the engine picks for row-local fan-out,
# recursion and iteration comes from the four functions below; the static
# ``shuffle.partitions`` (get_spark), a drain's measured ``parts`` and
# SPARK_GRAFT_STREAM_PARTITIONS are the only other inputs.


def cores(spark: SparkSession) -> int:
    """The session's core count (``defaultParallelism``): the width that
    keeps every core busy on row-local work."""
    return spark.sparkContext.defaultParallelism


def small_state_width(spark: SparkSession) -> int:
    """The width of a shuffle over small state: a drain's state store, a
    recursion frontier, a label-propagation graph. Each partition costs a
    fixed task (and state-store commit) per step whatever it holds, so at
    this size four beat eight (all nine sf0.1 streaming queries: 27.0 s at
    8, 17.1 s at 4); fewer cores cap it."""
    return min(4, cores(spark))


def scan_splits(df: DataFrame, sf_dir: str | None = None, path: str | None = None) -> int:
    """The number of splits ``df`` scans as, without running a job. With
    ``path`` (the parquet file or directory ``df`` reads) the probe is an
    artifact keyed on its realpath and the core count (Spark sizes splits
    by both), so it runs once per layout and again after a catalog table
    under ``sf_dir`` is rewritten. Without ``path`` (a micro-batch) it
    runs on every call."""
    if path is None:
        return df.rdd.getNumPartitions()
    from .inventory import artifact

    key = (os.path.realpath(path), cores(df.sparkSession))
    return artifact("crane_scan_splits", sf_dir, lambda: scan_splits(df), *key, directory=False)


def spread(df: DataFrame, sf_dir: str | None = None, path: str | None = None) -> DataFrame:
    """``df`` fanned out to the session's cores before CPU-heavy row-local
    work (hashing, dot folds, decoding). A small parquet file scans as one
    split, because parquet cannot split inside a row group, so without
    this the heavy stage runs on one core. A batch frame is repartitioned
    only when ``scan_splits(df, sf_dir, path)`` is below the core count:
    at scale the scan is already wider and this adds no shuffle. A
    streaming frame has no split count before its batch, so it is always
    repartitioned."""
    n = cores(df.sparkSession)
    if df.isStreaming or scan_splits(df, sf_dir, path) < n:
        return df.repartition(n)
    return df


_WAREHOUSE_DIR: str | None = None


def _process_warehouse() -> str:
    """One tempdir per process, created lazily and removed at interpreter
    exit — repeated get_spark() calls must not each mint (and orphan) a
    directory the already-created session will never use."""
    global _WAREHOUSE_DIR
    if _WAREHOUSE_DIR is None:
        _WAREHOUSE_DIR = tempfile.mkdtemp(prefix="crane_warehouse_")
        atexit.register(shutil.rmtree, _WAREHOUSE_DIR, ignore_errors=True)
    return _WAREHOUSE_DIR


def _cache_root() -> str:
    """``$XDG_CACHE_HOME`` (default ``~/.cache``)``/crane_stream_processing_spark``:
    build products that outlive a run. Not under TMPDIR, so a run that
    deletes its TMPDIR does not pay for them again."""
    cache = os.environ.get("XDG_CACHE_HOME") or os.path.expanduser("~/.cache")
    return os.path.join(cache, "crane_stream_processing_spark")


# Without the native Hadoop library, Hadoop's `file:` filesystem forks a
# process in two calls: `chmod` in setPermission (every create and mkdir)
# and `readlink` in getFileLinkStatus (every FileContext rename, so every
# checkpoint commit), ~330 forks per streaming drain. The classes in
# jvm/crane/fs answer both through java.nio. They must be on the JVM's
# class path at launch, and only a local-mode JVM runs the executors too.
_LOCAL_FS_SOURCES = os.path.join(
    os.path.dirname(os.path.abspath(__file__)), "jvm", "crane", "fs"
)
_LOCAL_FS_CONF = {
    "spark.hadoop.fs.file.impl": "crane.fs.NoForkLocalFileSystem",
    "spark.hadoop.fs.AbstractFileSystem.file.impl": "crane.fs.NoForkLocalFs",
}


def local_fs_classes() -> str | None:
    """A jar of the no-fork `file:` filesystem, compiled on first use
    into ``<cache root>/nofork-jar-<sha256 of the sources>/nofork.jar``.
    It is a jar, not the class directory, because class-data sharing
    refuses a class path with a non-empty directory in it. An flock
    serializes concurrent builds and a marker written after the jar is
    complete publishes it. When javac is missing or fails, prints one
    line on stderr and returns None."""
    sources = sorted(glob.glob(os.path.join(_LOCAL_FS_SOURCES, "*.java")))
    digest = hashlib.sha256()
    for path in sources:
        with open(path, "rb") as fh:
            digest.update(os.path.basename(path).encode() + b"\0" + fh.read())
    out = os.path.join(_cache_root(), f"nofork-jar-{digest.hexdigest()}")
    jar, done = os.path.join(out, "nofork.jar"), os.path.join(out, "done")
    try:
        if not os.path.exists(done):
            os.makedirs(out, exist_ok=True)
            with open(os.path.join(out, "lock"), "a") as lock:
                fcntl.flock(lock, fcntl.LOCK_EX)
                if not os.path.exists(done):
                    classes = os.path.join(out, "classes")
                    _javac(sources, classes)
                    with zipfile.ZipFile(jar, "w") as zf:
                        for dirpath, _, names in sorted(os.walk(classes)):
                            for name in sorted(names):
                                path = os.path.join(dirpath, name)
                                zf.write(path, os.path.relpath(path, classes))
                    open(done, "w").close()
    except (OSError, RuntimeError) as e:
        print(
            f"crane_stream_processing_spark: {e}; "
            "using Hadoop's stock file: filesystem",
            file=sys.stderr,
        )
        return None
    return jar


def _javac(sources: list[str], classes: str) -> None:
    """Compile ``sources`` into ``classes`` against the jars of the Spark
    that PySpark launches."""
    from pyspark.find_spark_home import _find_spark_home

    javac = shutil.which("javac")
    if javac is None:
        raise RuntimeError("javac not found")
    shutil.rmtree(classes, ignore_errors=True)  # a killed compile's leftovers
    jars = os.path.join(_find_spark_home(), "jars", "*")
    proc = subprocess.run(
        [javac, "--release", "17", "-nowarn", "-d", classes, "-cp", jars, *sources],
        capture_output=True,
        text=True,
    )
    if proc.returncode != 0:
        first = (proc.stderr.strip().splitlines() or ["no output"])[0]
        raise RuntimeError(f"javac failed ({first})")


def _launches_local_jvm(master: str | None) -> bool:
    """Whether building a session on ``master`` makes this process launch
    a local-mode JVM, so launch-time settings (class path, JVM flags) apply
    to the driver and its executors alike: not on another master (its
    executors would not get them), and not when a JVM already runs."""
    from pyspark import SparkContext

    local = master is not None and (master == "local" or master.startswith("local["))
    launched = SparkContext._gateway is not None or "PYSPARK_GATEWAY_PORT" in os.environ
    return local and not launched


def _with_local_fs(master: str | None, extra_conf: Mapping[str, str]) -> dict[str, str]:
    """``extra_conf`` plus the confs that make a local-mode JVM this
    process is about to launch use the no-fork `file:` filesystem. The
    jar joins any caller ``spark.driver.extraClassPath``, and a caller
    ``fs.*.impl`` wins. Unchanged unless ``_launches_local_jvm``, or when
    the jar cannot be built."""
    conf = dict(extra_conf)
    if not _launches_local_jvm(master):
        return conf
    jar = local_fs_classes()
    if jar is None:
        return conf
    key = "spark.driver.extraClassPath"
    class_path = os.pathsep.join(p for p in (conf.get(key), jar) if p)
    return {**_LOCAL_FS_CONF, **conf, key: class_path}


# JDK class-data sharing. A Spark JVM loads and verifies ~18,000 classes
# from $SPARK_HOME/jars at start-up. The first local JVM launched for a
# class path dumps the classes it loaded into a dynamic AppCDS archive at
# exit (-XX:ArchiveClassesAtExit); later launches map them pre-parsed and
# pre-verified (-XX:SharedArchiveFile), ~1.2 s less start-up. JDK 17
# crashes with SIGBUS mapping a truncated archive, so the archive is
# published by a done-<pid> marker only once its JVM has exited 0 with
# the file present (a failed dump exits 1), and only a published archive
# is mapped. CDS warns on the JVM's stdout ("Skipping ...: Signed JAR",
# "Unable to use shared archive" for a stale one), which would break the
# one-line stdout of bench.py, so its log tags are switched off; a stale
# or mismatched archive degrades to a normal start.
_CDS_QUIET = "-Xlog:cds*=off"
# (launched JVM, archive it dumps at exit, held training lock) of this
# process's training launch until it is published or given up.
_CDS_TRAINER: tuple[subprocess.Popen, str, IO[str]] | None = None


def _cds_dir(class_path: str) -> str | None:
    """``<cache root>/cds-<key>``, the archive directory for a launch on
    ``class_path`` (``spark.driver.extraClassPath``); the key is a sha256
    over the java binary (realpath and stat), the name, size and mtime of
    each jar in ``$SPARK_HOME/jars``, and each class-path entry with its
    size and mtime. None when CDS cannot work for this class path: JDK 17
    refuses to dump or map an archive with a non-empty directory on the
    class path before the last entry it used."""
    from pyspark.find_spark_home import _find_spark_home

    java_home = os.environ.get("JAVA_HOME")  # what bin/spark-class runs
    java = os.path.join(java_home, "bin", "java") if java_home else shutil.which("java")
    if java is None:
        return None
    java = os.path.realpath(java)
    st = os.stat(java)
    digest = hashlib.sha256(f"{java}\0{st.st_size}\0{st.st_mtime_ns}\0{st.st_ino}".encode())
    entries = [p for p in class_path.split(os.pathsep) if p]
    if any(os.path.isdir(p) and os.listdir(p) for p in entries):
        return None
    jars = os.path.join(_find_spark_home(), "jars")
    for entry in [os.path.join(jars, n) for n in sorted(os.listdir(jars))] + entries:
        try:
            st = os.stat(entry)
            digest.update(f"\0{entry}\0{st.st_size}\0{st.st_mtime_ns}".encode())
        except OSError:
            digest.update(f"\0{entry}\0-".encode())
    return os.path.join(_cache_root(), f"cds-{digest.hexdigest()}")


def _cds_conf_dir() -> str | None:
    """The ``SPARK_CONF_DIR`` a CDS launch uses, or None to skip CDS.
    The launcher puts the conf directory on the class path ahead of the
    jars. When it holds only ``*.template`` files (Spark reads none of
    them) the launch points at an empty directory the engine owns; a
    conf directory with any real file in it keeps CDS off."""
    from pyspark.find_spark_home import _find_spark_home

    conf_dir = os.environ.get("SPARK_CONF_DIR") or os.path.join(_find_spark_home(), "conf")
    try:
        names = os.listdir(conf_dir)
    except FileNotFoundError:
        names = []
    if any(not n.endswith(".template") for n in names):
        return None
    empty = os.path.join(_cache_root(), "conf-empty")
    os.makedirs(empty, exist_ok=True)
    return empty


def _published_archive(out: str) -> str | None:
    """The archive in ``out`` whose done-<pid> marker is published and
    holds its byte size. A truncated archive kills JDK 17 with SIGBUS when
    it is mapped, so one whose size differs is not returned, and the next
    launch trains again."""
    for marker in sorted(glob.glob(os.path.join(out, "done-*"))):
        archive = os.path.join(out, f"train-{marker.rsplit('-', 1)[1]}.jsa")
        try:
            with open(marker) as fh:
                if int(fh.read()) == os.path.getsize(archive):
                    return archive
        except (OSError, ValueError):
            continue
    return None


def _publish_trained(wait_s: float = 0) -> None:
    """Publish the archive of this process's training JVM once that JVM
    has exited 0 and the file exists: write its byte size into its
    done-<pid> marker and delete the other archives, markers and
    ``cds-*`` directories (a JVM that maps one keeps it after the
    unlink). A JVM still running is waited for up to ``wait_s`` after
    closing its stdin, PySpark's shutdown path. The training lock is
    released once the outcome is known."""
    global _CDS_TRAINER
    if _CDS_TRAINER is None:
        return
    proc, archive, lock = _CDS_TRAINER
    if proc.poll() is None:
        if not wait_s:
            return
        try:
            proc.stdin.close()
            proc.wait(wait_s)
        except (OSError, subprocess.TimeoutExpired):
            return
    _CDS_TRAINER = None
    out = os.path.dirname(archive)
    try:
        if proc.returncode == 0 and os.path.isfile(archive):
            pid = os.path.basename(archive)[len("train-") : -len(".jsa")]
            marker = os.path.join(out, f"done-{pid}")
            with open(marker, "w") as fh:
                fh.write(str(os.path.getsize(archive)))
            for path in glob.glob(os.path.join(out, "*-*")):  # train-*.jsa, done-*
                if path not in (archive, marker):
                    os.unlink(path)
            for path in glob.glob(os.path.join(os.path.dirname(out), "cds-*")):
                if path != out:
                    shutil.rmtree(path, ignore_errors=True)
    except OSError:
        pass  # unpublished: a later launch trains again
    finally:
        lock.close()


@atexit.register
def _exit_publish() -> None:
    """At exit, give a training JVM 30 s to finish its dump."""
    _publish_trained(wait_s=30)


def _cds_plan(class_path: str) -> tuple[str, str, IO[str] | None] | None:
    """(archive, conf directory, training lock) for a launch on
    ``class_path``: the published archive to map and no lock, or, when
    none is published, the archive this process's JVM dumps at exit and
    the non-blocking flock that makes it the one trainer. None when CDS
    is off for this launch or another process holds the lock."""
    conf_dir = _cds_conf_dir()
    out = _cds_dir(class_path) if conf_dir else None
    if out is None:
        return None
    archive = _published_archive(out)
    if archive is not None:
        return archive, conf_dir, None
    os.makedirs(out, exist_ok=True)
    lock = open(os.path.join(out, "lock"), "a")
    try:
        fcntl.flock(lock, fcntl.LOCK_EX | fcntl.LOCK_NB)
    except OSError:  # another process is training
        lock.close()
        return None
    archive = _published_archive(out)  # published since the first look
    if archive is not None:
        lock.close()
        return archive, conf_dir, None
    return os.path.join(out, f"train-{os.getpid()}.jsa"), conf_dir, lock


@contextmanager
def _class_data_sharing(master: str | None, conf: Mapping[str, str]) -> Iterator[dict[str, str]]:
    """``conf`` for the body's ``getOrCreate``, with the ``_cds_plan``
    flag ahead of any caller ``spark.driver.extraJavaOptions``, and
    ``SPARK_CONF_DIR`` pointing at the empty conf directory during the
    body only. A training launch's JVM is kept for ``_publish_trained``
    (at the next launch and at exit). Unchanged unless
    ``_launches_local_jvm``."""
    global _CDS_TRAINER
    _publish_trained()
    conf = dict(conf)
    plan = None
    if _launches_local_jvm(master):
        try:
            plan = _cds_plan(conf.get("spark.driver.extraClassPath", ""))
        except OSError:
            plan = None
    if plan is None:
        yield conf
        return
    archive, conf_dir, lock = plan
    flag = f"-XX:{'SharedArchiveFile' if lock is None else 'ArchiveClassesAtExit'}={archive}"
    key = "spark.driver.extraJavaOptions"
    conf[key] = " ".join(p for p in (flag, _CDS_QUIET, conf.get(key)) if p)
    prev = os.environ.get("SPARK_CONF_DIR")
    os.environ["SPARK_CONF_DIR"] = conf_dir
    try:
        yield conf
    except BaseException:
        if lock is not None:
            lock.close()
        raise
    finally:
        if prev is None:
            os.environ.pop("SPARK_CONF_DIR", None)
        else:
            os.environ["SPARK_CONF_DIR"] = prev
    if lock is not None:
        from pyspark import SparkContext

        proc = getattr(SparkContext._gateway, "proc", None)
        if proc is None:
            lock.close()
            return
        _CDS_TRAINER = (proc, archive, lock)


def cds_mode(spark: SparkSession) -> str | None:
    """How the session's JVM uses class-data sharing: ``"map"`` when it
    was launched with an archive, ``"train"`` when it dumps one at exit,
    None otherwise."""
    runtime = spark.sparkContext._jvm.java.lang.management.ManagementFactory.getRuntimeMXBean()
    for arg in runtime.getInputArguments():
        if arg.startswith("-XX:SharedArchiveFile="):
            return "map"
        if arg.startswith("-XX:ArchiveClassesAtExit="):
            return "train"
    return None


def get_spark(
    app_name: str = "crane_stream_processing_spark",
    master: str | None = None,
    shuffle_partitions: int | None = None,
    extra_conf: dict[str, str] | None = None,
) -> SparkSession:
    """Build (or reuse) a SparkSession with the engine's standard config.

    ``master`` defaults to ``local[$SPARK_GRAFT_CPUS]`` when not already set
    by the environment; on a real cluster pass ``master=None`` and submit
    via spark-submit so the cluster manager decides.

    A local-mode session this call launches uses the no-fork `file:`
    filesystem (``local_fs_classes``) and starts from a class-data-sharing
    archive (``_class_data_sharing``); any other gets Hadoop's own
    filesystem and a stock JVM.
    """
    cpus = os.environ.get("SPARK_GRAFT_CPUS", "32")
    if master is None:
        # Under a cluster manager the master is already decided before
        # Python runs: spark-submit pre-launches the JVM and hands Python
        # a gateway (PYSPARK_GATEWAY_PORT) — it never sets
        # PYSPARK_SUBMIT_ARGS (that var is only consumed when Python
        # launches the JVM itself). Forcing .master() in either case
        # would silently override yarn/k8s and run the whole job local on
        # the driver node. Default to local[N] only when this process
        # owns the JVM launch and no submit-time master exists.
        submit_args = os.environ.get("PYSPARK_SUBMIT_ARGS", "")
        jvm_prelaunched = "PYSPARK_GATEWAY_PORT" in os.environ
        if "--master" not in submit_args and not jvm_prelaunched:
            master = f"local[{cpus}]"
    if shuffle_partitions is None:
        shuffle_partitions = DEFAULT_SHUFFLE_PARTITIONS

    builder = SparkSession.builder.appName(app_name)
    if master is not None:
        builder = builder.master(master)
    builder = (
        builder
        .config("spark.sql.shuffle.partitions", str(shuffle_partitions))
        .config("spark.sql.adaptive.enabled", "true")
        .config("spark.sql.adaptive.coalescePartitions.enabled", "true")
        .config("spark.sql.adaptive.skewJoin.enabled", "true")
        .config("spark.sql.session.timeZone", "UTC")
        # events.parquet stores TIMESTAMP(NANOS); Spark has no nanos type, so
        # read as long and let the catalog convert (integer div — no double
        # precision loss; see catalog.load_table).
        .config("spark.sql.legacy.parquet.nanosAsLong", "true")
        .config("spark.sql.execution.arrow.pyspark.enabled", "true")
        .config("spark.sql.optimizer.excludedRules", _GENERATE_FILTER_RULE)
        # row_number()<=k filters rewrite to map-side WindowGroupLimit
        # (per-group top-k heap before the shuffle) only when k is under
        # this threshold; the token-budget fill cuts at k=2000, above the
        # 1000 default. Memory is bounded by k rows per group per task.
        .config("spark.sql.optimizer.windowGroupLimitThreshold", "100000")
        # Generated whole-stage and expression classes live in one JVM-wide
        # LRU cache (CodeGenerator.cache) of this many entries; Spark's
        # default is 100. A pass over the whole registry compiles 2,953
        # distinct classes at sf0.01 and 2,950 at sf0.1, and the 12-query
        # perfbench mix ~240, so at 100 a mixed workload evicts its own
        # code and recompiles nearly all of it on every pass. 8192 holds
        # the working set with ~2.8x headroom: a warm full-registry pass
        # compiles 67 classes instead of 3,670, for ~20 MB more metaspace
        # (244 vs 224 MB). Static conf: it takes effect only when this
        # factory starts the JVM, not on a session the engine didn't build.
        .config("spark.sql.codegen.cache.maxEntries", "8192")
        # That cache is keyed by the generated source, and by default the
        # class name carries the whole-stage codegen stage id, which AQE
        # assigns in the order query stages finish. A query whose stages
        # race (text_bm25_search's two broadcasts) then alternates between
        # two sources for the same code and recompiles on a warm pass when
        # it draws the variant not yet seen. Without the id in the name,
        # equal pipelines share one class; stack traces name the class
        # GeneratedIterator instead of GeneratedIteratorForCodegenStage<N>.
        .config("spark.sql.codegen.useIdInClassName", "false")
        .config("spark.ui.enabled", "false")
        .config("spark.driver.memory", os.environ.get("SPARK_GRAFT_DRIVER_MEM", "8g"))
        # Per-process warehouse: the default ./spark-warehouse is shared by
        # every process launched from the repo root, so concurrent test /
        # bench runs clobber each other's managed tables (the bucketed-join
        # fixture drops + rewrites its tables on miss). Static conf — takes
        # effect only when this factory creates the first session; the
        # bucketed fixture reads the conf dynamically, so sessions the
        # engine didn't build still work on their own warehouse.
        .config("spark.sql.warehouse.dir", _process_warehouse())
    )
    with _class_data_sharing(master, _with_local_fs(master, extra_conf or {})) as conf:
        for k, v in conf.items():
            builder = builder.config(k, v)
        spark = builder.getOrCreate()
    spark.sparkContext.setLogLevel("WARN")
    # ResolveWriteToStream warns once per streaming query start that
    # session-wide AQE is disabled for the stream (and that a temporary
    # checkpoint was created); both are analysis-time notices, so only
    # errors from that class reach the log. AQE itself is untouched.
    # MapPartitionsRDD warns on every unpersist of a localCheckpointed
    # RDD that it cannot be recomputed; release_query_caches drops those
    # on purpose after each query. In a full registry pass that is the
    # only WARN this logger prints.
    jvm = spark.sparkContext._jvm
    for logger in (
        "org.apache.spark.sql.execution.streaming.runtime.ResolveWriteToStream",
        "org.apache.spark.rdd.MapPartitionsRDD",
    ):
        jvm.org.apache.logging.log4j.core.config.Configurator.setLevel(
            logger, jvm.org.apache.logging.log4j.Level.ERROR
        )
    return spark
