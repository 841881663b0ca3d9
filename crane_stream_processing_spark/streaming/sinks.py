"""Versioned parquet sink — SDFS's versioned blob store re-expressed
(SURVEY.md §2.1 S5-S8).

The reference stores each ``put`` as a new timestamped version of a named
file and serves ``get`` (latest) / ``get-versions N`` (N newest,
concatenated) from replicas (reference ``server/sdfs.go:276-283``,
``:296-329``); its streaming sink writes the current top-k as a new version
every 10 s (``server/Crane.go:193-204``). Here a *name* is a directory of
``v=<version>/`` parquet subdirs plus a ``_manifest/`` of commit markers:

    <base>/<name>/v=00000000000000000042/part-*.parquet
    <base>/<name>/_manifest/00000000000000000042.json

The marker is written only after the parquet commit succeeds, so readers
never see a half-written version (the reference got the same property from
waiting on all 4 replica acks, ``server/sdfs.go:32-52``). Replication is
the storage layer's job (HDFS/S3), exactly as SURVEY.md §3.2 prescribes.
Re-WRITES of an existing version (a foreachBatch retry after a crash
between parquet commit and checkpoint offset) retract the marker first,
so readers resolve the previous version for the duration of the rewrite
— the marker-after-data invariant holds on every attempt, not only the
first.

Manifest/ledger I/O is filesystem-portable: local paths use plain
``os``/``open``; any URI-scheme path (``hdfs://``, ``s3a://`` …) routes
through the JVM Hadoop ``FileSystem`` of the active SparkSession — the
same connector the parquet writes use — so the store works unchanged on
shared storage (marker rename is atomic on HDFS; on S3A the destination
object appears only once fully copied, which preserves the
reader-visible invariant for these single-writer markers).

The same store is the one publish mechanism for other streaming state:
the bottom-k sampler's sample (``streaming.sampling``) and the IVM
maintainer's compacted base generations (``streaming.ivm``) are versions
of a name here, so ``store`` / ``ls`` list them like any sink output.

Scale: each version is a normal partitioned parquet write — the sink
inherits Spark's parallel write path; readers prune to the selected
versions only (directory-level pruning, no full-listing scans).
"""

from __future__ import annotations

import json
import os
import time

from pyspark.sql import DataFrame, SparkSession


def _is_remote(path: str) -> bool:
    # Any URI scheme (hdfs://, s3a://, and file:// alike) goes through the
    # Hadoop FileSystem — file:// exercises the exact same JVM code path
    # locally, which is how the shim is tested. Plain paths use os.
    return "://" in path


class _HadoopFS:
    """Minimal manifest-file operations over the JVM Hadoop FileSystem —
    the portability shim for URI-scheme store roots. Local stores never
    construct this (plain os calls, no session needed)."""

    def __init__(self, base: str):
        spark = SparkSession.getActiveSession()
        if spark is None:
            raise RuntimeError(
                f"store root {base!r} is a filesystem URI; an active "
                "SparkSession is required to reach its Hadoop connector"
            )
        self._jvm = spark._jvm
        self._conf = spark._jsc.hadoopConfiguration()
        self._fs = self._path(base).getFileSystem(self._conf)

    def _path(self, p: str):
        return self._jvm.org.apache.hadoop.fs.Path(p)

    def exists(self, p: str) -> bool:
        return self._fs.exists(self._path(p))

    def listdir(self, d: str) -> list[str]:
        p = self._path(d)
        if not self._fs.exists(p):
            return []
        return [s.getPath().getName() for s in self._fs.listStatus(p)]

    def is_dir(self, d: str) -> bool:
        p = self._path(d)
        return self._fs.exists(p) and self._fs.getFileStatus(p).isDirectory()

    def write_atomic(self, p: str, text: str) -> None:
        tmp = self._path(p + ".tmp")
        out = self._fs.create(tmp, True)
        try:
            out.write(bytearray(text.encode("utf-8")))
        finally:
            out.close()
        dest = self._path(p)
        # HDFS signals several failure modes by RETURNING false from
        # delete/rename rather than throwing — a swallowed false here would
        # silently lose a commit marker (version written, never visible).
        if self._fs.exists(dest) and not self._fs.delete(dest, False):
            raise IOError(f"delete of existing {p!r} returned false")
        if not self._fs.rename(tmp, dest):
            raise IOError(f"atomic rename {p + '.tmp'!r} -> {p!r} returned false")

    def remove(self, p: str) -> None:
        self._fs.delete(self._path(p), False)

    def rmtree(self, d: str) -> None:
        self._fs.delete(self._path(d), True)


class _LocalFS:
    """Same operations over the driver-local filesystem."""

    def exists(self, p: str) -> bool:
        return os.path.exists(p)

    def listdir(self, d: str) -> list[str]:
        return os.listdir(d) if os.path.isdir(d) else []

    def is_dir(self, d: str) -> bool:
        return os.path.isdir(d)

    def write_atomic(self, p: str, text: str) -> None:
        os.makedirs(os.path.dirname(p), exist_ok=True)
        tmp = p + ".tmp"
        with open(tmp, "w") as f:
            f.write(text)
        os.replace(tmp, p)

    def remove(self, p: str) -> None:
        if os.path.exists(p):
            os.remove(p)

    def rmtree(self, d: str) -> None:
        import shutil

        shutil.rmtree(d, ignore_errors=True)


def _fs(base_dir: str):
    return _HadoopFS(base_dir) if _is_remote(base_dir) else _LocalFS()


def _join(base: str, *parts: str) -> str:
    # URI-safe join: os.path.join would mangle scheme slashes on Windows
    # and is semantically wrong for object-store keys.
    return "/".join([base.rstrip("/"), *parts])

__all__ = [
    "VersionedSink",
    "MergeSink",
    "list_versions",
    "read_latest",
    "read_version",
    "read_versions",
    "expire_versions",
    "compact_latest",
    "delete_name",
    "store_names",
    "version_dir",
]


def version_dir(base_dir: str, name: str, version: int) -> str:
    """The data directory of one version (committed or not)."""
    return _join(base_dir, name, f"v={version:020d}")


def _manifest_dir(base_dir: str, name: str) -> str:
    return _join(base_dir, name, "_manifest")


class VersionedSink:
    """foreachBatch-compatible versioned writer.

    Use either as ``writeStream.foreachBatch(sink)`` (batch_id becomes the
    version) or call :meth:`write_version` directly from batch code.
    """

    def __init__(self, base_dir: str, name: str):
        self.base_dir = base_dir
        self.name = name

    def __call__(self, df: DataFrame, batch_id: int) -> None:
        self.write_version(df, batch_id)

    def write_version(self, df: DataFrame, version: int) -> None:
        fs = _fs(self.base_dir)
        path = version_dir(self.base_dir, self.name, version)
        mpath = _join(
            _manifest_dir(self.base_dir, self.name), f"{version:020d}.json"
        )
        # Rewriting an already-committed version (foreachBatch retry after
        # a crash between parquet commit and checkpoint offset): retract
        # the marker FIRST so readers resolve the previous version while
        # the directory is being overwritten — otherwise a concurrent
        # read_latest can open the version mid-rewrite.
        if fs.exists(mpath):
            fs.remove(mpath)
        df.write.mode("overwrite").parquet(path)
        marker = {
            "version": version,
            "path": path,
            "committed_at": time.time(),
            "n_columns": len(df.columns),
        }
        fs.write_atomic(mpath, json.dumps(marker))  # atomic commit marker

    def write_next(self, df: DataFrame) -> int:
        """Write ``df`` as version newest+1 (0 for a new name) and return
        that version id. Single writer per name: the id is allocated from
        the committed markers, so a crash before the marker leaves the
        same id to the retry, which overwrites its own uncommitted data."""
        versions = list_versions(self.base_dir, self.name)
        version = (versions[0] + 1) if versions else 0
        self.write_version(df, version)
        return version


class MergeSink(VersionedSink):
    """Keyed UPSERT sink (MERGE INTO semantics) over the versioned store —
    the sink-side half of the reference's aggregate commit: the joiner
    folds each committed micro-batch's staged cache into its running
    ``result`` map keyed by word (reference ``server/wordCount.go:33-43``
    ``mergeCache``; commit dispatch ``server/failure-detector.go:139-142``).
    Here each micro-batch MERGEs into the latest snapshot: matched keys are
    replaced by the batch row (last-writer-wins), unmatched keys are
    inserted, and the merged snapshot commits as a NEW version — readers
    time-travel across merge states exactly like SDFS versions.

    Exactly-once: committed foreachBatch ``batch_id``s are recorded in a
    ``_batches/`` ledger SEPARATE from the version-id sequence; a retry of
    an already-committed batch is a no-op, so sink-side duplicates are
    impossible — the property the reference's at-least-once acker could
    not give (SURVEY.md §2.9 ST1). The version id is allocated as
    max(existing)+1, NOT the batch id: versions and batch ids share no
    number line, so an interleaved :func:`compact_latest` (which also
    allocates max+1) can never collide with a future batch and shadow its
    merge. If a crash lands between the version commit and the batch
    marker, the retry re-merges the same batch — content-idempotent, since
    the anti-join replaces the batch's keys with identical rows.

    Scale: each merge rewrites the snapshot (read latest + anti-join +
    union) — O(|snapshot|) per batch, fine while snapshots are aggregate-
    sized (top-k, per-key rollups). For fact-sized snapshots swap the
    store for a format with file-level MERGE (Delta/Iceberg); the sink's
    contract — idempotent keyed upsert per micro-batch — is unchanged."""

    def __init__(self, base_dir: str, name: str, keys: list[str]):
        super().__init__(base_dir, name)
        if not keys:
            raise ValueError("MergeSink needs at least one key column")
        self.keys = list(keys)

    def __call__(self, df: DataFrame, batch_id: int) -> None:
        self.merge_version(df, batch_id)

    def _batch_ledger_dir(self) -> str:
        return _join(self.base_dir, self.name, "_batches")

    def _batch_marker(self, batch_id: int) -> str:
        return _join(self._batch_ledger_dir(), f"{batch_id:020d}.json")

    def merge_version(self, batch_df: DataFrame, batch_id: int) -> None:
        from pyspark.sql import functions as F

        fs = _fs(self.base_dir)
        if fs.exists(self._batch_marker(batch_id)):
            return  # retried batch: already committed, idempotent no-op
        spark = batch_df.sparkSession
        # Deterministic winner per key — NOT dropDuplicates, which keeps
        # an arbitrary row: a crash-retry of the same batch would then
        # commit different content and the ledger's content-idempotency
        # claim would be false. max(struct(values)) picks the
        # lexicographically greatest value tuple on every attempt.
        value_cols = [c for c in batch_df.columns if c not in self.keys]
        if value_cols:
            batch = (
                batch_df.groupBy(*self.keys)
                .agg(F.max(F.struct(*value_cols)).alias("__w"))
                .select(*self.keys, "__w.*")
                .select(*batch_df.columns)  # restore the input column order
            )
        else:
            batch = batch_df.dropDuplicates(self.keys)  # keys-only rows
        if not list_versions(self.base_dir, self.name):
            merged = batch
        else:
            current = read_latest(spark, self.base_dir, self.name)
            kept = current.join(
                batch.select(*self.keys), on=self.keys, how="left_anti"
            )
            merged = kept.unionByName(batch)
        version = self.write_next(merged)
        fs.write_atomic(
            self._batch_marker(batch_id),
            json.dumps({"batch_id": batch_id, "version": version}),
        )


def list_versions(base_dir: str, name: str) -> list[int]:
    """Committed versions, newest first (reference ``lsVersions`` order,
    ``server/sdfs.go:296-329``)."""
    out = [
        int(fn[: -len(".json")])
        for fn in _fs(base_dir).listdir(_manifest_dir(base_dir, name))
        if fn.endswith(".json")
    ]
    return sorted(out, reverse=True)


def read_latest(spark: SparkSession, base_dir: str, name: str) -> DataFrame:
    """``get``: the newest committed version (``server/sdfs.go:141-175``)."""
    versions = list_versions(base_dir, name)
    if not versions:
        raise FileNotFoundError(f"no committed versions for {name!r} in {base_dir}")
    return spark.read.parquet(version_dir(base_dir, name, versions[0]))


def expire_versions(base_dir: str, name: str, keep: int) -> list[int]:
    """Retention: drop all but the ``keep`` newest committed versions
    (the reference's SDFS never reclaimed old versions — unbounded growth;
    a real deployment needs a GC). The marker is removed FIRST so readers
    stop resolving the version before its data disappears — the reverse of
    the commit order. Returns the expired version ids."""
    fs = _fs(base_dir)
    victims = list_versions(base_dir, name)[keep:]
    for v in victims:
        marker = _join(_manifest_dir(base_dir, name), f"{v:020d}.json")
        if fs.exists(marker):
            fs.remove(marker)
        fs.rmtree(version_dir(base_dir, name, v))
    return victims


def compact_latest(
    spark: SparkSession,
    base_dir: str,
    name: str,
    target_files: int = 1,
) -> int:
    """Delta-OPTIMIZE-style small-file compaction: rewrite the newest
    committed version's data as a NEW version with ``target_files`` output
    files, then commit it. A long-running streaming sink writes one version
    per micro-batch, each with up-to-shuffle-partitions tiny files; at 100
    TB the resulting listing/open overhead dominates reads. Compaction is a
    metadata-transactional rewrite — readers either resolve the old version
    or, after the marker lands, the compacted one; nothing is mutated in
    place (old versions remain for time travel until expire_versions).
    Returns the new version id.

    Interleaving with live sinks: MergeSink allocates its version ids from
    the same max+1 sequence but its exactly-once ledger tracks BATCH ids
    separately, so a compaction between micro-batches is safe. A plain
    VersionedSink in complete mode uses batch_id as the version — a
    compaction there may be overwritten by the next snapshot (harmless:
    complete snapshots carry the full state) — compact those after the
    query stops or on the read path."""
    df = read_latest(spark, base_dir, name).coalesce(target_files)
    return VersionedSink(base_dir, name).write_next(df)


def read_version(
    spark: SparkSession, base_dir: str, name: str, version: int
) -> DataFrame:
    """Time travel: read one pinned committed version."""
    if version not in list_versions(base_dir, name):
        raise FileNotFoundError(
            f"version {version} of {name!r} not committed in {base_dir}"
        )
    return spark.read.parquet(version_dir(base_dir, name, version))


def read_versions(
    spark: SparkSession, base_dir: str, name: str, n: int
) -> DataFrame:
    """``get-versions N``: the N newest versions concatenated, each row
    tagged with its version (``server/sdfs.go:178-207``, ``:296-329`` —
    the reference concatenates newest-first text; order here is carried as
    an explicit column, the relational form of the same information)."""
    from pyspark.sql import functions as F

    versions = list_versions(base_dir, name)[:n]
    if not versions:
        raise FileNotFoundError(f"no committed versions for {name!r} in {base_dir}")
    dfs = [
        spark.read.parquet(version_dir(base_dir, name, v)).withColumn("version", F.lit(v))
        for v in versions
    ]
    out = dfs[0]
    for d in dfs[1:]:
        out = out.unionByName(d)
    return out


def delete_name(base_dir: str, name: str) -> list[int]:
    """``delete``: remove EVERY committed version of ``name`` plus its
    manifest — the reference's all-replica, all-version delete
    (``DelReq``, ``server/sdfs.go:210-240``). Markers go first (readers
    stop resolving before data vanishes), then the whole name dir.
    Returns the deleted version ids."""
    victims = expire_versions(base_dir, name, keep=0)
    _fs(base_dir).rmtree(_join(base_dir, name))
    return victims


def store_names(base_dir: str) -> list[str]:
    """``store``: names with at least one committed version under the
    store root — the reference's local file listing (``FileList``,
    ``server/sdfs.go:415-419``), resolved from commit markers so
    half-written or deleted names don't appear."""
    fs = _fs(base_dir)
    return sorted(
        n
        for n in fs.listdir(base_dir)
        if fs.is_dir(_join(base_dir, n)) and list_versions(base_dir, n)
    )
