"""Streaming incremental view maintenance — the journal-sink maintainer
and its compaction cycle.

A materialized aggregate (COUNT + exact-decimal SUM per group) is kept
fresh from a stream of SIGNED change rows (key, dn, dv): each micro-batch
folds to per-group partials (one row per touched group) and lands under
its own ``__batch_id=<N>`` partition via the batch-id-idempotent parquet
sink (``streaming.ann_ingest.idempotent_batch_sink`` — a replayed batch
overwrites its own partition, closing the duplicate-apply window of an
at-least-once redelivery; the reference's SDFS append has exactly that
hazard, server/sdfs.go:276-283). The maintained view is the read-time
fold ``base ⊎ journal`` (:func:`signed_fold`, shared with the batch IVM
queries through ``inventory.core.ivm_fold_view``).

The journal grows one partition per trigger, so a long-running maintainer
periodically COMPACTS: fold the journal partitions for batch ids strictly
below the last committed batch into a new base, then drop them.

Crash-safety is ATOMIC, not assumed: each compacted base is a version
of the ``streaming.sinks`` versioned store ``_base`` INSIDE the journal
directory (``<journal>/_base/v=<N>/``), and its version id is the fence —
the highest batch id folded into it. The ``_`` prefix hides the store
from ``spark.read.parquet(<journal>)`` and from the journal sink's
partition overwrites. A version becomes live only when its commit marker
lands, after its data, so: die before the marker and readers still
resolve the previous base + full journal (the half-built version dir is
inert and gets overwritten by the retry, which writes the same id);
die after the marker but before cleanup and the fence makes the
already-folded journal partitions IGNORED, never double-applied — the
next compaction removes them as cleanup. The previous base generation is
retained until the following compaction expires it, so an in-flight
reader that resolved the live version just before a commit still has a
live directory. The caller's ``base_dir`` is generation 0: read when no
version is committed, never written.

Replay safety (same as every offset-log sink): a batch can only replay
while it is the LAST uncommitted entry in the checkpoint's offset log —
once batch N+1 has committed, batches ≤ N can never be redelivered, so
folding them is sound; compacting the tail batch before its commit is
the one forbidden move, hence the explicit ``upto_batch_id`` argument.
"""

from __future__ import annotations

import os
import shutil

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F

from .sinks import VersionedSink, expire_versions, list_versions, version_dir

__all__ = [
    "ivm_maintenance_sink",
    "compact_ivm_journal",
    "read_journal",
    "signed_fold",
    "compacted_upto",
    "current_base",
    "journal_partitions",
]

_BASE = "_base"  # <journal>/_base: the compacted-base generations


def signed_fold(
    base: DataFrame,
    delta: DataFrame,
    key: str,
    count_col: str,
    sum_col: str,
) -> DataFrame:
    """THE signed IVM fold — one definition for the batch queries, the
    streaming journal read, and compaction: the materialized base enters
    as one signed row per group (count → dn, sum → dv), unions the delta
    rows, one groupBy over |groups| + |delta|, and zero-count groups
    drop (full-group deletion). ``base`` columns: (key, count_col,
    sum_col); ``delta`` columns: (key, dn, dv). Output: (key, count_col,
    sum_col) with sum_col still exact decimal — callers cast for
    display."""
    signed_base = base.select(
        key,
        F.col(count_col).cast("long").alias("dn"),
        F.col(sum_col).alias("dv"),
    )
    return (
        signed_base.unionByName(delta.select(key, "dn", "dv"))
        .groupBy(key)
        .agg(F.sum("dn").alias(count_col), F.sum("dv").alias(sum_col))
        .filter(F.col(count_col) > 0)
    )


def ivm_maintenance_sink(
    journal_dir: str,
    key: str = "o_custkey",
    base_dir: str | None = None,
    compact_every: int | None = None,
    count_col: str = "n_orders",
    sum_col: str = "total_dec",
):
    """The streaming IVM maintainer as a foreachBatch sink over a
    signed-change feed: each micro-batch folds to per-group partials
    under its own ``__batch_id`` partition of ``journal_dir``. Drain a
    feed through it with ``inventory.streaming_queries.drain``; tests
    and the graded queries call it directly with a batch id to force a
    deterministic replay.

    With ``base_dir`` + ``compact_every=N``, the maintainer runs its own
    compaction cycle IN-LINE: after writing batch id B ≡ 0 (mod N), it
    folds journal partitions up to B−1 into a new base generation (the
    versioned-store commit of :func:`compact_ivm_journal`). Replay-safe by
    construction: while batch B is being processed, batch B−1 has
    already committed in the offset log and can never be redelivered —
    so ≤ B−1 is always sound to fold; and if batch B itself replays,
    the sink overwrite is idempotent and the retried compaction finds
    nothing below the fence (returns 0). This is the amortized
    maintenance a long-running deployment runs — read cost stays
    O(groups + compact_every partitions) forever."""
    from .ann_ingest import idempotent_batch_sink

    sink = idempotent_batch_sink(
        journal_dir,
        transform=lambda b: b.groupBy(key).agg(
            F.sum("dn").alias("dn"), F.sum("dv").alias("dv")
        ),
    )
    if not compact_every:
        return sink
    if base_dir is None:
        raise ValueError("compact_every requires base_dir")

    def compacting_sink(batch_df: DataFrame, batch_id: int) -> None:
        sink(batch_df, batch_id)
        if batch_id > 0 and batch_id % compact_every == 0:
            compact_ivm_journal(
                batch_df.sparkSession,
                base_dir,
                journal_dir,
                upto_batch_id=batch_id - 1,
                key=key,
                count_col=count_col,
                sum_col=sum_col,
            )

    return compacting_sink


def compacted_upto(journal_dir: str) -> int:
    """The compaction fence: highest batch id ever folded into the base
    (−1 before the first compaction) — the newest committed version of
    the journal's ``_base`` store."""
    versions = list_versions(journal_dir, _BASE)
    return versions[0] if versions else -1


def current_base(journal_dir: str, base_dir: str) -> str:
    """The LIVE base directory: ``base_dir`` (generation 0) until a
    compaction ever committed, then the fence's version dir. A version
    is committed only after its data, so this path always exists at
    every crash point."""
    fence = compacted_upto(journal_dir)
    return base_dir if fence < 0 else version_dir(journal_dir, _BASE, fence)


def journal_partitions(journal_dir: str) -> list[tuple[int, str]]:
    """(batch_id, dirname) for every ``__batch_id=`` partition present,
    in batch order."""
    return sorted(
        (int(d.split("=", 1)[1]), d)
        for d in os.listdir(journal_dir)
        if d.startswith("__batch_id=")
    )


def read_journal(spark: SparkSession, journal_dir: str, key: str) -> DataFrame:
    """Journal partials at their logical grain (key, dn, dv) —
    ``__batch_id`` is the idempotency ledger, not data. Partitions at or
    below the compaction fence are EXCLUDED: they are stale leftovers of
    a compaction that crashed between its commit and the cleanup, and
    their deltas already live in the base — the fence is what makes that
    crash window safe. A fully compacted journal (zero live partitions —
    the steady state of a long-running maintainer) returns an EMPTY
    frame with the journal schema instead of tripping parquet schema
    inference on an empty directory."""
    fence = compacted_upto(journal_dir)
    live = [d for b, d in journal_partitions(journal_dir) if b > fence]
    if not live:
        return spark.createDataFrame(
            [], f"{key} long, dn long, dv decimal(28,4)"
        )
    return spark.read.parquet(
        *[os.path.join(journal_dir, d) for d in live]
    ).select(key, "dn", "dv")


def compact_ivm_journal(
    spark: SparkSession,
    base_dir: str,
    journal_dir: str,
    upto_batch_id: int,
    key: str = "o_custkey",
    count_col: str = "n_orders",
    sum_col: str = "total_dec",
) -> int:
    """Fold journal partitions with ``fence < __batch_id <=
    upto_batch_id`` into the materialized base and remove them — the
    maintenance cycle that keeps read-time fold cost
    O(groups + recent batches) forever:

    1. new_base = :func:`signed_fold`(live base, folded partials) — one
       groupBy over |groups| + |partials| rows, never facts — written as
       version ``upto_batch_id`` of the journal's ``_base`` store (a
       retried compaction overwrites its own uncommitted version).
    2. The version's commit marker lands after its data. From that
       instant :func:`current_base` resolves the new base and
       :func:`read_journal` ignores the folded partitions even if step 3
       never runs (crash-safe against double-apply); before that instant
       readers see the old base + full journal. No crash point leaves
       the live base path absent.
    3. Cleanup: the folded journal partitions are deleted and all but
       the two newest base versions expire (the previous generation is
       kept one cycle for in-flight readers that resolved it pre-commit).

    ``base_dir`` is generation 0 and is only ever read. See the module
    docstring for the crash analysis and the replay-safety precondition
    on ``upto_batch_id``. Returns the number of journal partitions
    folded."""
    fence = compacted_upto(journal_dir)
    present = journal_partitions(journal_dir)
    parts = [d for b, d in present if fence < b <= upto_batch_id]
    # stale leftovers at or below the fence are pure cleanup — their
    # deltas are already in the base
    for b, d in present:
        if b <= fence:
            shutil.rmtree(os.path.join(journal_dir, d), ignore_errors=True)
    if not parts:
        return 0
    folded = spark.read.parquet(
        *[os.path.join(journal_dir, d) for d in parts]
    ).select(key, "dn", "dv")
    new_base = signed_fold(
        spark.read.parquet(current_base(journal_dir, base_dir)),
        folded, key, count_col, sum_col,
    )
    VersionedSink(journal_dir, _BASE).write_version(new_base, int(upto_batch_id))
    # cleanup (all post-commit, all crash-tolerant): folded journal
    # partitions, then base generations older than the one just retired
    for d in parts:
        shutil.rmtree(os.path.join(journal_dir, d), ignore_errors=True)
    expire_versions(journal_dir, _BASE, keep=2)
    return len(parts)
