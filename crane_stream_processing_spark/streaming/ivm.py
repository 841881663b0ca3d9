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

Crash-safety is ATOMIC, not assumed: each compacted base is written into
its own VERSIONED directory (``<base>.__upto<N>`` — named by the highest
batch id folded into it, so a retried compaction overwrites its own
staging rather than colliding), and the only mutation readers can
observe is an atomic pointer flip — the 1-line ``<base>.__current``
manifest is written to a temp name and ``os.rename``d into place (atomic
replace on POSIX). Readers (:func:`current_base` / :func:`read_journal`)
resolve the live base THROUGH the pointer, so the current base path is
never absent at any crash point: die before the flip and the pointer
still names the old base (the half-built versioned dir is inert and gets
overwritten by the retry); die after the flip but before cleanup and the
fence (the ``upto`` recorded in the pointer) makes the already-folded
journal partitions IGNORED, never double-applied — the next compaction
removes them as cleanup. The previous base generation is retained until
the following compaction retires it, so an in-flight reader that
resolved the pointer just before a flip still has a live directory.
(The ORIGINAL base directory is never deleted — it anchors the naming
scheme and is the no-pointer fallback; one stale copy of the initial
state is the bounded cost.)
Replay safety (same as every offset-log sink): a batch can only replay
while it is the LAST uncommitted entry in the checkpoint's offset log —
once batch N+1 has committed, batches ≤ N can never be redelivered, so
folding them is sound; compacting the tail batch before its commit is
the one forbidden move, hence the explicit ``upto_batch_id`` argument.
"""

from __future__ import annotations

import json
import os

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F

__all__ = [
    "ivm_maintenance_sink",
    "compact_ivm_journal",
    "read_journal",
    "signed_fold",
    "compacted_upto",
    "current_base",
]

_POINTER = ".__current"  # <base>.__current: {"upto": N} — atomic flip target


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
    atomic pointer flip of :func:`compact_ivm_journal`). Replay-safe by
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


def compacted_upto(base_dir: str | None) -> int:
    """The base's compaction fence: highest batch id ever folded into it
    (−1 when no compaction has run / no base given). Read from the
    atomic ``<base>.__current`` pointer manifest."""
    if base_dir is None:
        return -1
    path = base_dir.rstrip("/") + _POINTER
    if not os.path.exists(path):
        return -1
    with open(path) as f:
        return int(json.load(f)["upto"])


def current_base(base_dir: str) -> str:
    """Resolve the LIVE base directory through the pointer manifest: the
    original ``base_dir`` until a compaction ever ran, then
    ``<base>.__upto<fence>``. The pointer flips atomically (temp-write +
    rename), so this path always exists at every crash point."""
    fence = compacted_upto(base_dir)
    if fence < 0:
        return base_dir
    return base_dir.rstrip("/") + f".__upto{fence}"


def _journal_partitions(journal_dir: str) -> list[tuple[int, str]]:
    """(batch_id, dirname) for every ``__batch_id=`` partition present."""
    return sorted(
        (int(d.split("=", 1)[1]), d)
        for d in os.listdir(journal_dir)
        if d.startswith("__batch_id=")
    )


def read_journal(
    spark: SparkSession,
    journal_dir: str,
    key: str,
    base_dir: str | None = None,
) -> DataFrame:
    """Journal partials at their logical grain (key, dn, dv) —
    ``__batch_id`` is the idempotency ledger, not data. When ``base_dir``
    is given, partitions at or below its compaction fence are EXCLUDED:
    they are stale leftovers of a compaction that crashed between the
    pointer flip and the cleanup, and their deltas already live in the
    base — the fence is what makes that crash window safe. A fully
    compacted journal (zero live partitions — the steady state of a
    long-running maintainer) returns an EMPTY frame with the journal
    schema instead of tripping parquet schema inference on an empty
    directory (round-9 advice)."""
    fence = compacted_upto(base_dir)
    live = [d for b, d in _journal_partitions(journal_dir) if b > fence]
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

    1. new_base = :func:`signed_fold`(current base, folded partials) —
       one groupBy over |groups| + |partials| rows, never facts — written
       into its own versioned directory ``<base>.__upto<N>`` (a retried
       compaction overwrites the same staging, idempotent).
    2. The ``<base>.__current`` pointer flips ATOMICALLY (temp-write +
       ``os.rename``) to name the new version and record the fence.
       From that instant :func:`current_base` resolves the new base and
       :func:`read_journal` ignores the folded partitions even if step 3
       never runs (crash-safe against double-apply); before that instant
       readers see the old base + full journal. No crash point leaves
       the base path absent.
    3. Cleanup: the folded journal partitions are deleted and base
       generations OLDER than the one just retired are removed (the
       immediately-previous generation is kept one cycle for in-flight
       readers that resolved the pointer pre-flip).

    See the module docstring for the crash analysis and the
    replay-safety precondition on ``upto_batch_id``. Returns the number
    of journal partitions folded."""
    import shutil

    fence = compacted_upto(base_dir)
    parts = [
        (b, d)
        for b, d in _journal_partitions(journal_dir)
        if fence < b <= upto_batch_id
    ]
    # stale leftovers at or below the fence are pure cleanup — their
    # deltas are already in the base
    stale = [d for b, d in _journal_partitions(journal_dir) if b <= fence]
    for d in stale:
        shutil.rmtree(os.path.join(journal_dir, d), ignore_errors=True)
    if not parts:
        return 0
    folded = spark.read.parquet(
        *[os.path.join(journal_dir, d) for _, d in parts]
    ).select(key, "dn", "dv")
    old_live = current_base(base_dir)
    new_base = signed_fold(
        spark.read.parquet(old_live), folded, key, count_col, sum_col
    )
    root = base_dir.rstrip("/")
    versioned = root + f".__upto{int(upto_batch_id)}"
    new_base.write.mode("overwrite").parquet(versioned)
    # THE atomic flip: temp-write the 1-line manifest, rename into place
    pointer = root + _POINTER
    tmp = pointer + ".tmp"
    with open(tmp, "w") as f:
        json.dump({"upto": int(upto_batch_id)}, f)
    os.rename(tmp, pointer)
    # cleanup (all post-flip, all crash-tolerant): folded journal
    # partitions, then base generations older than the one just retired
    for _, d in parts:
        shutil.rmtree(os.path.join(journal_dir, d), ignore_errors=True)
    parent, name = os.path.split(root)
    for entry in os.listdir(parent or "."):
        if not entry.startswith(name + ".__upto"):
            continue
        v = int(entry.rsplit(".__upto", 1)[1])
        if v < fence:  # strictly older than the retired generation
            shutil.rmtree(os.path.join(parent, entry), ignore_errors=True)
    return len(parts)
