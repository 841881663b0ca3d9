"""Streaming incremental view maintenance — the journal sink's
exactly-once and restart contracts, proven on a hand-built signed feed
small enough to reason about row-for-row.

The graded query (stream_incremental_agg_maintenance) drains the sf feed
as one availableNow batch and forces a replay; these tests exercise what
the bounded grade can't: MULTI-batch journals (maxFilesPerTrigger=1),
replay of an individual middle batch, and a true RESTART — a second
streaming query on the SAME checkpoint after new feed files land must
process only the new files and leave the old journal partitions alone.
"""

from __future__ import annotations

import os

import pytest
from pyspark.sql import functions as F

from crane_stream_processing_spark.inventory.core import ivm_fold_view
from crane_stream_processing_spark.inventory.streaming_queries import drain
from crane_stream_processing_spark.streaming.ivm import ivm_maintenance_sink

FEED_SCHEMA = "o_custkey long, dn long, dv decimal(28,4)"


def _write_feed_file(spark, feed_dir, idx, rows, schema=None):
    """One parquet file per call — with maxFilesPerTrigger=1 each file is
    its own micro-batch, in mtime order. ``schema`` defaults to the
    o_custkey feed; the CDC tests pass the user_id-keyed twin."""
    import glob
    import shutil

    stage = os.path.join(feed_dir, f"..__stage{idx}")
    spark.createDataFrame(rows, schema or FEED_SCHEMA).coalesce(1).write.mode(
        "overwrite"
    ).parquet(stage)
    part = glob.glob(os.path.join(stage, "part-*.parquet"))[0]
    os.makedirs(feed_dir, exist_ok=True)
    dst = os.path.join(feed_dir, f"feed{idx}.parquet")
    shutil.move(part, dst)
    os.utime(dst, (1_700_000_000 + idx, 1_700_000_000 + idx))
    shutil.rmtree(stage, ignore_errors=True)


def _base(spark):
    # Materialized view state: customers 1..3 with known counts/sums.
    return spark.createDataFrame(
        [(1, 2, "10.0000"), (2, 1, "5.0000"), (3, 1, "7.0000")],
        "o_custkey long, n_orders long, total_dec string",
    ).select(
        "o_custkey",
        "n_orders",
        F.col("total_dec").cast("decimal(28,4)").alias("total_dec"),
    )


def _view(spark, base_df, journal_dir):
    journal = spark.read.parquet(journal_dir).select("o_custkey", "dn", "dv")
    return {
        (r.o_custkey): (r.n_orders, float(r.total_price))
        for r in ivm_fold_view(base_df, journal).collect()
    }


def _run(spark, feed_dir, journal_dir, ckpt, max_files=None):
    reader = spark.readStream.schema(FEED_SCHEMA)
    if max_files is not None:
        reader = reader.option("maxFilesPerTrigger", int(max_files))
    sink = ivm_maintenance_sink(journal_dir)
    drain(reader.parquet(feed_dir), sink, checkpoint=ckpt)
    return sink


def D(x):
    from decimal import Decimal

    return Decimal(x)


def test_multibatch_journal_and_middle_batch_replay(spark, tmp_path):
    """Three feed files → three __batch_id partitions; replaying batch 1
    through the sink leaves the folded view bit-identical (the overwrite
    replaced, not appended)."""
    feed = str(tmp_path / "feed")
    journal = str(tmp_path / "journal")
    ckpt = str(tmp_path / "ckpt")
    waves = [
        [(1, 1, D("3.0000")), (2, -1, D("-5.0000"))],   # batch 0
        [(1, 1, D("2.0000")), (3, 1, D("4.0000"))],     # batch 1
        [(4, 1, D("9.0000"))],                          # batch 2
    ]
    for i, rows in enumerate(waves):
        _write_feed_file(spark, feed, i, rows)
    sink = _run(spark, feed, journal, ckpt, max_files=1)

    parts = {
        d for d in os.listdir(journal) if d.startswith("__batch_id=")
    }
    assert parts == {"__batch_id=0", "__batch_id=1", "__batch_id=2"}

    base = _base(spark)
    expect = {1: (4, 15.0), 3: (2, 11.0), 4: (1, 9.0)}  # cust 2 zeroed out
    assert _view(spark, base, journal) == expect

    # Replay the MIDDLE batch — same batch id, same rows — and re-check.
    sink(spark.createDataFrame(waves[1], FEED_SCHEMA), 1)
    assert _view(spark, base, journal) == expect


def test_restart_from_checkpoint_processes_only_new_files(spark, tmp_path):
    """Wave 1 drains under checkpoint C; wave 2 lands and a NEW query on
    the SAME checkpoint runs: the old journal partitions are untouched
    (same mtimes), only new batch ids appear, and the folded view equals
    a from-scratch fold of the entire feed — the restart contract a
    production maintainer depends on."""
    feed = str(tmp_path / "feed")
    journal = str(tmp_path / "journal")
    ckpt = str(tmp_path / "ckpt")
    _write_feed_file(spark, feed, 0, [(1, 1, D("3.0000"))])
    _write_feed_file(spark, feed, 1, [(2, 1, D("6.0000"))])
    _run(spark, feed, journal, ckpt, max_files=1)
    before = {
        d: os.path.getmtime(os.path.join(journal, d))
        for d in os.listdir(journal)
        if d.startswith("__batch_id=")
    }
    assert len(before) == 2

    # restart: two more files, NEW query, SAME checkpoint
    _write_feed_file(spark, feed, 2, [(1, -1, D("-3.0000"))])
    _write_feed_file(spark, feed, 3, [(3, 1, D("8.0000"))])
    _run(spark, feed, journal, ckpt, max_files=1)

    after = {
        d: os.path.getmtime(os.path.join(journal, d))
        for d in os.listdir(journal)
        if d.startswith("__batch_id=")
    }
    assert len(after) == 4
    for d, mt in before.items():
        assert after[d] == pytest.approx(mt), f"{d} was rewritten on restart"

    base = _base(spark)
    got = _view(spark, base, journal)
    # from-scratch: fold ALL feed rows in one delta
    scratch = _view_from_batch(spark, base, feed)
    assert got == scratch == {1: (2, 10.0), 2: (2, 11.0), 3: (2, 15.0)}


def _file_stats(root):
    """(relative path, size, mtime_ns) of every file under ``root``."""
    out = set()
    for dirpath, _, files in os.walk(root):
        for f in files:
            st = os.stat(os.path.join(dirpath, f))
            rel = os.path.relpath(os.path.join(dirpath, f), root)
            out.add((rel, st.st_size, st.st_mtime_ns))
    return out


def _view_from_batch(spark, base_df, feed_dir):
    delta = spark.read.schema(FEED_SCHEMA).parquet(feed_dir)
    return {
        (r.o_custkey): (r.n_orders, float(r.total_price))
        for r in ivm_fold_view(base_df, delta).collect()
    }


def test_journal_compaction_folds_and_preserves_view(spark, tmp_path):
    """Compacting journal partitions <= N into the base must leave the
    folded view bit-identical, delete exactly those partitions, and
    carry zero-count group deletion through the rewrite. The new base
    is a version of the journal's ``_base`` store and becomes live when
    its commit marker lands (resolved through current_base); the
    generation-0 base_dir is never written."""
    from crane_stream_processing_spark.streaming.ivm import (
        compact_ivm_journal,
        current_base,
        read_journal,
    )
    from crane_stream_processing_spark.streaming.sinks import (
        list_versions,
        store_names,
        version_dir,
    )

    feed = str(tmp_path / "feed")
    journal = str(tmp_path / "journal")
    ckpt = str(tmp_path / "ckpt")
    base_dir = str(tmp_path / "base")
    _base(spark).write.mode("overwrite").parquet(base_dir)
    gen0 = _file_stats(base_dir)

    waves = [
        [(1, 1, D("3.0000")), (2, -1, D("-5.0000"))],   # batch 0: cust 2 -> 0
        [(1, 1, D("2.0000")), (3, 1, D("4.0000"))],     # batch 1
        [(4, 1, D("9.0000"))],                          # batch 2
    ]
    for i, rows in enumerate(waves):
        _write_feed_file(spark, feed, i, rows)
    _run(spark, feed, journal, ckpt, max_files=1)

    def view():
        return {
            r.o_custkey: (r.n_orders, float(r.total_price))
            for r in ivm_fold_view(
                spark.read.parquet(current_base(journal, base_dir)),
                read_journal(spark, journal, "o_custkey"),
            ).collect()
        }

    before = view()
    assert before == {1: (4, 15.0), 3: (2, 11.0), 4: (1, 9.0)}

    # batch 2 is the checkpoint's tail; compact everything strictly below
    n = compact_ivm_journal(spark, base_dir, journal, upto_batch_id=1)
    assert n == 2
    left = {d for d in os.listdir(journal) if d.startswith("__batch_id=")}
    assert left == {"__batch_id=2"}
    assert view() == before
    # the live base is store version 1 (the fence); the original remains
    # on disk, untouched (generation 0, the previous generation here)
    assert list_versions(journal, "_base") == [1]
    assert current_base(journal, base_dir) == version_dir(journal, "_base", 1)
    assert os.path.isdir(base_dir)
    assert _file_stats(base_dir) == gen0
    # the generations are an ordinary store name, so `crane store` and
    # `crane ls` see them
    assert store_names(journal) == ["_base"]

    # customer 2 zeroed out in batch 0 must NOT resurface in the new base
    base_keys = {
        r.o_custkey
        for r in spark.read.parquet(current_base(journal, base_dir)).collect()
    }
    assert 2 not in base_keys

    # nothing below the mark left -> no-op
    assert compact_ivm_journal(spark, base_dir, journal, upto_batch_id=1) == 0


def test_compaction_fence_survives_crash_before_cleanup(spark, tmp_path):
    """Crash window: the new base (its store version id is the fence) is
    committed but the folded journal partitions were never deleted. The
    read path must IGNORE the stale partitions (their deltas already
    live in the base — re-applying them would double-count), and the
    next compaction must treat them as cleanup, not fold input."""
    import shutil

    from crane_stream_processing_spark.streaming.ivm import (
        compact_ivm_journal,
        compacted_upto,
        current_base,
        read_journal,
    )

    feed = str(tmp_path / "feed")
    journal = str(tmp_path / "journal")
    ckpt = str(tmp_path / "ckpt")
    base_dir = str(tmp_path / "base")
    _base(spark).write.mode("overwrite").parquet(base_dir)
    waves = [
        [(1, 1, D("3.0000"))],   # batch 0
        [(3, 1, D("4.0000"))],   # batch 1
        [(4, 1, D("9.0000"))],   # batch 2 (checkpoint tail, never folded)
    ]
    for i, rows in enumerate(waves):
        _write_feed_file(spark, feed, i, rows)
    _run(spark, feed, journal, ckpt, max_files=1)

    # snapshot batch 0's partition, compact through batch 1, then
    # simulate the crash-before-cleanup by restoring the folded
    # partition into the journal
    saved = str(tmp_path / "saved_b0")
    shutil.copytree(os.path.join(journal, "__batch_id=0"), saved)
    assert compact_ivm_journal(spark, base_dir, journal, upto_batch_id=1) == 2
    shutil.copytree(saved, os.path.join(journal, "__batch_id=0"))

    assert compacted_upto(journal) == 1
    # the fence excludes the stale partition: only batch 2's delta reads
    rows = read_journal(spark, journal, "o_custkey").collect()
    assert {(r.o_custkey, r.dn) for r in rows} == {(4, 1)}
    view = {
        r.o_custkey: (r.n_orders, float(r.total_price))
        for r in ivm_fold_view(
            spark.read.parquet(current_base(journal, base_dir)),
            read_journal(spark, journal, "o_custkey"),
        ).collect()
    }
    assert view == {1: (3, 13.0), 2: (1, 5.0), 3: (2, 11.0), 4: (1, 9.0)}

    # next compaction sweeps the stale partition as cleanup (fold count
    # 1: only batch 2), and the fence advances
    assert compact_ivm_journal(spark, base_dir, journal, upto_batch_id=2) == 1
    assert compacted_upto(journal) == 2
    assert not any(
        d.startswith("__batch_id=") for d in os.listdir(journal)
    )
    final = {
        r.o_custkey: (r.n_orders, float(r.total_price))
        for r in ivm_fold_view(
            spark.read.parquet(current_base(journal, base_dir)),
            # the fully-compacted steady state: read_journal must return
            # an empty typed frame, not trip schema inference
            read_journal(spark, journal, "o_custkey"),
        ).collect()
    }
    assert final == view


def test_compaction_crash_windows_leave_base_always_readable(
    spark, tmp_path, monkeypatch
):
    """The atomicity bar: kill the compactor at BOTH crash windows —
    (a) after the new base is fully written but before it becomes live,
    (b) after it becomes live but before cleanup — and at each point a
    reader resolving through current_base() must see an EXISTING
    directory whose fold is correct. The only reader-visible mutation in
    the whole cycle is the store's atomic commit-marker rename, so there
    is no reader-visible gap."""
    import shutil as real_shutil

    from crane_stream_processing_spark.streaming import sinks as sinks_mod
    from crane_stream_processing_spark.streaming.ivm import (
        compact_ivm_journal,
        compacted_upto,
        current_base,
        read_journal,
    )
    from crane_stream_processing_spark.streaming.sinks import (
        list_versions,
        version_dir,
    )

    feed = str(tmp_path / "feed")
    journal = str(tmp_path / "journal")
    ckpt = str(tmp_path / "ckpt")
    base_dir = str(tmp_path / "base")
    _base(spark).write.mode("overwrite").parquet(base_dir)
    waves = [
        [(1, 1, D("3.0000"))],   # batch 0
        [(3, 1, D("4.0000"))],   # batch 1
        [(4, 1, D("9.0000"))],   # batch 2 (checkpoint tail, never folded)
    ]
    for i, rows in enumerate(waves):
        _write_feed_file(spark, feed, i, rows)
    _run(spark, feed, journal, ckpt, max_files=1)

    def view():
        return {
            r.o_custkey: (r.n_orders, float(r.total_price))
            for r in ivm_fold_view(
                spark.read.parquet(current_base(journal, base_dir)),
                read_journal(spark, journal, "o_custkey"),
            ).collect()
        }

    expect = {1: (3, 13.0), 2: (1, 5.0), 3: (2, 11.0), 4: (1, 9.0)}
    assert view() == expect

    # (a) crash BETWEEN writing the new base and its commit: fail the
    # commit itself (the marker's single os.replace)
    def boom_replace(src, dst):
        raise OSError("injected crash before commit marker")

    monkeypatch.setattr(sinks_mod.os, "replace", boom_replace)
    with pytest.raises(OSError, match="injected crash"):
        compact_ivm_journal(spark, base_dir, journal, upto_batch_id=1)
    monkeypatch.undo()
    # never committed: reader sees the ORIGINAL base + full journal —
    # identical view, live path exists; the half-built version is inert
    assert os.path.isdir(version_dir(journal, "_base", 1))
    assert compacted_upto(journal) == -1
    assert current_base(journal, base_dir) == base_dir
    assert os.path.isdir(current_base(journal, base_dir))
    assert view() == expect

    # retry succeeds and OVERWRITES the half-built version
    assert compact_ivm_journal(spark, base_dir, journal, upto_batch_id=1) == 2
    assert list_versions(journal, "_base") == [1]
    assert view() == expect

    # (b) crash AFTER the commit, before cleanup: fail the first rmtree
    def boom_rmtree(path, ignore_errors=False):
        raise OSError("injected crash before cleanup")

    monkeypatch.setattr(real_shutil, "rmtree", boom_rmtree)
    with pytest.raises(OSError, match="injected crash"):
        compact_ivm_journal(spark, base_dir, journal, upto_batch_id=2)
    monkeypatch.undo()
    # committed: fence excludes the folded-but-not-deleted batch-2
    # partition, the live base exists, the view is unchanged
    assert compacted_upto(journal) == 2
    assert current_base(journal, base_dir) == version_dir(journal, "_base", 2)
    assert os.path.isdir(current_base(journal, base_dir))
    assert view() == expect
    # next cycle sweeps the stale partition as cleanup, folds nothing new
    assert compact_ivm_journal(spark, base_dir, journal, upto_batch_id=2) == 0
    assert not any(
        d.startswith("__batch_id=") for d in os.listdir(journal)
    )
    assert view() == expect


def test_cdc_feed_restart_and_delete_wins(spark, tmp_path):
    """The CDC-shaped maintainer contract behind stream_cdc_ivm_maintenance:
    an upsert feed (UPDATEs expanded to DELETE+INSERT signed pairs with
    before/after images; the update leg of an update∩delete key already
    dropped by the expansion — delete wins) drains under checkpoint C;
    a SECOND feed wave lands and a new query on the SAME checkpoint must
    process only the new files, leave old journal partitions untouched,
    and fold to exactly the post-CDC state."""
    from crane_stream_processing_spark.streaming.ivm import (
        read_journal,
        signed_fold,
    )

    feed = str(tmp_path / "feed")
    journal = str(tmp_path / "journal")
    ckpt = str(tmp_path / "ckpt")
    base = spark.createDataFrame(
        [(1, 2, "10.0000"), (2, 1, "5.0000"), (3, 1, "7.0000")],
        "user_id long, n_events long, total_dec string",
    ).select(
        "user_id", "n_events",
        F.col("total_dec").cast("decimal(28,4)").alias("total_dec"),
    )

    def run():
        reader = spark.readStream.schema(
            "user_id long, dn long, dv decimal(28,4)"
        ).option("maxFilesPerTrigger", 1)
        sink = ivm_maintenance_sink(journal, key="user_id")
        drain(reader.parquet(feed), sink, checkpoint=ckpt)
        return sink

    def view():
        return {
            r.user_id: (r.n_events, float(r.total_dec))
            for r in signed_fold(
                base,
                read_journal(spark, journal, "user_id"),
                "user_id", "n_events", "total_dec",
            ).collect()
        }

    # wave 0: UPDATE user 1 (before 4.0 → after 12.0, the canonical
    # signed pair) + DELETE user 2's only event (group must drop)
    _write_feed_file_cdc(spark, feed, 0, [
        (1, -1, D("-4.0000")), (1, 1, D("12.0000")),
        (2, -1, D("-5.0000")),
    ])
    run()
    assert view() == {1: (2, 18.0), 3: (1, 7.0)}

    # restart: INSERT user 4 + the delete-wins residue for user 3 (the
    # update leg was dropped by the expansion; only the delete lands)
    _write_feed_file_cdc(spark, feed, 1, [
        (4, 1, D("9.0000")), (3, -1, D("-7.0000")),
    ])
    before = {
        d: os.path.getmtime(os.path.join(journal, d))
        for d in os.listdir(journal)
        if d.startswith("__batch_id=")
    }
    run()
    after = {
        d: os.path.getmtime(os.path.join(journal, d))
        for d in os.listdir(journal)
        if d.startswith("__batch_id=")
    }
    assert len(after) == len(before) + 1
    for d, mt in before.items():
        assert after[d] == pytest.approx(mt), f"{d} rewritten on restart"
    assert view() == {1: (2, 18.0), 4: (1, 9.0)}


def _write_feed_file_cdc(spark, feed_dir, idx, rows):
    """CDC twin of _write_feed_file (user_id-keyed schema)."""
    _write_feed_file(
        spark, feed_dir, idx, rows,
        schema="user_id long, dn long, dv decimal(28,4)",
    )


def test_auto_compaction_inside_maintainer(spark, tmp_path):
    """compact_every=2: the maintainer folds the journal in-line as it
    drains — after five 1-file micro-batches, compactions fired at
    batch ids 2 and 4 (each folding everything below the then-current
    batch), the journal holds only the uncompacted tail, the base
    resolved through the store carries the folded state, and the
    total view equals a from-scratch fold of the whole feed."""
    from crane_stream_processing_spark.streaming.ivm import (
        compacted_upto,
        current_base,
        read_journal,
    )
    from crane_stream_processing_spark.streaming.sinks import list_versions

    feed = str(tmp_path / "feed")
    journal = str(tmp_path / "journal")
    ckpt = str(tmp_path / "ckpt")
    base_dir = str(tmp_path / "base")
    _base(spark).write.mode("overwrite").parquet(base_dir)
    waves = [
        [(1, 1, D("3.0000"))],                         # batch 0
        [(2, -1, D("-5.0000"))],                       # batch 1 (cust 2 -> 0)
        [(3, 1, D("4.0000"))],                         # batch 2 -> compact <=1
        [(4, 1, D("9.0000"))],                         # batch 3
        [(1, 1, D("2.0000"))],                         # batch 4 -> compact <=3
    ]
    for i, rows in enumerate(waves):
        _write_feed_file(spark, feed, i, rows)
    reader = spark.readStream.schema(FEED_SCHEMA).option(
        "maxFilesPerTrigger", 1
    )
    drain(
        reader.parquet(feed),
        ivm_maintenance_sink(journal, base_dir=base_dir, compact_every=2),
        checkpoint=ckpt,
    )

    assert compacted_upto(journal) == 3
    # the previous generation survives one cycle; older ones expire
    assert list_versions(journal, "_base") == [3, 1]
    live = {d for d in os.listdir(journal) if d.startswith("__batch_id=")}
    assert live == {"__batch_id=4"}
    view = {
        r.o_custkey: (r.n_orders, float(r.total_price))
        for r in ivm_fold_view(
            spark.read.parquet(current_base(journal, base_dir)),
            read_journal(spark, journal, "o_custkey"),
        ).collect()
    }
    # base(1:2/10, 2:1/5, 3:1/7) + all five waves, cust 2 dropped
    assert view == {1: (4, 15.0), 3: (2, 11.0), 4: (1, 9.0)}


def test_compaction_cycle_query_leaves_shared_base_untouched(spark, sf_dir):
    """stream_ivm_compaction_cycle compacts next to its own journal and
    only READS the shared ivm_base_dir artifact as generation 0: two runs
    in one session return identical rows, and the artifact's files,
    sizes and mtimes are unchanged."""
    from crane_stream_processing_spark.inventory import release_query_caches
    from crane_stream_processing_spark.inventory.core import ivm_base_dir
    from crane_stream_processing_spark.inventory.streaming_queries import (
        stream_ivm_compaction_cycle,
    )

    shared = ivm_base_dir(spark, sf_dir)
    before = _file_stats(shared)
    runs = []
    for _ in range(2):
        runs.append(
            sorted(tuple(r) for r in stream_ivm_compaction_cycle(spark, sf_dir).collect())
        )
        release_query_caches(spark)
    assert runs[0] and runs[0] == runs[1]
    assert ivm_base_dir(spark, sf_dir) == shared
    assert _file_stats(shared) == before
