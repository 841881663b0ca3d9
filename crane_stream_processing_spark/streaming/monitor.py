"""Streaming observability — the engine's delivery-accounting surface.

The reference accounts for in-flight work in the acker: a running XOR per
messageId plus success/fail counters driving commit or replay (reference
``server/acker.go:24-74``), and the client prints per-node match counts
(``client/client.go:87-89``). Structured Streaming already gives the
delivery guarantee (checkpointed exactly-once), so what remains of the
acker is its *accounting*: per-batch input rows, processed rows, state
size, and user-defined dataset metrics. This module surfaces both halves:

- :func:`with_observed_metrics` attaches ``Dataset.observe`` aggregates —
  computed inside the running plan, no second pass, arriving with each
  micro-batch's progress event;
- :class:`ProgressRecorder` is a ``StreamingQueryListener`` that collects
  progress events (batchId, numInputRows, observed metrics, state rows)
  for assertion / export.

Scale note: observe() metrics are accumulator-style partial aggregates
merged on the driver per batch — O(#metrics) driver cost, independent of
data volume, so they stay on at 100 TB where a separate metrics query
would double the read.
"""

from __future__ import annotations

from pyspark.sql import Column, DataFrame
from pyspark.sql import functions as F
from pyspark.sql.streaming import StreamingQueryListener

__all__ = [
    "with_observed_metrics",
    "ProgressRecorder",
    "state_metadata",
    "read_state",
]


def with_observed_metrics(
    df: DataFrame, name: str = "crane_metrics", **metrics: Column
) -> DataFrame:
    """Attach in-plan observed metrics. Default set mirrors the acker's
    books: tuple count. Extra named aggregate columns ride along."""
    cols = [F.count(F.lit(1)).alias("n_rows")]
    cols += [c.alias(k) for k, c in metrics.items()]
    return df.observe(name, *cols)


class ProgressRecorder(StreamingQueryListener):
    """Collects every query-progress event: the per-micro-batch ledger
    (the reference's acker scan, minus the replay duty). Attach with
    ``spark.streams.addListener(rec)``; detach with ``removeListener``."""

    def __init__(self) -> None:
        self.started: list[dict] = []
        self.progress: list[dict] = []
        self.idle: list[dict] = []
        self.terminated: list[str] = []

    def onQueryStarted(self, event) -> None:  # noqa: N802 (listener API)
        # The acker's "registered topology" ledger: which queries ran,
        # under which run incarnation (restarts mint a new runId for the
        # same query id — the pair distinguishes replay from first run).
        self.started.append(
            {
                "id": str(event.id),
                "run_id": str(event.runId),
                "query": event.name,
            }
        )

    def onQueryProgress(self, event) -> None:  # noqa: N802
        p = event.progress
        self.progress.append(
            {
                "query": p.name,
                # the run this batch belongs to: the listener is
                # session-global and events arrive async, so a consumer
                # slicing the ledger keeps only the run ids it started
                "id": str(p.id),
                "run_id": str(p.runId),
                "batch_id": p.batchId,
                # event wall timestamp (ISO) — the honest elapsed-time
                # denominator for rate math (tools/flow_rate.py): batch
                # COUNT x trigger period understates elapsed time when
                # batches overrun or skip, inflating the reported rate
                "timestamp": getattr(p, "timestamp", None),
                "num_input_rows": p.numInputRows,
                "processed_rows_per_sec": p.processedRowsPerSecond,
                # phase timings (triggerExecution et al.) — the latency
                # axis of the flow-rate record (tools/flow_rate.py)
                "duration_ms": dict(p.durationMs or {}),
                # per stateful operator: rows held and bytes used — the
                # state-growth ledger the class doc promises
                "state": [
                    {
                        "rows_total": s.numRowsTotal,
                        "rows_updated": s.numRowsUpdated,
                        "memory_bytes": s.memoryUsedBytes,
                    }
                    for s in (p.stateOperators or [])
                ],
                "observed": dict(p.observedMetrics or {}),
            }
        )

    def onQueryIdle(self, event) -> None:  # noqa: N802
        # Idle ticks are the "no in-flight tuples" signal (source drained
        # faster than the trigger period) — counted per query so a
        # backpressure dashboard can tell starved from busy.
        self.idle.append({"id": str(event.id), "timestamp": event.timestamp})

    def onQueryTerminated(self, event) -> None:  # noqa: N802
        self.terminated.append(str(event.id))

    # -- convenience ----------------------------------------------------
    def rates(self) -> dict[str, float]:
        """Latest processed-rows-per-second per query name — the one-line
        throughput summary the CLI prints after `crane start` (mirroring
        the reference client's per-node match-count printout,
        client/client.go:87-89, as rows/s instead of match counts)."""
        out: dict[str, float] = {}
        for p in self.progress:
            if p["query"] is not None and p["processed_rows_per_sec"] is not None:
                out[p["query"]] = float(p["processed_rows_per_sec"])
        return out

    def total_input_rows(self, query_name: str | None = None) -> int:
        return sum(
            p["num_input_rows"]
            for p in self.progress
            if query_name is None or p["query"] == query_name
        )

    def observed_series(
        self,
        metric: str,
        obs_name: str = "crane_metrics",
        query_name: str | None = None,
    ):
        """All values of one observed metric across batches, in order.

        ``query_name`` scopes the series to one query — the listener is
        session-global, so two concurrent queries sharing the default
        observation name would otherwise interleave into one series."""
        out = []
        for p in self.progress:
            if query_name is not None and p["query"] != query_name:
                continue
            row = p["observed"].get(obs_name)
            if row is not None:
                out.append(row[metric])
        return out


def state_metadata(spark, checkpoint: str) -> DataFrame:
    """Operator-level map of a query's checkpointed state (Spark 4
    ``state-metadata`` source): one row per stateful operator/store with
    its partition count and the min/max batch ids still reconstructible.
    The reference exposes nothing like this — its joiner state is an
    opaque in-process map lost on failure (server/wordCount.go:28-31);
    here the checkpoint is a first-class queryable dataset."""
    return spark.read.format("state-metadata").load(checkpoint)


def read_state(
    spark,
    checkpoint: str,
    operator_id: int = 0,
    batch_id: int | None = None,
    store_name: str | None = None,
) -> DataFrame:
    """Read a stateful operator's live state out of its checkpoint
    (Spark 4 ``statestore`` source) as (key, value, partition_id) rows —
    debugging/repair/migration surface for long-running pipelines: audit
    what a 100 TB streaming aggregation is actually holding, join state
    against reference data to find leaks, or bootstrap a replacement
    query. Reads are partition-parallel from the checkpoint files; no
    running query or driver materialization involved."""
    r = spark.read.format("statestore").option("operatorId", operator_id)
    if batch_id is not None:
        r = r.option("batchId", batch_id)
    if store_name is not None:
        r = r.option("storeName", store_name)
    return r.load(checkpoint)
