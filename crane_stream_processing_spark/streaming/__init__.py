"""Structured-Streaming layer — the reference's stream engine re-expressed.

The reference's mechanisms (XOR acker, UDP transport, role assignment,
replay maps — reference ``server/Crane.go``, ``server/acker.go``) are
deliberately NOT ported: Spark's checkpointed micro-batch execution is the
delivery layer, and it is exactly-once where the reference was
at-least-once-with-duplicates (SURVEY.md §2.9 ST1-ST3).

- :mod:`.sources` — line sources (file-dir, socket, rate) with the
  reference's throttling knobs (S1/S2/S10)
- :mod:`.sinks` — the versioned store emulating SDFS put/get-versions
  (S5-S7), plus readers: the one publish mechanism for sink snapshots,
  the sampler's sample and the IVM maintainer's base generations
- :mod:`.engine` — the app runner: name→pipeline registry → complete-mode
  periodic-trigger query with checkpointing (ST4/ST9)
- :mod:`.monitor` — delivery accounting: in-plan observed metrics + a
  progress listener (the acker's books without its replay duty)
- :mod:`.ann_ingest` — the production ANN-index ingest: Arrow kernels in
  foreachBatch + a batch-id-idempotent parquet sink (exactly-once on
  plain parquet)
- :mod:`.ivm` / :mod:`.sampling` — the view-maintenance journal sink and
  the bottom-k sampler fold, also foreachBatch sinks; each publishes its
  state as versions of a :mod:`.sinks` store

The sinks here are plain ``(batch_df, batch_id)`` callables: a bounded
pass drains a stream into one through
``inventory.streaming_queries.drain``, and calling one again with a
batch id forces a replay.
"""

from .sources import file_lines, kafka_lines, rate_lines, socket_lines
from .sinks import MergeSink, VersionedSink, read_latest, read_versions, list_versions
from .engine import start_app, stop_app
from .monitor import ProgressRecorder, with_observed_metrics
from .ann_ingest import (
    compact_index,
    idempotent_batch_sink,
    ivfpq_index_sink,
    read_ivfpq_index,
)

__all__ = [
    "file_lines",
    "socket_lines",
    "rate_lines",
    "kafka_lines",
    "VersionedSink",
    "MergeSink",
    "read_latest",
    "read_versions",
    "list_versions",
    "start_app",
    "stop_app",
    "ProgressRecorder",
    "with_observed_metrics",
    "idempotent_batch_sink",
    "ivfpq_index_sink",
    "read_ivfpq_index",
    "compact_index",
]
