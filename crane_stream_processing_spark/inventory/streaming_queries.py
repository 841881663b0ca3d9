"""Streaming inventory — real Structured Streaming executions in the
driver-graded registry (SURVEY.md §2.3 J7, §2.9 ST4/ST5).

Each query builds a streaming DataFrame over the parquet table dir, runs a
bounded availableNow pass into a memory sink, and returns the final result
as a batch DataFrame — so the SAME DuckDB oracles that check the batch
operators check the streaming engine's answers. The reference's streaming
semantics were processing-time-only with a lossy acker (SURVEY.md §2.9);
these exercise the strictly stronger surface: event-time windows,
watermarks, stream-static and stream-stream joins, exactly-once.

Scale: nothing here is driver-bound except the memory sink used for the
bounded verification pass — production pipelines swap it for the
VersionedSink/parquet sink (streaming.sinks) with identical plans.
"""

from __future__ import annotations

from typing import Callable

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F
from pyspark.sql import types as T
from pyspark.sql.streaming import StreamingQuery

from ..catalog import events_schema, stream_table
from ..session import scoped_confs, small_state_width, spread
from . import dsum, query, t
from .eventtime import (
    ORACLE_SESSION_30M,
    ORACLE_SLIDING_12H,
    ORACLE_TUMBLING_DAILY_BY_TYPE,
)


def _stream_events_sentinel(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Events stream unioned with two far-future sentinel rows (one per
    joined event_type, user_id = -1, year 2100). The sentinels push the
    event-time watermark past every real row on the bounded availableNow
    pass, so append-mode operators whose output waits on watermark
    advancement (outer-join null rows, finalized windows) flush completely
    — the streaming analog of an end-of-stream marker. Callers filter the
    sentinels back out of the result.

    The two sentinel rows are constants, so the parquet dir is an artifact
    that depends on no table (file streams re-list the dir per query
    start; re-writing it each call just burned a job). The sentinel file
    is written with ts as TIMESTAMP_LTZ micros and both legs are
    normalized to that type before the union, so it composes with any
    stored ts type in the real table (see catalog.normalize_events_ts)."""
    from . import artifact

    far_us = 4102444800 * 1_000_000  # 2100-01-01 as epoch µs

    def _build_sentinel(sentinel_dir: str) -> None:
        spark.createDataFrame(
            [
                (-1, far_us, -1, "error", 0.0, "{}"),
                (-2, far_us - 86_400 * 2 * 1_000_000, -1, "purchase", 0.0, "{}"),
            ],
            events_schema(T.LongType()),
        ).withColumn("ts", F.timestamp_micros("ts")).coalesce(1).write.mode(
            "overwrite"
        ).parquet(sentinel_dir)

    sentinel_dir = artifact("crane_sentinel", None, _build_sentinel)
    real = stream_table(spark, sf_dir, "events")
    sent = spark.readStream.schema(events_schema(T.TimestampType())).parquet(
        sentinel_dir
    )
    return real.union(sent)


def _scoped_stream_partitions(spark: SparkSession, parts: int | None = None):
    """Scope a drain's shuffle (and so state-store) width, capped by the
    session's ``shuffle.partitions``: ``session.small_state_width`` by
    default, since each state partition pays a fixed store init and commit
    per micro-batch (32 partitions of tiny state ran the sf0.1
    stream-stream join in 14.6 s, 8 in 7.6 s). ``parts`` narrows it for a
    query whose drain is state-machinery-bound (the stream-stream joins,
    watermarked windows and dedups measured 0.2–1.0 s faster at 2 than at
    4, while CPU-heavy drains such as banding, PQ encode and curate prefer
    4). The width is baked into the checkpoint when the query starts, so
    it is scoped to the start (session.scoped_confs). On a real cluster
    set SPARK_GRAFT_STREAM_PARTITIONS to O(total cores): it always beats
    ``parts`` and the default, because state scales out with partitions
    and these widths only trim fixed overhead while state is small."""
    import os

    key = "spark.sql.shuffle.partitions"
    width = int(os.environ.get("SPARK_GRAFT_STREAM_PARTITIONS", parts or small_state_width(spark)))
    return scoped_confs(spark, {key: str(min(int(spark.conf.get(key)), width))})


def drain(
    df: DataFrame,
    sink: str | Callable[[DataFrame, int], None],
    *,
    mode: str = "append",
    parts: int | None = None,
    checkpoint: str | None = None,
) -> StreamingQuery:
    """THE bounded streaming pass: run ``df`` through one availableNow
    drain under the scoped partition count (see _scoped_stream_partitions;
    ``parts`` = the query's measured state-partition width) and wait for
    it to finish. A ``str`` sink is a memory sink of that query name,
    registered for post-query release (memory sinks hold their whole
    result on the driver; see inventory.register_memory_sink); a callable
    sink is a foreachBatch writer. ``checkpoint`` is the caller's path
    when a restart must resume it; otherwise a fresh temp dir that is
    removed however the drain ends. Returns the terminated query."""
    import shutil
    import tempfile

    from . import register_memory_sink

    writer = df.writeStream.outputMode(mode)
    if isinstance(sink, str):
        register_memory_sink(sink)
        writer = writer.format("memory").queryName(sink)
    else:
        writer = writer.foreachBatch(sink)
    chk = checkpoint or tempfile.mkdtemp(prefix="crane_drain_ckpt_")
    try:
        with _scoped_stream_partitions(df.sparkSession, parts=parts):
            q = (
                writer.option("checkpointLocation", chk)
                .trigger(availableNow=True)
                .start()
            )
            q.awaitTermination()
        return q
    finally:
        if checkpoint is None:
            shutil.rmtree(chk, ignore_errors=True)


def replay_batch0(journal_dir: str, what: str) -> None:
    """Force the at-least-once window on a batch-id-partitioned journal:
    re-deliver batch 0 through a transform-less idempotent_batch_sink,
    which must overwrite ``__batch_id=0`` rather than duplicate it. The
    redelivered rows are the journal's own recorded batch-0 contents —
    bit-identical to what a Spark retry would recompute (every sink
    transform here is deterministic and each result is row-graded)
    without paying a second pass. They are materialized as a local
    checkpoint BEFORE the sink overwrites the very files they came from
    (the persistent RDD is swept by the next release_query_caches).

    Replaying batch 0 stands for a real redelivery ONLY if the drain
    produced exactly one batch; if the file source ever split it
    (maxFilesPerTrigger set, source defaults change), partitions >= 1
    would survive the replay and double-apply — so fail LOUDLY instead
    of silently corrupting the graded result."""
    from ..streaming.ann_ingest import idempotent_batch_sink
    from ..streaming.ivm import journal_partitions

    parts = [d for _, d in journal_partitions(journal_dir)]
    if parts != ["__batch_id=0"]:
        raise AssertionError(
            f"{what}: full-feed replay of batch 0 requires a single-batch "
            f"drain, but the journal holds partitions {parts} — a "
            "multi-batch drain must replay from the journal's own "
            "recorded batches, not the whole feed"
        )
    batch0 = (
        SparkSession.active()
        .read.parquet(journal_dir)
        .filter(F.col("__batch_id") == 0)
        .drop("__batch_id")
        .localCheckpoint()
    )
    idempotent_batch_sink(journal_dir)(batch0, 0)


@query("stream_tumbling_daily_by_type", oracle=ORACLE_TUMBLING_DAILY_BY_TYPE)
def stream_tumbling_daily_by_type(spark: SparkSession, sf_dir: str) -> DataFrame:
    """ST4 as a real streaming query: event-time tumbling window aggregate
    over the events stream, complete-mode snapshot after a bounded
    availableNow pass — the streaming twin of evt_tumbling_daily_by_type,
    held to the identical DuckDB oracle."""
    ev = stream_table(spark, sf_dir, "events")
    agg = (
        ev.withWatermark("ts", "1 hour")
        .groupBy(F.window("ts", "1 day").alias("w"), "event_type")
        .agg(F.count(F.lit(1)).alias("n"), dsum("value").alias("total_value"))
        .select(
            F.date_format("w.start", "yyyy-MM-dd HH:mm:ss").alias("win_start"),
            "event_type",
            "n",
            "total_value",
        )
    )
    drain(agg, "stream_tumbling_daily_by_type", mode="complete", parts=2)
    return spark.table("stream_tumbling_daily_by_type")


@query("stream_sliding_12h_windows", oracle=ORACLE_SLIDING_12H)
def stream_sliding_12h_windows(spark: SparkSession, sf_dir: str) -> DataFrame:
    """ST4 sliding windows as a real streaming query: 1-day windows every
    12 hours over the events stream (each event in exactly 2 windows'
    state), complete-mode snapshot after a bounded availableNow pass —
    the streaming twin of evt_sliding_12h_windows, held to the identical
    two-phase-grid DuckDB oracle. Completes the streaming window-family
    parity: tumbling / sliding / session are all graded in BOTH batch and
    stream modes."""
    ev = stream_table(spark, sf_dir, "events")
    agg = (
        ev.withWatermark("ts", "1 hour")
        .groupBy(F.window("ts", "1 day", "12 hours").alias("w"))
        .agg(F.count(F.lit(1)).alias("n"), dsum("value").alias("total_value"))
        .select(
            F.date_format("w.start", "yyyy-MM-dd HH:mm:ss").alias("win_start"),
            "n",
            "total_value",
        )
    )
    drain(agg, "stream_sliding_12h_windows", mode="complete")
    return spark.table("stream_sliding_12h_windows")


@query(
    "stream_dedup_user_day",
    oracle="""
    SELECT DISTINCT user_id, CAST(CAST(ts AS DATE) AS VARCHAR) AS day
    FROM events
    """,
)
def stream_dedup_user_day(spark: SparkSession, sf_dir: str) -> DataFrame:
    """ST5 streaming dedup: withWatermark + dropDuplicates on
    (user_id, day) — the first event per key passes, later duplicates are
    dropped against watermark-bounded state. Output projects only the key
    (which survivor wins depends on arrival order; the key set is exact),
    so the DuckDB DISTINCT oracles it."""
    ev = stream_table(spark, sf_dir, "events")
    deduped = (
        ev.withColumn("day", F.to_date("ts").cast("string"))
        .withWatermark("ts", "1 day")
        .dropDuplicates(["user_id", "day"])
        .select("user_id", "day")
    )
    drain(deduped, "stream_dedup_user_day", parts=2)
    return spark.table("stream_dedup_user_day")


@query(
    "stream_rocksdb_dedup_user_type",
    oracle="""
    SELECT DISTINCT user_id, event_type FROM events
    """,
)
def stream_rocksdb_dedup_user_type(spark: SparkSession, sf_dir: str) -> DataFrame:
    """ST6 state at scale: watermarked streaming dedup on
    (user_id, event_type) running on the RocksDB state store provider —
    keyed state lives off-heap in RocksDB with changelog checkpointing
    instead of the default in-JVM-heap HDFSBackedStateStore. At 100 TB the
    dedup key space outgrows executor heap; RocksDB spills to local SSD and
    restores from the checkpoint on failover, so the same plan survives.
    The answer must be byte-identical to the heap provider's — the DISTINCT
    oracle checks exactly that."""
    provider = {
        "spark.sql.streaming.stateStore.providerClass":
        "org.apache.spark.sql.execution.streaming.state.RocksDBStateStoreProvider"
    }
    with scoped_confs(spark, provider):
        ev = stream_table(spark, sf_dir, "events")
        deduped = (
            ev.withWatermark("ts", "1 day")
            .dropDuplicates(["user_id", "event_type"])
            .select("user_id", "event_type")
        )
        drain(deduped, "stream_rocksdb_dedup_user_type", parts=2)
    return spark.table("stream_rocksdb_dedup_user_type")


@query(
    "stream_static_enrich_segment",
    oracle="""
    SELECT c_mktsegment, COUNT(*) AS n_events,
           CAST(SUM(CAST(value AS DECIMAL(28,4))) AS DOUBLE) AS total_value
    FROM events JOIN customer ON user_id = c_custkey
    GROUP BY c_mktsegment
    """,
)
def stream_static_enrich_segment(spark: SparkSession, sf_dir: str) -> DataFrame:
    """J7 stream-static join: the events stream enriched against the static
    customer dimension, aggregated per market segment. The static side is
    re-resolvable per micro-batch; no broadcast hint — customer is
    SF-scaled, the per-batch planner picks broadcast when it fits."""
    ev = stream_table(spark, sf_dir, "events")
    cust = t(spark, sf_dir, "customer")
    agg = (
        ev.join(cust, ev.user_id == cust.c_custkey, "inner")
        .groupBy("c_mktsegment")
        .agg(F.count(F.lit(1)).alias("n_events"), dsum("value").alias("total_value"))
    )
    drain(agg, "stream_static_enrich_segment", mode="complete")
    return spark.table("stream_static_enrich_segment")


@query("stream_session_windows_30m", oracle=ORACLE_SESSION_30M)
def stream_session_windows_30m(spark: SparkSession, sf_dir: str) -> DataFrame:
    """ST4 session windows as a real streaming query: state-store-merged
    F.session_window sessions (30-minute gap), complete-mode snapshot over
    a bounded pass (update mode is unsupported for session windows) — same
    gaps-and-islands oracle as the batch twin (evt_session_windows_30m)."""
    ev = stream_table(spark, sf_dir, "events")
    agg = (
        ev.withWatermark("ts", "1 hour")
        .groupBy(F.session_window("ts", "30 minutes").alias("w"), "user_id")
        .agg(F.count(F.lit(1)).alias("n_events"), F.min("ts").alias("first_ts"))
        .select(
            "user_id",
            F.date_format("first_ts", "yyyy-MM-dd HH:mm:ss.SSSSSS").alias(
                "session_start"
            ),
            "n_events",
        )
    )
    drain(agg, "stream_session_windows_30m", mode="complete", parts=2)
    return spark.table("stream_session_windows_30m")


@query(
    "stream_stateful_running_count",
    oracle="""
    SELECT event_type AS key, COUNT(*) AS total
    FROM events GROUP BY event_type
    """,
)
def stream_stateful_running_count(spark: SparkSession, sf_dir: str) -> DataFrame:
    """ST6/§2.10 custom stateful operator as a graded query: the
    applyInPandasWithState running keyed count (streaming.stateful) over
    the events stream. The memory sink logs one row per key per batch;
    taking each key's max running total yields the end-of-stream counts —
    which must equal the batch GROUP BY."""
    from ..streaming.stateful import running_keyed_count

    ev = stream_table(spark, sf_dir, "events").select(F.col("event_type").alias("key"))
    counted = running_keyed_count(ev)
    drain(counted, "stream_stateful_running_count", mode="update")
    return (
        spark.table("stream_stateful_running_count")
        .groupBy("key")
        .agg(F.max("total").alias("total"))
    )


@query(
    "stream_stream_join_error_purchase",
    oracle="""
    SELECT e.event_id AS error_id, p.event_id AS purchase_id, p.value AS purchase_value
    FROM (SELECT * FROM events WHERE event_type = 'error') e
    JOIN (SELECT * FROM events WHERE event_type = 'purchase') p
      ON e.user_id = p.user_id
     AND p.ts >= e.ts - INTERVAL '1 hour' AND p.ts <= e.ts
    """,
)
def stream_stream_join_error_purchase(spark: SparkSession, sf_dir: str) -> DataFrame:
    """J7 stream-stream join: errors joined to same-user purchases in the
    preceding hour. Both sides watermarked so join state is bounded (the
    interval condition lets Spark evict rows older than watermark+1h);
    inner-join matches emit eagerly, so the bounded pass yields the full
    relational answer."""
    ev = stream_table(spark, sf_dir, "events")
    errors = (
        ev.filter(F.col("event_type") == "error")
        .select(
            F.col("event_id").alias("error_id"),
            F.col("user_id").alias("e_user"),
            F.col("ts").alias("e_ts"),
        )
        .withWatermark("e_ts", "1 hour")
    )
    purchases = (
        ev.filter(F.col("event_type") == "purchase")
        .select(
            F.col("event_id").alias("purchase_id"),
            F.col("user_id").alias("p_user"),
            F.col("ts").alias("p_ts"),
            F.col("value").alias("purchase_value"),
        )
        .withWatermark("p_ts", "1 hour")
    )
    joined = errors.join(
        purchases,
        (F.col("e_user") == F.col("p_user"))
        & (F.col("p_ts") >= F.col("e_ts") - F.expr("INTERVAL 1 HOUR"))
        & (F.col("p_ts") <= F.col("e_ts")),
        "inner",
    ).select("error_id", "purchase_id", "purchase_value")
    drain(joined, "stream_stream_join_error_purchase", parts=2)
    return spark.table("stream_stream_join_error_purchase")


@query(
    "stream_stream_left_join_error_purchase",
    oracle="""
    SELECT e.event_id AS error_id,
           COALESCE(p.event_id, -1) AS purchase_id,
           COALESCE(p.value, -1.0) AS purchase_value
    FROM (SELECT * FROM events WHERE event_type = 'error') e
    LEFT JOIN (SELECT * FROM events WHERE event_type = 'purchase') p
      ON e.user_id = p.user_id
     AND p.ts >= e.ts - INTERVAL '1 hour' AND p.ts <= e.ts
    """,
)
def stream_stream_left_join_error_purchase(spark: SparkSession, sf_dir: str) -> DataFrame:
    """J7 stream-stream LEFT OUTER join: like the inner variant, but errors
    with no same-user purchase in the preceding hour emit a null-extended
    row. Outer rows only flush once the watermark proves no future match is
    possible, so the source is the sentinel-extended stream
    (_stream_events_sentinel): a year-2100 marker drives the final
    watermark past every real error, and the bounded pass emits the
    complete relational LEFT JOIN. Sentinel rows (user_id = -1) are
    filtered from the output. Unmatched rows surface as purchase_id = -1 /
    purchase_value = -1.0 (not NULL): a NULL bigint column is the one
    output type whose driver-side fetch behavior is unproven (pandas
    degrades nullable int64 to float64; arrow doesn't), and the
    graded contract must not hinge on which fetch the driver uses."""
    ev = _stream_events_sentinel(spark, sf_dir)
    errors = (
        ev.filter(F.col("event_type") == "error")
        .select(
            F.col("event_id").alias("error_id"),
            F.col("user_id").alias("e_user"),
            F.col("ts").alias("e_ts"),
        )
        .withWatermark("e_ts", "1 hour")
    )
    purchases = (
        ev.filter(F.col("event_type") == "purchase")
        .select(
            F.col("event_id").alias("purchase_id"),
            F.col("user_id").alias("p_user"),
            F.col("ts").alias("p_ts"),
            F.col("value").alias("purchase_value"),
        )
        .withWatermark("p_ts", "1 hour")
    )
    joined = errors.join(
        purchases,
        (F.col("e_user") == F.col("p_user"))
        & (F.col("p_ts") >= F.col("e_ts") - F.expr("INTERVAL 1 HOUR"))
        & (F.col("p_ts") <= F.col("e_ts")),
        "left_outer",
    ).select(
        "error_id",
        F.coalesce(F.col("purchase_id"), F.lit(-1)).alias("purchase_id"),
        F.coalesce(F.col("purchase_value"), F.lit(-1.0)).alias("purchase_value"),
    )
    drain(joined, "stream_stream_left_join_error_purchase", parts=2)
    # Sentinel filter happens on the BATCH read-back, not inside the
    # streaming plan: a pre-join filter would be pushed below the watermark
    # operator and the sentinel would never advance the watermark.
    return spark.table("stream_stream_left_join_error_purchase").filter(
        F.col("error_id") != F.lit(-1)
    )


@query(
    "stream_versioned_sink_roundtrip",
    oracle="""
    SELECT event_type, COUNT(*) AS n,
           CAST(SUM(CAST(value AS DECIMAL(28,4))) AS DOUBLE) AS total_value
    FROM events GROUP BY event_type
    """,
)
def stream_versioned_sink_roundtrip(spark: SparkSession, sf_dir: str) -> DataFrame:
    """S5-S8 as one graded path: a complete-mode per-type aggregate where
    every micro-batch commits as a NEW version of a named blob through the
    foreachBatch VersionedSink — the reference's periodic top-k flush into
    SDFS (server/Crane.go:193-204, server/wordCount.go:99-137) — and the
    answer is what time travel reads back from the LATEST committed
    version. The oracle therefore certifies the whole
    write → manifest-commit → read-latest cycle, not an in-memory result.
    Scale: the sink write is a normal parallel parquet job per trigger;
    state is aggregate-sized."""
    import tempfile

    from ..streaming.sinks import VersionedSink, read_latest

    ev = stream_table(spark, sf_dir, "events")
    agg = ev.groupBy("event_type").agg(
        F.count(F.lit(1)).alias("n"), dsum("value").alias("total_value")
    )
    from . import register_scratch_dir

    base = register_scratch_dir(tempfile.mkdtemp(prefix="crane_vsink_q_"))
    drain(agg, VersionedSink(base, "by_type"), mode="complete")
    return read_latest(spark, base, "by_type")


@query(
    "stream_merge_sink_roundtrip",
    oracle="""
    SELECT event_type, COUNT(*) AS n,
           CAST(SUM(CAST(value AS DECIMAL(28,4))) AS DOUBLE) AS total_value
    FROM events GROUP BY event_type
    """,
)
def stream_merge_sink_roundtrip(spark: SparkSession, sf_dir: str) -> DataFrame:
    """A2 merge-commit as a graded path: the same per-type aggregate in
    UPDATE mode — each micro-batch emits only changed keys, and the keyed
    MergeSink upserts them into the latest snapshot (the reference joiner's
    mergeCache fold of staged partials into its running result map,
    server/wordCount.go:33-43). Because every key's final update carries
    the full aggregate value, the last snapshot equals the complete-mode
    answer — which is exactly what the batch oracle asserts. Retried
    batches are idempotent no-ops (version-ledger check), the exactly-once
    property the reference's at-least-once acker lacked (ST1)."""
    import tempfile

    from ..streaming.sinks import MergeSink, read_latest

    ev = stream_table(spark, sf_dir, "events")
    agg = ev.groupBy("event_type").agg(
        F.count(F.lit(1)).alias("n"), dsum("value").alias("total_value")
    )
    from . import register_scratch_dir

    base = register_scratch_dir(tempfile.mkdtemp(prefix="crane_msink_q_"))
    drain(agg, MergeSink(base, "by_type", keys=["event_type"]), mode="update")
    return read_latest(spark, base, "by_type")


@query(
    "stream_append_daily_by_type",
    oracle="""
    SELECT strftime(time_bucket(INTERVAL '1 day', ts), '%Y-%m-%d %H:%M:%S') AS win_start,
           event_type,
           COUNT(*) AS n,
           CAST(SUM(CAST(value AS DECIMAL(28,4))) AS DOUBLE) AS total_value
    FROM events
    GROUP BY 1, 2
    """,
)
def stream_append_daily_by_type(spark: SparkSession, sf_dir: str) -> DataFrame:
    """ST4/ST5 APPEND-mode windowed aggregate — the mode that scales:
    each window row is emitted exactly once when the watermark passes its
    end and its state is EVICTED (complete mode instead retains every
    window forever). The far-future sentinel rows push the watermark past
    all real windows so the bounded pass emits them; the sentinel's own
    late window is filtered out (its far window never closes and the
    far-2d one is post-aggregation-filtered — a filter on the window key
    is append-legal). Oracle: the same per-day totals, batch-derived."""
    ev = _stream_events_sentinel(spark, sf_dir)
    agg = (
        ev.withWatermark("ts", "1 hour")
        .groupBy(F.window("ts", "1 day").alias("w"), "event_type")
        .agg(F.count(F.lit(1)).alias("n"), dsum("value").alias("total_value"))
        .select(
            F.date_format("w.start", "yyyy-MM-dd HH:mm:ss").alias("win_start"),
            "event_type",
            "n",
            "total_value",
        )
        .filter(F.col("win_start") < "2099-01-01")
    )
    drain(agg, "stream_append_daily_by_type")
    return spark.table("stream_append_daily_by_type")


@query(
    "stream_dedup_within_watermark",
    oracle="""
    SELECT DISTINCT user_id, event_type FROM events
    """,
)
def stream_dedup_within_watermark(spark: SparkSession, sf_dir: str) -> DataFrame:
    """ST5 bounded-state streaming dedup: dropDuplicatesWithinWatermark
    evicts a key's dedup state once the watermark passes its event time +
    delay — the ONLY dedup that survives an infinite stream. Plain
    dropDuplicates keeps one state row per key forever (fine for
    (user, day) keys whose state the day-valued watermark also bounds;
    fatal for unbounded key spaces like message ids at 100 TB/day).
    The contract trade: duplicates are only guaranteed dropped if they
    arrive within the delay of the first sighting. Over this bounded
    single-pass run the watermark only advances at the end, so no state
    evicts mid-query and the key set equals DISTINCT — which the oracle
    pins exactly; the eviction behavior itself is the documented scale
    property."""
    ev = stream_table(spark, sf_dir, "events")
    deduped = (
        ev.withWatermark("ts", "2 days")
        .dropDuplicatesWithinWatermark(["user_id", "event_type"])
        .select("user_id", "event_type")
    )
    drain(deduped, "stream_dedup_within_watermark")
    return spark.table("stream_dedup_within_watermark")


# Oracle is the batch twin's, verbatim: the stream must answer identically.
_ORACLE_MM_AHASH = """
    WITH d AS (SELECT doc_id, 8 + doc_id % 9 AS w, 4 + doc_id % 5 AS h
               FROM documents),
    gx AS (SELECT doc_id, w, h, unnest(range(0, 8)) AS x FROM d),
    g AS (SELECT doc_id, w, h, x, unnest(range(0, 8)) AS y FROM gx),
    p AS (SELECT doc_id, y * 8 + x AS cell,
            (((x*w)//8)*7 + ((y*h)//8)*3 + doc_id) % 256
          + (((x*w)//8)*5 + ((y*h)//8)*11 + 2*doc_id) % 256
          + (((x*w)//8) + ((y*h)//8) + 3*doc_id) % 256 AS gray
          FROM g),
    t AS (SELECT doc_id, SUM(gray) AS total FROM p GROUP BY doc_id)
    SELECT p.doc_id AS media_id,
           CAST(SUM(CASE WHEN cell < 32 AND gray * 64 > total
                         THEN (1::BIGINT << cell) ELSE 0 END) AS BIGINT)
             AS ahash_w0,
           CAST(SUM(CASE WHEN cell >= 32 AND gray * 64 > total
                         THEN (1::BIGINT << (cell - 32)) ELSE 0 END) AS BIGINT)
             AS ahash_w1,
           CAST(SUM(CASE WHEN gray * 64 > total THEN 1 ELSE 0 END) AS BIGINT)
             AS bits_set
    FROM p JOIN t USING (doc_id) GROUP BY p.doc_id
"""


def _stream_media(spark: SparkSession, sf_dir: str, kind: str) -> DataFrame:
    """ENCODED media blobs arriving on a file stream — the landing-zone
    shape (a crawler drops containers; fingerprints are extracted as
    they land): streams the per-process media fixture
    (northstar.media_fixture_dir), so the streamed bytes are the REAL
    encoded containers the batch queries decode. The encode step is not
    in the per-micro-batch plan: it is corpus synthesis, not the
    streaming operator under test."""
    from ..operators.multimodal import _SYNTH_SCHEMA
    from .northstar import media_fixture_dir

    return spark.readStream.schema(_SYNTH_SCHEMA).parquet(
        media_fixture_dir(spark, sf_dir, kind)
    )


@query("stream_mm_ahash_fingerprint", oracle=_ORACLE_MM_AHASH)
def stream_mm_ahash_fingerprint(spark: SparkSession, sf_dir: str) -> DataFrame:
    """The multimodal pipeline AS A STREAM: real encoded BMP blobs
    arrive on a file stream (the landed media fixture — a crawler's
    landing zone) and each micro-batch runs the byte-level decode →
    perceptual-hash chain (the same Arrow-batched mapInPandas stage as
    mm_bmp_ahash_fingerprint — mapInPandas is stateless, so it composes
    with Structured Streaming unchanged), append-mode into the sink,
    graded against the identical closed-form oracle. Proves the
    engine's media operators are not batch-only: the ingest shape for a
    production corpus (media blobs landing continuously, fingerprints
    emitted incrementally for the dedup index) runs on the same code
    path. No watermark needed — the pipeline is stateless 1→1."""
    from ..operators import multimodal as M

    hashed = M.bmp_ahash(spread(_stream_media(spark, sf_dir, "bmp")))
    drain(hashed, "stream_mm_ahash_fingerprint")
    return spark.table("stream_mm_ahash_fingerprint")


@query("stream_mm_png_ahash", oracle=_ORACLE_MM_AHASH)
def stream_mm_png_ahash(spark: SparkSession, sf_dir: str) -> DataFrame:
    """The COMPRESSED codec on a stream: real PNG blobs arrive on a
    file stream (the landed media fixture) and run the full decompress
    path — per-chunk CRC32 validation, multi-IDAT zlib inflate,
    five-type scanline defilter (operators/multimodal.py
    decode_png_pixels) — then the same all-integer aHash, inside a
    stateless Arrow-batched mapInPandas stage, append-mode. Graded
    against the SAME closed-form oracle as both BMP fingerprint queries
    (batch and stream): the fingerprint of a correct decoder is
    container-invariant AND execution-mode-invariant, so a mixed
    landing zone (BMP and PNG assets arriving continuously) feeds one
    dedup index with directly joinable hash words. At 100 TB the
    inflate+defilter cost rides the partition-parallel decode stage —
    no shuffle, no state, O(new blobs) per trigger."""
    from ..operators import multimodal as M

    hashed = M.png_ahash(spread(_stream_media(spark, sf_dir, "png")))
    drain(hashed, "stream_mm_png_ahash")
    return spark.table("stream_mm_png_ahash")


def _oracle_stream_pii_redact() -> str:
    from .curation import ORACLE_PII_REDACT

    return ORACLE_PII_REDACT


@query("stream_pii_redact", oracle=_oracle_stream_pii_redact())
def stream_pii_redact(spark: SparkSession, sf_dir: str) -> DataFrame:
    """PII scrubbing ON INGEST — where a production pipeline actually
    runs it (documents are redacted the moment they land, so nothing
    downstream ever sees the raw identifiers): the documents file stream
    flows through the IDENTICAL transform as the batch pass
    (curation.build_pii_redact — one shared definition, so batch grade
    and streaming deployment cannot desynchronize), append-mode, graded
    against the same oracle: per-doc match counts, redacted-text md5,
    and the fully-redacted completeness certificate. Stateless 1→1
    row-local regex in whole-stage codegen — no watermark, no state,
    O(new docs) per trigger at any corpus size."""
    from .curation import build_pii_redact

    out = build_pii_redact(
        spread(stream_table(spark, sf_dir, "documents").select("doc_id", "text"))
    )
    drain(out, "stream_pii_redact")
    return spark.table("stream_pii_redact")


def _oracle_stream_dedup_minhash() -> str:
    # The batch LSH-banding CTE, verbatim (northstar is loaded before this
    # module): the stream must surface exactly the batch pipeline's
    # distinct band buckets.
    from .northstar import _CTE_LSH_BANDS

    return _CTE_LSH_BANDS + """
    SELECT DISTINCT CAST(band_idx AS BIGINT) AS band_idx, band_hash
    FROM bands
    """


@query("stream_dedup_minhash", oracle=_oracle_stream_dedup_minhash())
def stream_dedup_minhash(spark: SparkSession, sf_dir: str) -> DataFrame:
    """STREAMING near-duplicate detection (ST5 × the dedup north star):
    documents arrive on a file stream, each one runs the SAME row-local
    minhash-LSH banding as the batch pipeline
    (operators/dedup.py lsh_bands — tokens → 3-shingles → 12-hash
    signature → 4 band md5s; pure array expressions, so the stage
    composes with Structured Streaming unchanged), and
    dropDuplicatesWithinWatermark over (band_idx, band_hash) keeps only
    each band bucket's FIRST sighting. A later document whose every band
    is already claimed emits nothing new — the streaming analogue of
    'this document has an LSH collision with the corpus seen so far',
    which is how a continuously-ingesting corpus rejects near-dups
    without re-scanning history. State is BOUNDED: the watermark (2 days
    over an event time synthesized deterministically as 2023-11-14T22:13:20Z
    + doc_id seconds — offset from epoch 0 because a row whose event time
    EQUALS the initial watermark of an empty state store is already
    'expired' and silently dropped) evicts bucket keys once they age
    out, so state holds only
    the recent window's buckets — the unbounded-key-space property plain
    dropDuplicates lacks (tests/test_streaming.py asserts the eviction
    by re-feeding an old document after the watermark passed and seeing
    its buckets re-emit). Over this bounded single-pass run nothing
    evicts mid-query, so the emitted key set equals the batch pipeline's
    DISTINCT band buckets — which the oracle pins row-exactly via the
    same banding CTE as dedup_minhash_lsh_jaccard."""
    from ..operators import dedup as D

    docs = stream_table(spark, sf_dir, "documents")
    staged = docs.select(
        "doc_id",
        "text",
        F.timestamp_seconds(F.lit(1700000000) + F.col("doc_id")).alias("ts"),
    )
    banded = D.lsh_bands(spread(staged), "doc_id", "text")
    deduped = (
        banded.withWatermark("ts", "2 days")
        .dropDuplicatesWithinWatermark(["band_idx", "band_hash"])
        .select(F.col("band_idx").cast("long").alias("band_idx"), "band_hash")
    )
    drain(deduped, "stream_dedup_minhash")
    return spark.table("stream_dedup_minhash")


def _oracle_stream_dedup_index_ingest() -> str:
    # The same batch banding CTE: the persisted index must hold exactly
    # the batch pipeline's (doc_id, band_idx, band_hash) rows — once
    # each, despite the forced replay.
    from .northstar import _CTE_LSH_BANDS

    return _CTE_LSH_BANDS + """
    SELECT doc_id, CAST(band_idx AS BIGINT) AS band_idx, band_hash
    FROM bands
    """


@query(
    "stream_dedup_index_ingest", oracle=_oracle_stream_dedup_index_ingest()
)
def stream_dedup_index_ingest(spark: SparkSession, sf_dir: str) -> DataFrame:
    """STREAMING dedup-INDEX ingest with the idempotent batch sink — the
    write-side twin of `stream_dedup_minhash` (which detects collisions
    in flight) and the streaming producer of the at-rest band-bucket
    index `dedup_index_incremental_merge` consumes: documents arrive on
    a file stream, the SAME row-local minhash-LSH banding as the batch
    pipeline runs inside the streaming plan (pure Catalyst — unlike the
    ANN twin, no foreachBatch-side kernel is needed), and each
    micro-batch's (doc_id, band_idx, band_hash) rows land in parquet
    under a ``__batch_id`` partition via the generic
    `streaming.ann_ingest.idempotent_batch_sink` (dynamic partition
    overwrite per batch). After the bounded drain the first batch is
    deliberately REPLAYED through the sink — the at-least-once window —
    and the graded result is the post-replay index read back from disk:
    it must hold EXACTLY the batch pipeline's band rows, once each
    (row-level oracle over the shared banding CTE). At 100 TB this is
    how the dedup index stays fresh: O(new docs) banding per trigger,
    retryable batch writes, no re-scan of history."""
    import tempfile

    from ..operators import dedup as D
    from ..streaming.ann_ingest import idempotent_batch_sink
    from . import register_scratch_dir

    docs = spread(stream_table(spark, sf_dir, "documents").select("doc_id", "text"))
    banded = D.lsh_bands(docs, "doc_id", "text").select(
        F.col("doc").alias("doc_id"),
        F.col("band_idx").cast("long").alias("band_idx"),
        "band_hash",
    )
    out_dir = register_scratch_dir(
        tempfile.mkdtemp(prefix="crane_dedup_index_sink_")
    )
    drain(banded, idempotent_batch_sink(out_dir))
    replay_batch0(out_dir, "stream_dedup_index_ingest")
    df = spark.read.parquet(out_dir)
    return df.select("doc_id", "band_idx", "band_hash")


def _oracle_stream_ivf_ingest() -> str:
    # Batch-equivalent grade: the stream must route every vector to the
    # SAME trained cell the batch coarse quantizer computes — the oracle
    # re-derives cells from the 64 inlined plane literals (northstar is
    # loaded before this module).
    from .northstar import _sql_ivf_cell64

    return f"""
    SELECT vec_id,
           CAST({_sql_ivf_cell64('embedding')} AS INTEGER) AS cell
    FROM embeddings
    WHERE vec_id IS NOT NULL AND embedding IS NOT NULL
    """


@query("stream_ivf_ingest", oracle=_oracle_stream_ivf_ingest())
def stream_ivf_ingest(spark: SparkSession, sf_dir: str) -> DataFrame:
    """STREAMING incremental ANN-index ingest (the production
    index-maintenance path): embeddings arrive on a file stream and each
    micro-batch routes every new vector to its TRAINED
    k=64 IVF cell via the coarse quantizer
    (operators/similarity.py ivf_assign — the 1-row broadcast
    centroid_matrix relation cross-joined in as a stream-static join,
    then a row-local F.transform dot fold + argmax). Because the stage
    is row-local with centroids as broadcast DATA, it composes with
    Structured Streaming unchanged (the lsh_bands precedent,
    stream_dedup_minhash above) and the physical plan stays O(1) in k —
    NO literal-centroid expressions (plan-asserted in
    tests/test_plan_quality.py). This is how a billion-vector deployment
    keeps its inverted file fresh: the index build trains once offline
    (kmeans_fit / ivf_bucket_corpus), and arrivals thereafter are a
    stateless 1→1 append — no state store, no watermark, no re-scan of
    history; at 100 TB the ingest cost is one scan of the NEW data only.
    Graded batch-equivalently: append-mode output (vec_id, cell) must
    hash-match the batch assignment the oracle re-derives from the same
    64 plane literals (deterministic first-occurrence argmax tiebreak on
    both engines)."""
    from ..operators import similarity as S
    from .northstar import _CENTROIDS64

    emb = spread(
        stream_table(spark, sf_dir, "embeddings").filter(
            F.col("vec_id").isNotNull() & F.col("embedding").isNotNull()
        )
    )
    assigned = S.ivf_assign(emb, _CENTROIDS64)
    drain(assigned, "stream_ivf_ingest")
    return spark.table("stream_ivf_ingest")


# Fixed seeded PQ codebooks for the streaming ingest grade: m=8 subspaces
# of dsub=8 dims, ksub=16 codes each — seeded md5 pseudo-randoms
# (similarity.hyperplanes), so the oracle can inline the same literals.
# A production deployment would pq_fit these offline; the ingest path
# under test is identical either way (codes ride a broadcast relation).
_PQ_STREAM_DSUB = 8


def _pq_stream_books() -> list[list[list[float]]]:
    from ..operators import similarity as S

    return [
        S.hyperplanes(16, _PQ_STREAM_DSUB, seed=f"crane-pq-sub{j}")
        for j in range(8)
    ]


def _oracle_stream_ivfpq_ingest() -> str:
    # Batch-equivalent grade, fully row-level: cell from the 64 inlined
    # ivf planes, per-subspace code from the inlined codebook literals —
    # argmax(dot − ||c||²/2), first-occurrence (lowest-code) tiebreak on
    # both engines.
    from .northstar import _sql_ivf_cell64, _sql_plane

    dsub = _PQ_STREAM_DSUB
    score_cols = []
    for j, book in enumerate(_pq_stream_books()):
        terms = ", ".join(
            f"list_dot_product(CAST(embedding[{j * dsub + 1}:{j * dsub + dsub}]"
            f" AS DOUBLE[]), {_sql_plane(vec)})"
            f" - {sum(x * x for x in vec) / 2.0!r}"
            for vec in book
        )
        score_cols.append(f"[{terms}] AS s{j}")
    branches = "\n    UNION ALL\n    ".join(
        f"SELECT vec_id, CAST({j} AS INTEGER) AS sub_id,"
        f" CAST(list_position(s{j}, list_max(s{j})) - 1 AS INTEGER) AS code,"
        f" cell FROM scored"
        for j in range(8)
    )
    return f"""
    WITH celled AS (
      SELECT vec_id, embedding,
             CAST({_sql_ivf_cell64('embedding')} AS INTEGER) AS cell
      FROM embeddings
      WHERE vec_id IS NOT NULL AND embedding IS NOT NULL
    ),
    scored AS (
      SELECT vec_id, cell, {', '.join(score_cols)} FROM celled
    )
    {branches}
    """


@query("stream_ivfpq_ingest", oracle=_oracle_stream_ivfpq_ingest())
def stream_ivfpq_ingest(spark: SparkSession, sf_dir: str) -> DataFrame:
    """STREAMING IVF×PQ index ingest — the FULL FAISS-style maintenance
    path (`stream_ivf_ingest` routes to cells; this also COMPRESSES):
    each arriving vector gets its coarse cell AND its m=8 product-quantizer
    codes in one stateless pass, i.e. everything a billion-vector
    IVF×PQ deployment must write per new vector (the 8-byte code row IS
    the index entry; the float vector can be discarded). Codes come
    from the one code assigner (`pq_codes`): the codebooks ride the 1-row
    broadcast `codebook_matrix` relation (the `centroid_matrix` pattern)
    and each code is a row-local argmax with ties to the lowest code, so
    a stream needs no aggregation, watermark or state for it. Output
    grain is the index's own: one (vec_id, sub_id, code, cell) row per
    subspace via posexplode (stateless generator, append mode, no
    watermark). Graded row-level against the oracle's inlined plane +
    codebook literals. At 100 TB: O(new data) per micro-batch, plan
    O(1) in k·m·ksub, no shuffle before the sink."""
    from ..operators import similarity as S
    from .northstar import _CENTROIDS64

    emb = spread(
        stream_table(spark, sf_dir, "embeddings").filter(
            F.col("vec_id").isNotNull() & F.col("embedding").isNotNull()
        )
    )
    staged = S.pq_codes(
        S.coarse_dots(emb, _CENTROIDS64, "embedding"),
        _pq_stream_books(),
        "embedding",
    ).select(
        "vec_id",
        S.ivf_centroid(F.col("__dots")).alias("cell"),
        F.posexplode("__codes").alias("sub_id", "code"),
    )
    out = staged.select("vec_id", "sub_id", "code", "cell")
    drain(out, "stream_ivfpq_ingest")
    return spark.table("stream_ivfpq_ingest")


@query("stream_ivfpq_arrow_idempotent_sink", oracle=_oracle_stream_ivfpq_ingest())
def stream_ivfpq_arrow_idempotent_sink(
    spark: SparkSession, sf_dir: str
) -> DataFrame:
    """The PRODUCTION ingest path itself under the row-level hash gate:
    the same embeddings stream as `stream_ivfpq_ingest`, but encoded by
    the fused Arrow kernel (`similarity.ivfpq_encode_arrow` — one
    vectorized sequential-fold pass per Arrow batch instead of the
    interpreted relational scoring; rates in DESIGN.md, from
    tools/scale_probe.py --ingest-only) inside ``foreachBatch``,
    writing PARQUET partitioned by ``__batch_id`` with dynamic partition
    overwrite (`streaming.ann_ingest`). After the bounded drain, the
    first batch is deliberately REPLAYED through the sink — the exact
    at-least-once window (failure between sink write and offset commit;
    the duplicate-version hazard the reference's SDFS append carries,
    server/sdfs.go:276-283) — and the graded result is the POST-REPLAY
    table read back from disk. It must hash-match the SAME oracle as the
    relational stream: identical cells and codes (the kernel's strict
    sequential dots == Catalyst == DuckDB) AND exactly one copy of every
    row (the replay overwrote its own partition instead of appending).
    At 100 TB this is the deployment contract: O(new data) per
    micro-batch, retryable batch writes, plain parquet."""
    import tempfile

    from ..streaming.ann_ingest import ivfpq_index_sink, read_ivfpq_index
    from . import register_scratch_dir
    from .northstar import _CENTROIDS64

    emb = stream_table(spark, sf_dir, "embeddings").filter(
        F.col("vec_id").isNotNull() & F.col("embedding").isNotNull()
    )
    out_dir = register_scratch_dir(tempfile.mkdtemp(prefix="crane_ivfpq_sink_"))
    drain(emb, ivfpq_index_sink(out_dir, _CENTROIDS64, _pq_stream_books()))
    replay_batch0(out_dir, "stream_ivfpq_arrow_idempotent_sink")
    return read_ivfpq_index(spark, out_dir)


def _oracle_stream_dsir_score() -> str:
    # Batch-equivalent grade: model (densified 256-bucket LLR list,
    # position-aligned by base-16-parsed md5 prefix) re-derived in SQL,
    # each document scored by the SAME text-order left fold the stream's
    # row-local F.aggregate runs.
    from .northstar import SQL_TOKS

    return f"""
    WITH bgx AS (
      SELECT doc_id, lang,
             [tk[i] || ' ' || tk[i+1]
              FOR i IN range(1, greatest(len(tk), 1))] AS bg
      FROM (SELECT doc_id, lang, {SQL_TOKS} AS tk FROM documents)
    ),
    cnts AS (
      SELECT idx, COUNT(*) AS r_cnt,
             COALESCE(SUM(CASE WHEN is_tgt THEN 1 END), 0) AS t_cnt
      FROM (
        SELECT CAST(('0x' || substr(md5(b), 1, 2)) AS INTEGER) AS idx,
               lang = 'en' AS is_tgt
        FROM (SELECT lang, unnest(bg) AS b FROM bgx)
      )
      GROUP BY idx
    ),
    grid AS (SELECT unnest(range(0, 256)) AS idx),
    full_t AS (
      SELECT g.idx, COALESCE(c.r_cnt, 0) AS r_cnt,
             COALESCE(c.t_cnt, 0) AS t_cnt
      FROM grid g LEFT JOIN cnts c USING (idx)
    ),
    tot AS (SELECT SUM(r_cnt) AS rt, SUM(t_cnt) AS tt FROM full_t),
    model AS (
      SELECT list(ln((t_cnt + 1.0) / (tt + 256.0))
                  - ln((r_cnt + 1.0) / (rt + 256.0)) ORDER BY idx) AS llr
      FROM full_t CROSS JOIN tot
    )
    SELECT doc_id, len(bg) AS n_bigrams,
           round(list_reduce(
             list_prepend(0.0, list_transform(
               bg, b -> llr[CAST(('0x' || substr(md5(b), 1, 2))
                                 AS INTEGER) + 1])),
             (a, x) -> a + x), 6) AS dsir_logweight
    FROM bgx CROSS JOIN model
    """


def _dsir_model(spark: SparkSession, sf_dir: str) -> DataFrame:
    """The offline-trained 256-bucket DSIR LLR model for the streaming
    consumers, an artifact like the k-means and PQ models: both streaming
    DSIR queries declare the model "trained offline on the batch corpus",
    so the trained values are collected once (256 doubles — a bounded
    model artifact, the same boundedness contract as the k-means
    centroid lists) and re-enter every consumer as a literal one-row
    relation instead of a corpus tokenize→bigram→hash→aggregate inside
    each drain's plan. Lossless: collect → Python float →
    createDataFrame round-trips doubles bit-exactly, so scores are
    identical to deriving the relation inline (both stream consumers
    stay row-graded against the oracle's from-scratch model
    re-derivation)."""
    from ..operators.text import dsir_model_array
    from . import artifact

    def _train() -> list[float]:
        # dsir_model_array's internal shared cache is registered for the
        # harness's post-query release_query_caches sweep, per contract.
        row = dsir_model_array(
            t(spark, sf_dir, "documents"), "text", F.col("lang") == "en"
        ).collect()[0]
        return [float(x) for x in row.llr]

    llr = artifact("crane_dsir_model", sf_dir, _train, directory=False)
    return spark.createDataFrame([(list(llr),)], "llr array<double>")


@query("stream_dsir_score", oracle=_oracle_stream_dsir_score())
def stream_dsir_score(spark: SparkSession, sf_dir: str) -> DataFrame:
    """STREAMING DSIR importance scoring — the offline-train /
    in-flight-score split a production importance-weighting deployment
    runs: the 256-bucket LLR model is fit ONCE on the batch corpus
    (operators/text.py dsir_model_array — a one-row array<double>
    relation, the centroid_matrix precedent), broadcast into the stream
    as a stream-static crossJoin, and every arriving document scores
    itself with a row-local left fold over its bigrams in text order
    (dsir_fold_score) — stateless 1→1, no state store, no watermark, no
    re-scan of history. At 100 TB: the model is 256 doubles however big
    the corpus gets (the hashed projection IS DSIR's scalability trick),
    so scoring cost is one scan of the NEW data only — this is how the
    curate_dsir_importance weights stay fresh as a corpus ingests
    continuously. Graded batch-equivalently: append-mode (doc_id,
    n_bigrams, dsir_logweight) must hash-match the oracle's re-derived
    model + identical-order list_reduce fold (ln last-ulp absorbed by
    rounding to 6 places; the fold ORDER is the contract — a groupBy
    reformulation would reassociate the sum and break the bit-stable
    grade)."""
    from ..operators.text import dsir_fold_score, token_bigrams

    model = _dsir_model(spark, sf_dir)
    docs = spread(stream_table(spark, sf_dir, "documents"))
    staged = docs.select(
        "doc_id", token_bigrams("text").alias("bg")
    ).crossJoin(F.broadcast(model))
    scored = staged.select(
        "doc_id",
        F.size("bg").alias("n_bigrams"),
        F.round(dsir_fold_score(F.col("bg"), F.col("llr")), 6).alias(
            "dsir_logweight"
        ),
    )
    drain(scored, "stream_dsir_score")
    return spark.table("stream_dsir_score")


def build_curate_stream(
    docs: DataFrame, model: DataFrame, dedup_horizon: str = "2 days"
) -> DataFrame:
    """The composed curation pipeline as a reusable streaming transform —
    gate -> watermark-bounded content-hash dedup -> DSIR scoring. ONE
    definition shared by the graded `stream_curate_pipeline` and the
    throughput probe (`tools/scale_probe.py --curate`), so the measured
    pipeline can never desynchronize from the graded one. `docs` is a
    streaming (doc_id, text, ...) DataFrame; `model` the one-row
    broadcastable LLR relation from dsir_model_array. Dedup uses
    dropDuplicatesWithinWatermark, so state for a content hash is
    EVICTED once the watermark passes it — bounded state on an infinite
    stream (plain dropDuplicates would keep every hash forever; see the
    ST5 notes above).

    `dedup_horizon` IS the dedup guarantee: duplicate texts whose
    synthesized event times (1700000000 + doc_id seconds) land further
    apart than the horizon are legitimately both emitted — that is what
    watermark-bounded state means. A caller grading against an EXACT
    global dedup oracle must therefore pass a horizon covering the
    corpus's full doc_id span (stream_curate_pipeline derives it from
    the batch table's min/max); the default only suits corpora whose
    duplicate ids cluster within ~172,800 of each other."""
    from ..functions import let, tokens
    from ..operators.text import dsir_fold_score, token_bigrams

    sig = let(
        tokens("text"),
        lambda tk: F.struct(
            F.size(tk).alias("n_words"),
            F.aggregate(tk, F.lit(0), lambda a, x: a + F.length(x)).alias(
                "sum_len"
            ),
            F.size(F.filter(tk, lambda x: x.isin("a", "the"))).alias(
                "n_stop"
            ),
            F.size(F.array_distinct(tk)).alias("n_distinct"),
        ),
    )
    nw = F.col("s.n_words")
    mwl = F.col("s.sum_len").cast("double") / nw
    sfr = F.col("s.n_stop").cast("double") / nw
    dfr = F.col("s.n_distinct").cast("double") / nw
    ok = (
        nw.between(25, 80)
        & (mwl >= 3.0)
        & (mwl <= 7.0)
        & (sfr <= 0.35)
        & (dfr >= 0.55)
    )
    gated = (
        docs.select(
            "doc_id",
            "text",
            F.timestamp_seconds(F.lit(1700000000) + F.col("doc_id")).alias(
                "ts"
            ),
            sig.alias("s"),
        )
        .filter(nw > 0)
        .filter(ok)
    )
    deduped = (
        gated.select(F.md5("text").alias("h"), "text", "ts")
        .withWatermark("ts", dedup_horizon)
        .dropDuplicatesWithinWatermark(["h"])
    )
    return (
        deduped.select("h", token_bigrams("text").alias("bg"))
        .crossJoin(F.broadcast(model))
        .select(
            "h",
            F.size("bg").alias("n_bigrams"),
            F.round(dsir_fold_score(F.col("bg"), F.col("llr")), 6).alias(
                "dsir_logweight"
            ),
        )
    )


def _oracle_stream_curate_pipeline() -> str:
    # Batch twin of the composed stream: same gate thresholds as
    # curate_quality_gate, exact content-hash dedup (output columns are
    # functions of the text, so ANY dedup winner yields identical rows),
    # then the DSIR fold against the full-corpus model (the same
    # densified-list CTEs as stream_dsir_score's oracle).
    from .northstar import SQL_TOKS

    return f"""
    WITH bgm AS (
      SELECT lang,
             [tk[i] || ' ' || tk[i+1]
              FOR i IN range(1, greatest(len(tk), 1))] AS bg
      FROM (SELECT lang, {SQL_TOKS} AS tk FROM documents)
    ),
    cnts AS (
      SELECT idx, COUNT(*) AS r_cnt,
             COALESCE(SUM(CASE WHEN is_tgt THEN 1 END), 0) AS t_cnt
      FROM (
        SELECT CAST(('0x' || substr(md5(b), 1, 2)) AS INTEGER) AS idx,
               lang = 'en' AS is_tgt
        FROM (SELECT lang, unnest(bg) AS b FROM bgm)
      )
      GROUP BY idx
    ),
    grid AS (SELECT unnest(range(0, 256)) AS idx),
    full_t AS (
      SELECT g.idx, COALESCE(c.r_cnt, 0) AS r_cnt,
             COALESCE(c.t_cnt, 0) AS t_cnt
      FROM grid g LEFT JOIN cnts c USING (idx)
    ),
    tot AS (SELECT SUM(r_cnt) AS rt, SUM(t_cnt) AS tt FROM full_t),
    model AS (
      SELECT list(ln((t_cnt + 1.0) / (tt + 256.0))
                  - ln((r_cnt + 1.0) / (rt + 256.0)) ORDER BY idx) AS llr
      FROM full_t CROSS JOIN tot
    ),
    sig AS (
      SELECT text, len(tk) AS nw,
             list_sum(list_transform(tk, t -> length(t))) AS sum_len,
             len(list_filter(tk, t -> t IN ('a', 'the'))) AS n_stop,
             len(list_distinct(tk)) AS n_distinct
      FROM (SELECT text, {SQL_TOKS} AS tk FROM documents)
      WHERE len(tk) > 0
    ),
    gated AS (
      SELECT text FROM sig
      WHERE nw BETWEEN 25 AND 80
        AND sum_len::DOUBLE / nw >= 3.0 AND sum_len::DOUBLE / nw <= 7.0
        AND n_stop::DOUBLE / nw <= 0.35
        AND n_distinct::DOUBLE / nw >= 0.55
    ),
    ded AS (
      SELECT md5(text) AS h, MIN(text) AS text FROM gated GROUP BY md5(text)
    ),
    scored AS (
      SELECT h,
             [tk[i] || ' ' || tk[i+1]
              FOR i IN range(1, greatest(len(tk), 1))] AS bg
      FROM (SELECT h, {SQL_TOKS} AS tk FROM ded)
    )
    SELECT h, len(bg) AS n_bigrams,
           round(list_reduce(
             list_prepend(0.0, list_transform(
               bg, b -> llr[CAST(('0x' || substr(md5(b), 1, 2))
                                 AS INTEGER) + 1])),
             (a, x) -> a + x), 6) AS dsir_logweight
    FROM scored CROSS JOIN model
    """


@query("stream_curate_pipeline", oracle=_oracle_stream_curate_pipeline())
def stream_curate_pipeline(spark: SparkSession, sf_dir: str) -> DataFrame:
    """The CURATION PIPELINE AS A STREAM — the continuously-ingesting
    form of pipeline_curate_end2end: arriving documents pass the Gopher
    quality gate (row-local let-bound token struct, the
    curate_quality_gate thresholds), survivors dedup exactly by content
    hash against watermark-bounded state (first sighting wins; every
    EMITTED column is a function of the text itself, so the grade is
    winner-invariant — the stream_dedup_user_day discipline), and each
    unique survivor scores itself against the offline-trained DSIR
    model riding the broadcast array relation (stream_dsir_score's
    machinery) — gate, dedup, and importance scoring composed in ONE
    streaming plan, append-mode (content_hash, n_bigrams, weight).
    At 100 TB: the gate and scorer are stateless row-local stages;
    the only state is the dedup hash set, bounded by the watermark —
    this is the shape of a production corpus-refresh loop (new crawl
    lands → gate → near-line dedup → importance weights for the next
    mixing round), costing one scan of the NEW data. Graded
    batch-equivalently against the oracle's gate→distinct→fold chain;
    because that oracle dedups GLOBALLY, the watermark horizon is
    derived here from the corpus's actual doc_id span (event time is
    1700000000 + doc_id seconds), so no duplicate can outrun the state
    window whatever the id range of the graded SF — the bounded-state
    default horizon is for open-ended production streams only."""
    from . import artifact

    docs_batch = t(spark, sf_dir, "documents")
    model = _dsir_model(spark, sf_dir)  # offline-trained artifact
    # one-long scalar row: the id span sizes the dedup state window to
    # cover the whole graded corpus. An artifact beside the model — a
    # static probe of the table, not re-scanned per call.
    span = artifact(
        "crane_doc_span",
        sf_dir,
        lambda: int(
            docs_batch.agg(
                (F.max("doc_id") - F.min("doc_id") + 1).alias("s")
            ).first()["s"]
        ),
        directory=False,
    )
    out = build_curate_stream(
        spread(stream_table(spark, sf_dir, "documents").select("doc_id", "text")),
        model,
        dedup_horizon=f"{int(span)} seconds",
    )
    drain(out, "stream_curate_pipeline")
    return spark.table("stream_curate_pipeline")


def _ivm_feed_dir(spark: SparkSession, sf_dir: str) -> str:
    """Land the signed IVM change feed (core.ivm_signed_feed — ONE
    definition with the batch twin) as its own parquet artifact: the
    streaming refresh under test reads ONLY this feed plus the
    materialized aggregate, never the fact table — the production
    deployment shape the batch query's docstring could only describe
    (its delta is synthesized in-plan for the bounded grade)."""
    from . import artifact
    from .core import ivm_signed_feed

    def _build(d: str) -> None:
        ivm_signed_feed(spark, sf_dir).repartition(4).write.mode(
            "overwrite"
        ).parquet(d)

    return artifact("crane_ivm_feed", sf_dir, _build)


from .core import IVM_ORACLE  # noqa: E402 — the shared recompute oracle


@query("stream_incremental_agg_maintenance", oracle=IVM_ORACLE)
def stream_incremental_agg_maintenance(
    spark: SparkSession, sf_dir: str
) -> DataFrame:
    """STREAMING INCREMENTAL VIEW MAINTENANCE, the streaming and IVM
    shapes composed: the materialized per-customer COUNT/SUM aggregate
    is maintained from a REAL landed change feed (a file stream of
    signed (o_custkey, dn, dv) rows — the
    batch twin `io_incremental_agg_maintenance` had to synthesize its
    delta in-plan) through ``foreachBatch`` + the batch-id-idempotent
    parquet sink (streaming.ann_ingest.idempotent_batch_sink — the
    SDFS-append duplicate-version hazard, reference server/sdfs.go:276-283,
    closed the same way as the ANN ingest). Each micro-batch writes only
    its per-group signed PARTIALS (O(touched groups) rows) under
    ``__batch_id=<N>``; after the bounded drain, batch 0 is deliberately
    REPLAYED through the sink — the exact at-least-once window — and the
    graded result is the post-replay fold ``base ⊎ journal``
    (core.ivm_fold_view), held to the SAME from-scratch recompute oracle
    as the batch twin (IVM_ORACLE): maintained ≡ recomputed
    row-for-row with exact decimal
    money, AND exactly one application of every change (the replay
    overwrote its own partition). At 100 TB: the refresh reads feed +
    journal + the view — never the fact table; state is O(groups);
    restart-from-checkpoint is proven in
    tests/test_streaming_ivm.py."""
    import tempfile

    from ..streaming.ivm import ivm_maintenance_sink
    from . import register_scratch_dir
    from .core import ivm_base_dir, ivm_fold_view

    feed_dir = _ivm_feed_dir(spark, sf_dir)
    journal_dir = register_scratch_dir(
        tempfile.mkdtemp(prefix="crane_ivm_journal_")
    )
    feed = spark.readStream.schema(
        "o_custkey long, dn long, dv decimal(28,4)"
    ).parquet(feed_dir)
    drain(feed, ivm_maintenance_sink(journal_dir))
    replay_batch0(journal_dir, "stream_incremental_agg_maintenance")
    base = spark.read.parquet(ivm_base_dir(spark, sf_dir))
    journal = spark.read.parquet(journal_dir).select("o_custkey", "dn", "dv")
    return ivm_fold_view(base, journal)


def _oracle_stream_ivf_query_topk() -> str:
    # Identical answer contract to the batch paths — literally the SAME
    # oracle object (northstar.ORACLE_IVF_COARSE_TOPK), so the
    # stream-served ≡ batch ≡ oracle claim cannot drift.
    from .northstar import ORACLE_IVF_COARSE_TOPK

    return ORACLE_IVF_COARSE_TOPK


@query("stream_ivf_query_topk", oracle=_oracle_stream_ivf_query_topk())
def stream_ivf_query_topk(spark: SparkSession, sf_dir: str) -> DataFrame:
    """ONLINE VECTOR SEARCH — the serving half the ingest twins left
    open: `stream_ivf_ingest` / `stream_ivfpq_ingest` keep the inverted
    file FRESH as vectors arrive; this query answers a STREAM OF
    QUERIES against it. The IVF index is the persisted 64-cell artifact
    (`northstar._ivf64_index` — cells + norms precomputed); query vectors then arrive on a file stream and
    every micro-batch is answered inside ``foreachBatch`` by the exact
    batch search machinery (`ivf_ann_topk(bucketed=index)`: row-local
    coarse assignment of the QUERY side only — broadcast centroid
    matrix, O(1) plan in k — then a cell equi-join into the prebuilt
    index and a within-cell exact-cosine top-3). Results land through
    the batch-id-idempotent sink and batch 0 is deliberately REPLAYED —
    a re-served query batch must overwrite its own partition, not
    duplicate answers (at-least-once redelivery of a search request).
    Graded against the SAME row-level oracle as the batch
    `sim_ivf_rel_coarse_topk`: DuckDB re-derives every served row from
    the 64 inlined plane literals, so stream-served answers ≡ batch
    answers ≡ oracle. At 100 TB: the index is read-shared and
    partition-pruned by cell, each trigger costs O(queries ×
    avg-cell-size), and the index itself is maintained by the graded
    ingest path — build once, serve forever, refresh incrementally."""
    import tempfile

    from ..operators import similarity as S
    from ..streaming.ann_ingest import idempotent_batch_sink
    from . import register_scratch_dir
    from .northstar import _CENTROIDS64, _ivf64_index

    index = _ivf64_index(spark, sf_dir)

    out_dir = register_scratch_dir(tempfile.mkdtemp(prefix="crane_ivfserve_"))
    q_stream = stream_table(spark, sf_dir, "embeddings").filter(
        F.col("vec_id").isNotNull()
        & F.col("embedding").isNotNull()
        & (F.col("vec_id") < 10)
    )
    sink = idempotent_batch_sink(
        out_dir,
        transform=lambda b: S.ivf_ann_topk(
            None, b, _CENTROIDS64, k=3, bucketed=index
        ),
    )
    drain(q_stream, sink)
    replay_batch0(out_dir, "stream_ivf_query_topk")
    served = spark.read.parquet(out_dir)
    return served.select("query_id", "cand_id", "cos_sim", "rank")


@query("stream_ivf_ingest_then_serve", oracle=_oracle_stream_ivf_query_topk())
def stream_ivf_ingest_then_serve(
    spark: SparkSession, sf_dir: str
) -> DataFrame:
    """READ-YOUR-WRITES for the ANN index, composing the ingest and
    serving halves the separate queries prove individually: the inverted
    file is built OFFLINE from the
    corpus MINUS a holdout cohort (vec_id ≡ 3 mod 5), the holdout then
    ARRIVES on an ingest stream whose micro-batches bucket each vector
    (ivf_bucket_corpus per batch — broadcast centroids, row-local
    assignment) and append under ``__batch_id=<N>`` via the idempotent
    sink (base/ + delta/ — the classic base+delta index layout), and
    only AFTER that refresh does the query stream get served: each
    serving micro-batch re-resolves the LIVE index (base ∪ delta) and
    answers with the exact cell-join top-3. Both drains are
    single-batch-ASSERTED and batch 0 of each is REPLAYED through its
    sink (at-least-once on the ingest side must not duplicate index
    entries; on the serve side must not duplicate answers). The grade is
    the point: the oracle (ORACLE_IVF_COARSE_TOPK — literally the same
    object as the batch and serving-only paths) computes top-3 over the
    FULL corpus, so any served row that should name a freshly-ingested
    vector but doesn't (ingest lost, delta unread, refresh unordered)
    hash-mismatches; a belt-and-braces in-query check additionally
    asserts the served answers DO retrieve holdout vectors, so the
    property is witnessed, not vacuous. At 100 TB this is the
    production consistency contract: index refresh commits before query
    visibility, served ≡ batch ≡ oracle, and the delta folds into the
    base on the same compaction discipline as the IVM journal."""
    import os
    import tempfile

    from ..operators import similarity as S
    from ..streaming.ann_ingest import idempotent_batch_sink
    from . import artifact, register_scratch_dir, t_cpu
    from .northstar import _CENTROIDS64

    scratch = tempfile.mkdtemp(prefix="crane_ivf_rw_")
    register_scratch_dir(scratch)
    delta_dir = os.path.join(scratch, "delta")
    out_dir = os.path.join(scratch, "served")

    emb = t_cpu(spark, sf_dir, "embeddings").filter(
        F.col("vec_id").isNotNull() & F.col("embedding").isNotNull()
    )
    held = F.col("vec_id") % 5 == 3

    # offline build (everything EXCEPT the holdout cohort) — an artifact:
    # production's base index already exists
    def _build_base(d: str) -> None:
        S.ivf_bucket_corpus(emb.filter(~held), _CENTROIDS64).write.mode(
            "overwrite"
        ).parquet(d)

    base_dir = artifact("crane_ivf_rw_base", sf_dir, _build_base)

    # phase 1 — INGEST: the holdout cohort arrives; each micro-batch
    # buckets its vectors and appends under its own __batch_id partition
    ingest_sink = idempotent_batch_sink(
        delta_dir,
        transform=lambda b: S.ivf_bucket_corpus(spread(b), _CENTROIDS64),
    )
    ingest_stream = stream_table(spark, sf_dir, "embeddings").filter(
        F.col("vec_id").isNotNull() & F.col("embedding").isNotNull() & held
    )
    drain(ingest_stream, ingest_sink)
    replay_batch0(delta_dir, "stream_ivf_ingest_then_serve/ingest")

    def live_index() -> DataFrame:
        base = spark.read.parquet(base_dir)
        delta = spark.read.parquet(delta_dir).select(
            "cand_id", "cvec", "cn", "cell"
        )
        return base.unionByName(delta)

    # phase 2 — SERVE: the query stream is answered against the LIVE
    # (post-refresh) index, resolved fresh inside each micro-batch
    serve_sink = idempotent_batch_sink(
        out_dir,
        transform=lambda b: S.ivf_ann_topk(
            None, b, _CENTROIDS64, k=3, bucketed=live_index()
        ),
    )
    q_stream = stream_table(spark, sf_dir, "embeddings").filter(
        F.col("vec_id").isNotNull()
        & F.col("embedding").isNotNull()
        & (F.col("vec_id") < 10)
    )
    drain(q_stream, serve_sink)
    replay_batch0(out_dir, "stream_ivf_ingest_then_serve/serve")

    served = spark.read.parquet(out_dir).select(
        "query_id", "cand_id", "cos_sim", "rank"
    )
    # witness the property: served answers must RETRIEVE post-ingest
    # vectors (1-int bounded collect) — a vacuous pass is an error
    n_held = served.filter(F.col("cand_id") % 5 == 3).count()
    if n_held == 0:
        raise AssertionError(
            "read-your-writes not witnessed: no served answer names a "
            "freshly-ingested (holdout) vector"
        )
    return served


@query(
    "stream_bottomk_sample",
    oracle="""
    SELECT doc_id, md5(CAST(doc_id AS VARCHAR)) AS h
    FROM documents
    ORDER BY h, doc_id LIMIT 100
    """,
)
def stream_bottomk_sample(spark: SparkSession, sf_dir: str) -> DataFrame:
    """UNIFORM CORPUS SAMPLING MAINTAINED OVER A STREAM — the
    reservoir-sampling requirement (keep a fixed-size uniform sample of
    everything seen so far) made deterministic and distributed: the
    sample is the BOTTOM-K of a uniform hash (md5 of the id — the
    min-wise/bottom-k sketch), so it is a pure FUNCTION of the set seen,
    not of arrival order or RNG state. Each micro-batch folds
    ``bottomk(state ∪ batch)`` and publishes the new sample as the next
    version of a streaming.sinks versioned store (commit marker after
    the data, like the IVM base generations). Exactly-once here comes
    from ALGEBRA, not partition bookkeeping — unlike the idempotent
    partition overwrite and the fenced journal, it needs no batch ids:
    bottom-k is idempotent under re-merge of any already-seen
    subset (min-wise sets absorb duplicates), so an at-least-once
    redelivery of ANY batch — not just the offset-log tail — leaves the
    sample bit-identical (asserted in-query by re-merging batch 0's
    rows after the drain). Graded against the batch bottom-k oracle:
    the streamed sample must equal the global one exactly. At 100 TB:
    state is k rows regardless of corpus size, each trigger costs one
    local top-k heap per partition + a k-row merge (WindowGroupLimit
    shape), and the same hash prefix property gives consistent samples
    across refreshes — the corpus-sampling primitive
    `sample_uniform_k_docs` runs at rest, kept fresh continuously."""
    import os
    import tempfile

    from . import register_scratch_dir
    from ..streaming.sampling import bottomk_sampler

    scratch = register_scratch_dir(tempfile.mkdtemp(prefix="crane_bottomk_"))
    fold, current = bottomk_sampler(
        spark, os.path.join(scratch, "sample"), k=100
    )
    drain(stream_table(spark, sf_dir, "documents").select("doc_id"), fold)

    before = {(r.doc_id, r.h) for r in current().collect()}
    # Forced replay of batch 0's rows: min-wise algebra must absorb the
    # duplicate delivery with a bit-identical sample (replay-idempotence
    # BY ALGEBRA, no batch-id fencing needed for this operator)
    fold(t(spark, sf_dir, "documents").select("doc_id"), 0)
    after = {(r.doc_id, r.h) for r in current().collect()}
    if before != after:
        raise AssertionError(
            "bottom-k sample changed under replay — min-wise idempotence "
            "violated"
        )
    return current().select("doc_id", "h")


@query(
    "stream_weighted_es_sample",
    oracle="""
    WITH d AS (
      SELECT doc_id, n_chars,
             (CAST(('0x' || substr(md5(COALESCE(CAST(doc_id AS VARCHAR),
                                                CHR(0))), 1, 8)) AS BIGINT)
              + 1) / 4294967296.0 AS u
      FROM documents WHERE n_chars > 0
    )
    SELECT doc_id, es_key FROM (
      SELECT doc_id,
             round(-ln(u) * 1000.0 / n_chars, 6) AS es_key,
             ROW_NUMBER() OVER (
               ORDER BY round(-ln(u) * 1000.0 / n_chars, 6), doc_id) AS rk
      FROM d
    ) WHERE rk <= 50
    """,
)
def stream_weighted_es_sample(spark: SparkSession, sf_dir: str) -> DataFrame:
    """WEIGHTED sampling without replacement MAINTAINED OVER A STREAM —
    the same min-wise state machine as `stream_bottomk_sample` with the
    Efraimidis–Spirakis A-Res key plugged in as the sampler's key stage
    (`streaming.sampling.es_keyed` — the identical −ln(u)·1000/w
    rounded expression the batch operator `sample_weighted_es_topk`
    ranks by): bottom-k of the ES key IS the length-proportional draw,
    so the streamed sample must equal the batch draw row-for-row
    (graded against the same oracle shape). Every property carries over
    unchanged because both samplers are bottom-k over a deterministic
    per-element key: k-row state at any corpus size, the versioned-store
    publish, and exactly-once BY ALGEBRA — a redelivered
    batch re-derives identical keys and the distinct-before-cut absorbs
    them (asserted in-query via a forced full re-merge). This is the
    'keep a weight-proportional sample of the growing corpus'
    requirement (importance-weighted eval sets, length-balanced probes)
    answered incrementally."""
    import os
    import tempfile

    from . import register_scratch_dir
    from ..streaming.sampling import bottomk_sampler, es_keyed

    scratch = register_scratch_dir(tempfile.mkdtemp(prefix="crane_essample_"))
    fold, current = bottomk_sampler(
        spark, os.path.join(scratch, "sample"), k=50,
        keyed=es_keyed("n_chars"), key_type="double",
    )
    drain(stream_table(spark, sf_dir, "documents").select("doc_id", "n_chars"), fold)

    before = {(r.doc_id, r.h) for r in current().collect()}
    # forced full re-merge: identical keys re-derive, the set absorbs
    fold(t(spark, sf_dir, "documents").select("doc_id", "n_chars"), 0)
    after = {(r.doc_id, r.h) for r in current().collect()}
    if before != after:
        raise AssertionError(
            "weighted sample changed under replay — min-wise idempotence "
            "violated"
        )
    return current().select("doc_id", F.col("h").alias("es_key"))


def _cdc_feed_dir(spark: SparkSession, sf_dir: str) -> str:
    """Land the CDC signed-change feed (core.cdc_signed_feed — ONE
    definition with the batch twin) as its own parquet artifact: the
    streaming maintainer under test reads ONLY this landed feed plus the
    materialized view, never the fact table."""
    from . import artifact
    from .core import cdc_signed_feed

    def _build(d: str) -> None:
        cdc_signed_feed(spark, sf_dir).repartition(4).write.mode(
            "overwrite"
        ).parquet(d)

    return artifact("crane_cdc_feed", sf_dir, _build)


def _oracle_stream_cdc_ivm() -> str:
    from .core import CDC_IVM_ORACLE

    return CDC_IVM_ORACLE


@query("stream_cdc_ivm_maintenance", oracle=_oracle_stream_cdc_ivm())
def stream_cdc_ivm_maintenance(spark: SparkSession, sf_dir: str) -> DataFrame:
    """STREAMING CDC → MAINTAINED VIEW, closing the last
    synthesized-in-plan IVM shape: the CDC upsert feed
    of `io_cdc_ivm_maintenance` (UPDATEs expanded to canonical
    DELETE+INSERT signed pairs with before/after images, delete-wins,
    INSERTs with their full rows — ONE definition, core.cdc_signed_feed)
    is LANDED as its own parquet table and consumed as a REAL file
    stream through the journal maintainer
    (streaming.ivm.ivm_maintenance_sink): each micro-batch folds to
    per-user signed partials under its ``__batch_id=<N>`` partition via
    the batch-id-idempotent sink, batch 0 is deliberately REPLAYED after
    a single-batch drain (ASSERTED, not assumed), and the graded result
    is the post-replay ``base ⊎ journal`` fold — held to the SAME
    from-scratch post-CDC recompute oracle as the batch twin
    (CDC_IVM_ORACLE): a Debezium-shaped upsert stream maintains the view
    exactly, with exactly-once application under at-least-once
    redelivery. Restart-from-checkpoint over an upsert feed is proven in
    tests/test_streaming_ivm.py::test_cdc_feed_restart_and_delete_wins.
    At 100 TB: refresh reads feed + journal + view — never the fact
    table; state is O(touched users) per trigger; the journal compacts
    on the graded cycle (`stream_ivm_compaction_cycle`)."""
    import tempfile

    from . import register_scratch_dir
    from .core import cdc_ivm_base_dir
    from ..streaming.ivm import ivm_maintenance_sink, signed_fold

    feed_dir = _cdc_feed_dir(spark, sf_dir)
    journal_dir = register_scratch_dir(
        tempfile.mkdtemp(prefix="crane_cdcivm_journal_")
    )
    feed = spark.readStream.schema(
        "user_id long, dn long, dv decimal(28,4)"
    ).parquet(feed_dir)
    drain(feed, ivm_maintenance_sink(journal_dir, key="user_id"))
    replay_batch0(journal_dir, "stream_cdc_ivm_maintenance")
    base = spark.read.parquet(cdc_ivm_base_dir(spark, sf_dir))
    journal = spark.read.parquet(journal_dir).select("user_id", "dn", "dv")
    return signed_fold(
        base, journal, "user_id", "n_events", "total_dec"
    ).select(
        "user_id",
        "n_events",
        F.col("total_dec").cast("double").alias("total_value"),
    )


@query("stream_ivm_compaction_cycle", oracle=IVM_ORACLE)
def stream_ivm_compaction_cycle(spark: SparkSession, sf_dir: str) -> DataFrame:
    """THE COMPACTION CYCLE ITSELF, GRADED: the journal→base fold that
    keeps a long-running maintainer's read cost O(groups + recent
    batches) was proven in pytest; this
    query holds a full cycle to the driver's oracle — and the cycle
    runs IN-LINE in the maintainer itself
    (``ivm_maintenance_sink(compact_every=2)``): the landed signed
    feed drains as a MULTI-batch stream (maxFilesPerTrigger=1 → one
    micro-batch per feed file, each landing its per-group partials
    under its own ``__batch_id`` partition), and after every second
    batch B the maintainer folds partitions ≤ B−1 into a fresh base
    generation (streaming.ivm.compact_ivm_journal: one signed_fold
    over |groups| + |folded partials| rows, committed as a version of
    the journal's ``_base`` store — no crash point leaves the live base
    path absent; folding ≤ B−1 while processing B is replay-safe
    because B−1 has committed in the offset log). The shared base
    fixture is generation 0 and is only read. The graded result is
    the post-drain view: the LIVE base (the newest committed version)
    folded with ONLY the journal tail (read_journal excludes
    everything at or below the fence). Held to the SAME from-scratch
    recompute oracle as the maintenance queries (IVM_ORACLE), so the
    cycle is proven end-to-end: multi-batch journal ≡ compacted base ⊎
    tail ≡ recomputed-from-facts, with zero-count groups staying
    dropped through the rewrite. At 100 TB: compaction cost is
    O(groups) — it reads per-batch PARTIALS (already one row per
    touched group per batch), never facts, amortized every
    compact_every triggers."""
    import tempfile

    from . import register_scratch_dir
    from .core import ivm_base_dir, ivm_fold_view
    from ..streaming.ivm import (
        compacted_upto,
        current_base,
        ivm_maintenance_sink,
        journal_partitions,
        read_journal,
    )

    feed_dir = _ivm_feed_dir(spark, sf_dir)
    base_dir = ivm_base_dir(spark, sf_dir)
    journal_dir = register_scratch_dir(
        tempfile.mkdtemp(prefix="crane_ivm_cycle_")
    )
    feed = (
        spark.readStream.schema("o_custkey long, dn long, dv decimal(28,4)")
        .option("maxFilesPerTrigger", 1)
        .parquet(feed_dir)
    )
    drain(
        feed,
        ivm_maintenance_sink(journal_dir, base_dir=base_dir, compact_every=2),
    )
    fence = compacted_upto(journal_dir)
    live = [b for b, _ in journal_partitions(journal_dir)]
    if fence < 1 or not live or min(live) <= fence:
        raise AssertionError(
            "in-line compaction did not run as expected: "
            f"fence={fence}, live partitions={live}"
        )
    return ivm_fold_view(
        spark.read.parquet(current_base(journal_dir, base_dir)),
        read_journal(spark, journal_dir, "o_custkey"),
    )
