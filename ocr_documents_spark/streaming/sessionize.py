"""Structured Streaming operators: incremental ingest + sessionization.

The reference has no streaming surface (uploads are request/response), but
its v1 BackgroundTasks lifecycle (backend/main_v1.py:111-157) is micro-batch
shaped: work arrives continuously, each unit flows pending -> processing ->
terminal.  These operators give the engine that continuous-ingest form:

* ``extract_stream``   — run the extraction pipeline over a streaming docs
  source (files arriving in a lake directory), micro-batch at a time via
  ``foreachBatch``; each micro-batch runs the batch job's own extraction
  routine (``jobs/lake.extracted``: ingest validation, the skew-split
  pipeline) unchanged, and commits are idempotent
  (ingest_batch, bucket)-partitioned dynamic overwrites into the lake's
  dedicated streaming tables.
* ``dedup_ingest``     — ``dropDuplicatesWithinWatermark`` over doc_id for
  at-least-once upstream producers (bounded state).
* ``sessionize_stream`` — gap-based sessions over the events stream with
  watermarked event-time state (``applyInPandasWithState``); the batch twin
  is queries.q25_sessionization.
"""

from __future__ import annotations

import time
from typing import Iterable

import pandas as pd
from pyspark.sql import DataFrame
from pyspark.sql import functions as F
from pyspark.sql.streaming.state import GroupState, GroupStateTimeout
from pyspark.sql.types import (DoubleType, IntegerType, LongType,
                               StructField, StructType, TimestampType)

SESSION_GAP_S = 1800  # same 30-min gap as the batch q25

SESSION_SCHEMA = StructType([
    StructField("user_id", LongType()),
    StructField("session_start", TimestampType()),
    StructField("session_end", TimestampType()),
    StructField("n_events", IntegerType()),
    StructField("total_value", DoubleType()),
])

_STATE_SCHEMA = StructType([
    StructField("start_ts", DoubleType()),
    StructField("last_ts", DoubleType()),
    StructField("n_events", IntegerType()),
    StructField("total_value", DoubleType()),
])


def _utc(ts: float):
    import datetime
    return datetime.datetime.fromtimestamp(
        ts, datetime.timezone.utc).replace(tzinfo=None)


def _sessionize_group(key, pdfs: Iterable[pd.DataFrame],
                      state: GroupState):
    """Emit closed sessions; keep the open one in state.

    Timeout closes a session when the watermark passes last_ts + gap, so
    late events inside the watermark still extend their session.

    Late-event merge rule: state stores the open session as an INTERVAL
    [start_ts, last_ts].  An in-watermark event that does not open a gap
    beyond last_ts merges into the interval with start = min, last = max —
    a late event older than the stored last_ts can therefore extend the
    session downward but can never regress last_ts (which would let a
    later on-time event spuriously split the session, or emit a session
    with end < start).  This matches the batch twin q25 for every late
    event within `gap` of the open interval; an event older than
    start_ts − gap is conservatively merged into the same session (the
    batch query would have assigned it its own earlier session — at that
    point the event is near the watermark boundary and the alternative is
    buffering every raw event in state, unbounded at 10^12-event scale).
    """
    (user_id,) = key
    if state.hasTimedOut:
        start_ts, last_ts, n, total = state.get
        state.remove()
        yield pd.DataFrame([{
            "user_id": user_id,
            "session_start": _utc(start_ts),
            "session_end": _utc(last_ts),
            "n_events": int(n), "total_value": float(total)}])
        return

    rows = pd.concat(list(pdfs)).sort_values("ts")
    ts = rows["ts"].map(lambda t: t.timestamp()).to_numpy()
    vals = rows["value"].to_numpy()

    if state.exists:
        start_ts, last_ts, n, total = state.get
    else:
        start_ts, last_ts, n, total = float(ts[0]), float(ts[0]) - 1.0, 0, 0.0

    closed = []
    for t, v in zip(ts, vals):
        if n > 0 and t - last_ts > SESSION_GAP_S:
            closed.append((start_ts, last_ts, n, total))
            start_ts, last_ts, n, total = float(t), float(t), 0, 0.0
        else:
            # merge (possibly late) event into the open interval
            start_ts = min(start_ts, float(t))
            last_ts = max(last_ts, float(t))
        n += 1
        total += float(v)

    state.update((start_ts, last_ts, int(n), float(total)))
    state.setTimeoutTimestamp(int((last_ts + SESSION_GAP_S) * 1000))
    if closed:
        yield pd.DataFrame([{
            "user_id": user_id,
            "session_start": _utc(s), "session_end": _utc(e),
            "n_events": int(c), "total_value": float(v)}
            for (s, e, c, v) in closed])


def sessionize_stream(events: DataFrame,
                      watermark: str = "1 hour") -> DataFrame:
    """events(ts, user_id, value, ...) stream -> closed-session stream."""
    return (events
            .withWatermark("ts", watermark)
            .groupBy("user_id")
            .applyInPandasWithState(
                _sessionize_group, SESSION_SCHEMA, _STATE_SCHEMA,
                "append", GroupStateTimeout.EventTimeTimeout))


def windowed_event_stats(events: DataFrame, window: str = "1 hour",
                         watermark: str = "2 hours") -> DataFrame:
    """Watermarked tumbling-window aggregation — the streaming twin of
    queries.q26_hourly_event_stats.  Late events inside the watermark
    update their window; beyond it, state is dropped (bounded memory at
    10^12-event scale).  Append mode emits a window only once it is
    final."""
    from pyspark.sql import functions as F
    return (events
            .withWatermark("ts", watermark)
            .groupBy(F.window("ts", window), "event_type")
            .agg(F.count(F.lit(1)).alias("n"),
                 F.round(F.sum("value"), 2).alias("total_value"))
            .select(F.col("window.start").alias("window_start"),
                    "event_type", "n", "total_value"))


def enrich_stream(stream: DataFrame, dim: DataFrame, on,
                  how: str = "left") -> DataFrame:
    """Stream-static enrichment join: decorate a streaming relation with
    a static dimension (user profile, document-type registry).  Spark
    re-resolves the static side at every micro-batch, so a dim that
    lives in the lake picks up updates between batches; the explicit
    broadcast keeps the stream side shuffle-free — the only join shape
    that is safe at 10^12 events/day (a shuffled stream-static join
    would re-partition every micro-batch).  Left join: events without a
    dim row flow through with NULLs instead of silently dropping."""
    from pyspark.sql import functions as F
    return stream.join(F.broadcast(dim), on, how)


def dedup_ingest(docs: DataFrame, within: str = "30 minutes",
                 key: str = "doc_id") -> DataFrame:
    """Streaming dedup for at-least-once upstream producers: drop repeated
    keys arriving within the watermark window (state is bounded — beyond
    `within`, a key's dedup state is evicted, which is the only memory
    model that survives a 10^12-doc stream).  The ingest table has no
    event-time column, so arrival time is stamped as the watermark clock.
    """
    return (docs
            .withColumn("ingest_ts", F.current_timestamp())
            .withWatermark("ingest_ts", within)
            .dropDuplicatesWithinWatermark([key])
            .drop("ingest_ts"))


def extract_stream(spark, docs_path: str, lake_root: str, n_buckets: int,
                   checkpoint_dir: str,
                   dedup_within: str | None = "30 minutes"):
    """Continuous extraction over a docs directory: each micro-batch runs
    the unchanged batch pipeline (ingest validation included — rejects are
    quarantined exactly like jobs/extract.py) and commits IDEMPOTENTLY to
    the lake's streaming tables.

    Idempotence: every table is partitioned by (ingest_batch, bucket) and
    written with dynamic partition overwrite, so foreachBatch's
    at-least-once replay of a micro-batch rewrites its own partitions to
    the same bytes instead of appending duplicates.  Per-batch lineage rows
    land in metrics_stream the same way, so the status CLI sees streamed
    documents.  No fields_long is staged: compact_stream derives it.
    """
    from ..pipeline import DOCS_SCHEMA
    from ..jobs import lake as L

    lake = L.Lake(lake_root, n_buckets)
    stream = (spark.readStream.schema(DOCS_SCHEMA)
              .option("maxFilesPerTrigger", 8)
              .parquet(docs_path))
    if dedup_within:
        stream = dedup_ingest(stream, dedup_within)

    return (stream.writeStream
            .option("checkpointLocation", checkpoint_dir)
            .foreachBatch(stream_committer(lake)))


def stream_committer(lake):
    """The per-micro-batch lake commit (exposed for direct replay tests):
    the tables of ``lake.extracted`` plus the batch's lineage metrics,
    each written over its own (ingest_batch, bucket) partitions of the
    streaming table ``lake.STREAM`` maps it to."""
    from ..jobs import lake as L

    def commit_batch(batch_df: DataFrame, batch_id: int) -> None:
        t0 = time.perf_counter()

        def write(df: DataFrame, table: str) -> None:
            L._overwrite_partitions(
                df.withColumn("ingest_batch", F.lit(int(batch_id))),
                lake.path(L.STREAM[table]), ["ingest_batch", "bucket"])

        with L.extracted(batch_df, lake) as tables:
            for table, df in tables.items():
                write(df, table)
            write(L.bucket_metrics(tables[L.RESULTS], f"stream-{batch_id}",
                                   time.perf_counter() - t0), L.METRICS)

    return commit_batch
