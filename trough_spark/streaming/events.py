"""Event-stream pipelines over the `events` schema
(event_id, ts, user_id, event_type, value, props).

Each builder takes a streaming OR batch DataFrame with that schema and
returns the transformed frame — the same logical plan serves
``spark.readStream`` (incremental, stateful) and ``spark.read`` (the batch
backfill), which is exactly how a 100 TB pipeline should be written once and
run in both modes.  Batch-mode equivalents of these are registered as
correctness queries in queries/streaming.py; the true streaming execution is
exercised in tests/test_streaming.py with a file source + memory sink.

Scale notes:
- watermarks bound state: tumbling/sliding aggregations keep only open
  windows per key; late rows beyond the watermark are dropped deterministically.
- sessionization uses session_window (state per active session, closed by
  the watermark), not a global sort — the batch equivalent (lag + cumulative
  sum) would be a full shuffle-and-sort at stream scale.
"""

from __future__ import annotations

import pyspark.sql.functions as F
from pyspark.sql import DataFrame, SparkSession

EVENT_SCHEMA = (
    "event_id bigint, ts timestamp, user_id bigint, event_type string, "
    "value double, props string"
)


def read_event_stream(spark: SparkSession, path: str, max_files_per_trigger: int = 10) -> DataFrame:
    """File-source event stream: each parquet file dropped into ``path`` is a
    micro-batch — the streaming analogue of the reference's discrete
    write-POST ingest model (reference: trough/write.py:47-61)."""
    return (
        spark.readStream.schema(EVENT_SCHEMA)
        .option("maxFilesPerTrigger", max_files_per_trigger)
        .parquet(path)
    )


def tumbling_counts(events: DataFrame, window: str = "1 hour", watermark: str = "2 hours") -> DataFrame:
    """Tumbling-window counts/sums per event_type with late-data handling."""
    src = events.withWatermark("ts", watermark) if events.isStreaming else events
    return (
        src.groupBy(F.window("ts", window).alias("win"), "event_type")
        .agg(
            F.count(F.lit(1)).alias("n"),
            F.sum(F.col("value").cast("decimal(12,2)")).cast("double").alias("total_value"),
        )
        .select(F.col("win.start").alias("window_start"), "event_type", "n", "total_value")
    )


def sliding_counts(
    events: DataFrame, window: str = "2 hours", slide: str = "1 hour", watermark: str = "2 hours"
) -> DataFrame:
    """Sliding-window event counts (each event lands in window/slide buckets)."""
    src = events.withWatermark("ts", watermark) if events.isStreaming else events
    return (
        src.groupBy(F.window("ts", window, slide).alias("win"))
        .agg(F.count(F.lit(1)).alias("n"))
        .select(F.col("win.start").alias("window_start"), "n")
    )


def session_windows(events: DataFrame, gap: str = "30 minutes", watermark: str = "2 hours") -> DataFrame:
    """Per-user session windows with a 30-minute inactivity gap.

    Streaming: ``session_window`` keeps state only for open sessions and the
    watermark closes them — O(active users) state, not O(history).
    """
    src = events.withWatermark("ts", watermark) if events.isStreaming else events
    return (
        src.groupBy(F.session_window("ts", gap).alias("win"), "user_id")
        .agg(F.count(F.lit(1)).alias("n_events"))
        .select(
            "user_id",
            F.col("win.start").alias("session_start"),
            F.col("win.end").alias("session_end"),
            "n_events",
        )
    )


def write_to_segments(
    stream: DataFrame, store, table: str, checkpoint: str, segment_col: str = "segment_id"
):
    """foreachBatch sink: upsert each micro-batch into the segment store —
    the streaming write path for the engine's partitioned tables (batch
    commit per trigger ≡ the reference's one-transaction-per-POST,
    trough/write.py:39)."""

    def _sink(batch_df: DataFrame, batch_id: int) -> None:
        store.append_dataframe(table, batch_df)

    return stream.writeStream.foreachBatch(_sink).option("checkpointLocation", checkpoint)


def upsert_to_segments(
    stream: DataFrame,
    store,
    table: str,
    checkpoint: str,
    keys: list[str],
    schema_id: str = "default",
    segment_col: str = "segment_id",
    when_matched: str | dict = "update",
):
    """foreachBatch MERGE sink: every micro-batch UPSERTS into its target
    segments by ``keys`` — the streaming-CDC path (late corrections, mutable
    dimensions, running counters via a ``when_matched`` expression dict)
    that the plain append sink cannot express.

    Exactly-once story: foreachBatch delivers at-least-once on retry, and a
    keyed merge REPLAYED with the same batch converges to the same state
    ("update"/"insert" are idempotent; expression merges like
    {"cnt": "target.cnt + source.cnt"} are not — use append+aggregate for
    those when retries matter).  Segments are provisioned on first sight
    from ``schema_id``; per-batch work is one bounded partition rewrite per
    touched segment (the store's core invariant)."""
    import pyspark.sql.functions as F

    def _sink(batch_df: DataFrame, batch_id: int) -> None:
        import os
        from concurrent.futures import ThreadPoolExecutor

        data = batch_df.withColumnRenamed(segment_col, "segment_id")
        segs = sorted(
            r["segment_id"] for r in data.select("segment_id").distinct().collect()
        )
        if not segs:
            return  # empty micro-batch (trigger fired with no new rows)
        # provision serially: it mutates the shared segment registry
        for seg in segs:
            store.provision(seg, schema_id)

        def _one(seg: str) -> None:
            store.merge(
                seg,
                table,
                data.filter(F.col("segment_id") == seg).drop("segment_id"),
                on=keys,
                when_matched=when_matched,
            )

        # fan the per-segment merges out on a thread pool: Spark jobs are
        # thread-safe per session, each merge takes only its own segment's
        # file lock and writes its own staging dir, so a micro-batch touching
        # N segments runs ~min(N, pool) concurrent jobs instead of N serial
        # driver-coordinated ones (the one scale seam the per-segment write
        # model had).  TROUGH_SINK_THREADS=1 restores the serial loop.
        workers = min(int(os.environ.get("TROUGH_SINK_THREADS", "8")), max(len(segs), 1))
        if workers <= 1:
            for seg in segs:
                _one(seg)
        else:
            with ThreadPoolExecutor(max_workers=workers) as ex:
                list(ex.map(_one, segs))  # re-raises the first failure

    return stream.writeStream.foreachBatch(_sink).option("checkpointLocation", checkpoint)


def correlate_events(
    events: DataFrame,
    left_type: str = "signup",
    right_type: str = "purchase",
    within: str = "2 hours",
    watermark: str = "4 hours",
) -> DataFrame:
    """Stream-stream interval join: pair each ``right_type`` event with the
    same user's ``left_type`` events that happened within ``within`` before
    it (signup→purchase attribution).

    Streaming: both sides carry watermarks and the join predicate bounds
    event-time distance, so Spark can expire join state once the watermark
    passes — state is O(events inside the interval), the canonical bounded
    stream-stream join.  Batch: the identical plan is a plain interval
    join.  Output: user_id, left_ts, right_ts, delay_min.
    """
    lhs = events.filter(F.col("event_type") == left_type).select(
        F.col("user_id"), F.col("ts").alias("left_ts")
    )
    rhs = events.filter(F.col("event_type") == right_type).select(
        F.col("user_id").alias("r_user"), F.col("ts").alias("right_ts")
    )
    if events.isStreaming:
        lhs = lhs.withWatermark("left_ts", watermark)
        rhs = rhs.withWatermark("right_ts", watermark)
    cond = (
        (F.col("user_id") == F.col("r_user"))
        & (F.col("right_ts") >= F.col("left_ts"))
        & (F.col("right_ts") <= F.col("left_ts") + F.expr(f"INTERVAL {within}"))
    )
    return (
        lhs.join(rhs, cond)
        .select(
            "user_id",
            "left_ts",
            "right_ts",
            # exact integer floor-division on microseconds — float division
            # or a double→bigint cast would round differently across engines
            F.expr(
                "(unix_micros(right_ts) - unix_micros(left_ts)) div 60000000"
            ).alias("delay_min"),
        )
    )


def dedup_stream(events: DataFrame, watermark: str = "4 hours") -> DataFrame:
    """Streaming exact dedup on event_id: ``dropDuplicatesWithinWatermark``
    keeps state only until the watermark passes an id's event time — the
    unbounded-state footgun of plain dropDuplicates on a stream, solved.
    Batch: plain dropDuplicates (the backfill semantics)."""
    if events.isStreaming:
        return events.withWatermark("ts", watermark).dropDuplicatesWithinWatermark(
            ["event_id"]
        )
    return events.dropDuplicates(["event_id"])
