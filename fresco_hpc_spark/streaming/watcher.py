"""Structured Streaming replacement for the reference's file watcher
(SURVEY.md §2.9 ST1-ST3).

The reference watches a directory with watchdog: ``on_created`` → 10 s
wait → size-stability check → run the batch pipeline on the new file,
with 3 retries (reference data-pipeline/.../watchers/file_watcher.py:39-113;
watch mode wiring run_pipeline.py:141-167). Spark-first restatement:

  * file discovery/stability → the Structured Streaming file source
    (exactly-once file tracking via the checkpoint; no sleep heuristics)
  * ``file_patterns`` substring filter (file_watcher.py:61-67) →
    ``pathGlobFilter`` (ST2)
  * per-file processing → ``maxFilesPerTrigger=1`` + ``foreachBatch``
    reusing the *batch* transformers unchanged — the reference transforms
    each file independently, so per-file micro-batches reproduce its
    window/lag semantics exactly (lag state never crosses files there
    either)
  * retries → Spark task retries; graceful stop (ST3) →
    ``query.stop()`` / ``awaitTermination``

Also provides the incremental form of the hourly aggregation (A2):
watermark + 1-hour tumbling window, which the reference computes only as
a batch ``date_trunc`` (SURVEY.md §2.9 closing note).
"""

from __future__ import annotations

from typing import Callable

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F
from pyspark.sql import types as T
from pyspark.sql.streaming import StreamingQuery

from fresco_hpc_spark.plans.store import bump_store_generation


def stream_csv_directory(
    spark: SparkSession,
    input_dir: str,
    schema: T.StructType,
    pattern: str = "*.csv",
    max_files_per_trigger: int = 1,
    header: bool = True,
) -> DataFrame:
    """ST1+ST2: streaming CSV source over a watched directory."""
    return (
        spark.readStream.schema(schema)
        .option("header", header)
        .option("mode", "PERMISSIVE")
        .option("pathGlobFilter", pattern)
        .option("maxFilesPerTrigger", max_files_per_trigger)
        .csv(input_dir)
    )


def start_etl_stream(
    spark: SparkSession,
    input_dir: str,
    schema: T.StructType,
    transformer: Callable[[DataFrame], DataFrame],
    output_dir: str,
    checkpoint_dir: str,
    pattern: str = "*.csv",
    max_files_per_trigger: int = 1,
    available_now: bool = False,
) -> StreamingQuery:
    """The watch-mode pipeline: new file → batch transformer → parquet
    append. ``available_now=True`` drains the backlog and stops (used by
    tests and backfills); omit it for a long-running watcher."""
    stream = stream_csv_directory(
        spark, input_dir, schema, pattern=pattern,
        max_files_per_trigger=max_files_per_trigger,
    )

    def process(batch_df: DataFrame, _batch_id: int) -> None:
        out = transformer(batch_df)
        (
            out.write.mode("append")
            .option("compression", "snappy")
            .parquet(output_dir)
        )

    writer = (
        stream.writeStream.foreachBatch(process)
        .option("checkpointLocation", checkpoint_dir)
    )
    if available_now:
        writer = writer.trigger(availableNow=True)
    return writer.start()


def streaming_hourly_agg(
    stream_df: DataFrame,
    value_col: str,
    time_col: str = "time",
    watermark: str = "1 hour",
) -> DataFrame:
    """Incremental A2: watermarked 1-hour tumbling window with
    AVG/MIN/MAX/COUNT — the streaming equivalent of the reference's
    ``date_trunc('hour') → AVG/MIN/MAX/COUNT`` view
    (web/src/components/charts/DatabaseQueries.ts:119-143). Late rows
    beyond the watermark are dropped; state is bounded, so this runs
    indefinitely at any scale."""
    return (
        stream_df.withWatermark(time_col, watermark)
        .groupBy(F.window(time_col, "1 hour").alias("w"))
        .agg(
            F.avg(value_col).alias("avg_value"),
            F.min(value_col).alias("min_value"),
            F.max(value_col).alias("max_value"),
            F.count(value_col).alias("count_value"),
        )
        .select(F.col("w.start").alias("bucket"), "avg_value", "min_value", "max_value", "count_value")
    )


def streaming_hopping_agg(
    stream_df: DataFrame,
    value_col: str,
    time_col: str = "time",
    window: str = "1 hour",
    slide: str = "15 minutes",
    watermark: str = "1 hour",
) -> DataFrame:
    """Incremental twin of the batch hopping-window aggregate
    (operators/timeseries.py ``hopping_window_agg``): watermarked
    sliding ``F.window`` with the SAME micro-unit mean, so a drained
    stream equals the batch operator row-for-row (equivalence pinned in
    test_streaming). The count and the bigint micro-unit sum are both
    mergeable, so partial window state stays exact across micro-batches
    — a float running mean would drift with arrival order. State is one
    (count, sum) pair per open window per slide: bounded by the
    watermark horizon, independent of row count."""
    v = F.col(value_col)
    micro = F.round(v * 1_000_000, 0).cast("bigint")
    return (
        stream_df.filter(v.isNotNull())
        .withWatermark(time_col, watermark)
        .groupBy(F.window(time_col, window, slide).alias("w"))
        .agg(
            F.count(F.lit(1)).alias("n_events"),
            F.sum(micro).alias("_sum_u"),
        )
        .select(
            F.col("w.start").alias("window_start"),
            F.col("w.end").alias("window_end"),
            F.col("n_events").cast("bigint").alias("n_events"),
            F.round(
                F.col("_sum_u") / (F.lit(1_000_000.0) * F.col("n_events")), 6
            ).alias("avg_value"),
        )
    )


def streaming_session_agg(
    stream_df: DataFrame,
    key_col: str,
    time_col: str = "time",
    value_col: str | None = None,
    gap: str = "30 minutes",
    watermark: str = "1 hour",
) -> DataFrame:
    """Streaming gap sessionization: Structured Streaming's native
    ``session_window`` merges events of one key whose gaps stay under
    ``gap`` — the incremental twin of the batch
    ``operators.timeseries.sessionize`` (same 30-min default). Watermark
    bounds the session state, so open sessions close (and emit) once the
    watermark passes their end; state never grows unboundedly."""
    aggs = [F.count(F.lit(1)).alias("n_events")]
    if value_col is not None:
        # round to the shared precision so float sums match the batch twin
        # (session_stats) bit-for-bit regardless of accumulation order
        aggs.append(F.round(F.sum(value_col), 6).alias("sum_value"))
    return (
        stream_df.withWatermark(time_col, watermark)
        .groupBy(F.session_window(time_col, gap).alias("w"), F.col(key_col))
        .agg(*aggs)
        .select(
            key_col,
            F.col("w.start").alias("session_start"),
            F.col("w.end").alias("session_end"),
            "n_events",
            *(["sum_value"] if value_col is not None else []),
        )
    )


def streaming_ohlc(
    stream_df: DataFrame,
    key_col: str,
    time_col: str = "time",
    value_col: str = "value",
    tiebreak_col: str | None = None,
    watermark: str = "1 hour",
) -> DataFrame:
    """Incremental OHLC downsampling: watermarked 1-hour tumbling window
    per key with open/close as ``min_by``/``max_by`` over the event-time
    order — the streaming twin of ``operators.timeseries.ohlc_downsample``
    (which uses rank edges; min_by over the (time, tiebreak) struct is
    the same selection expressed as a mergeable aggregate, which is what
    makes it legal in a streaming state store). High/low/count are plain
    mergeable aggregates; state is bounded by the watermark."""
    order = (
        F.struct(F.col(time_col), F.col(tiebreak_col))
        if tiebreak_col is not None
        else F.col(time_col)
    )
    return (
        stream_df.withWatermark(time_col, watermark)
        .groupBy(F.window(time_col, "1 hour").alias("w"), F.col(key_col))
        .agg(
            F.min_by(F.col(value_col), order).alias("open"),
            F.max(value_col).alias("high"),
            F.min(value_col).alias("low"),
            F.max_by(F.col(value_col), order).alias("close"),
            F.count(F.lit(1)).alias("n_points"),
        )
        .select(
            key_col,
            F.col("w.start").alias("bucket"),
            "open",
            "high",
            "low",
            "close",
            "n_points",
        )
    )


def exactly_once_store_writer(
    store_path: str,
    time_col: str = "time",
) -> Callable[[DataFrame, int], None]:
    """foreachBatch sink into the hour-partitioned store with
    EXACTLY-ONCE semantics under micro-batch replay.

    A plain ``write.mode("append")`` in foreachBatch is only
    at-least-once: Spark replays a micro-batch whose epoch commit was
    lost (crash between the sink write and the checkpoint commit), and
    the retry appends every row a second time. Here each batch lands
    under an extra leading ``batch_id=<epoch>`` partition with DYNAMIC
    partition overwrite, so a replay — which regenerates the identical
    rows (the file source's batch composition is pinned by the
    checkpoint's offset log) — overwrites exactly its own partitions
    instead of duplicating them. Readers are unaffected: partition
    discovery handles the extra key, hour pruning still applies, and
    ``.drop("batch_id")`` restores the shape. Periodic ``compact_store``
    runs fold the per-batch files. Each batch bumps the store generation
    (``plans.store``), like every other store writer, so the planner's
    reused relation and ``QueryCache`` entries see it.

    Use as: ``stream.writeStream.foreachBatch(
    exactly_once_store_writer(path)) ...``.
    """

    def process(batch_df: DataFrame, batch_id: int) -> None:
        out = (
            batch_df.withColumn("batch_id", F.lit(int(batch_id)))
            .withColumn("year", F.year(time_col))
            .withColumn("month", F.month(time_col))
            .withColumn("day", F.dayofmonth(time_col))
            .withColumn("hour", F.hour(time_col))
        )
        # writer-scoped dynamic overwrite (ADVICE r03): a session-conf
        # toggle would leak dynamic-overwrite semantics into any
        # concurrent write in the same session during this batch
        try:
            (
                out.write.mode("overwrite")
                .option("partitionOverwriteMode", "dynamic")
                .partitionBy("batch_id", "year", "month", "day", "hour")
                .option("compression", "snappy")
                .parquet(store_path)
            )
        finally:
            bump_store_generation()

    return process
