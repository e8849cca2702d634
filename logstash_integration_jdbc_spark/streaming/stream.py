"""Structured Streaming variant of the pipeline.

The reference is micro-batch-by-schedule (rufus-scheduler cron re-runs
the statement, /root/reference/lib/logstash/inputs/jdbc.rb:176-195); its
`sql_last_value` cursor silently drops late rows forever
(jdbc.rb mixin :227-231). Spark-native mapping (SURVEY.md §2.7):

- scheduled re-execution (S8) → `trigger(availableNow=True)`: one
  resumable micro-batch per invocation, exactly the semantics of a cron
  re-run, with Spark's own checkpoint directory playing the
  ValueTracker role;
- the strictly-monotone cursor → `withWatermark`: unlike the reference,
  late rows inside the watermark delay are still aggregated (an upgrade,
  documented divergence — set delay '0 seconds' for reference parity);
- lookup enrich: stream-static broadcast joins work unchanged — the
  same `Lookup.apply` compiles to a broadcast hash join against the
  static dimension in every micro-batch (re-read per batch ≡ S13
  refresh semantics / jdbc_streaming's TTL cache expiry);
- routing and commit: `foreachBatch` runs `run_pipeline`'s two commit
  steps on each micro-batch — the Router's single-pass partitioned write
  (exactly-once via run_id = batch id), then ``commit_aggregate``: the
  per-sink hourly counts over a read-back of that batch's committed
  sink partitions, written to ``out_dir/agg``. The micro-batch itself
  is computed once, by the sink write.
"""

from __future__ import annotations

import os

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F

from logstash_integration_jdbc_spark.functions.parse import parse_tool_calls
from logstash_integration_jdbc_spark.operators.lookup import LookupProcessor
from logstash_integration_jdbc_spark.operators.router import Router
from logstash_integration_jdbc_spark.pipeline import commit_aggregate


def streaming_hourly_counts(
    stream: DataFrame,
    ts_col: str = "ts",
    keys: tuple[str, ...] = ("role", "tool"),
    watermark_delay: str = "1 hour",
) -> DataFrame:
    """Watermarked tumbling-window counts over a streaming frame.

    ``watermark_delay='0 seconds'`` reproduces the reference's
    drop-all-late-rows behavior; larger delays accept bounded lateness.
    """
    return (
        stream.withWatermark(ts_col, watermark_delay)
        .groupBy(*keys, F.window(F.col(ts_col), "1 hour").alias("w"))
        .agg(F.count(F.lit(1)).alias("n_turns"))
        .select(*keys, F.col("w.start").alias("window_start"), "n_turns")
    )


def streaming_dedup(
    stream: DataFrame,
    key_cols: tuple[str, ...] = ("conv_id", "turn_idx"),
    ts_col: str = "ts",
    watermark_delay: str = "10 minutes",
) -> DataFrame:
    """Ingest-time exactly-once-per-key dedup over a stream.

    At-least-once upstreams (retried batches, replayed queues, the
    reference's rerun-the-whole-failed-batch semantics) deliver the
    same turn more than once; ``dropDuplicatesWithinWatermark`` keeps
    the FIRST arrival of each key and bounds the dedup state by the
    watermark delay — old keys age out of state instead of accumulating
    forever, which is what makes this viable on an unbounded 10^12-turn
    stream (a plain dropDuplicates would hold every key ever seen).
    Duplicates arriving later than the delay pass through — bound it to
    the upstream's redelivery window.
    """
    return stream.withWatermark(ts_col, watermark_delay).dropDuplicatesWithinWatermark(
        list(key_cols))


def streaming_pair_events(
    starts: DataFrame,
    ends: DataFrame,
    key_cols: tuple[str, ...] = ("conv_id",),
    ts_col: str = "ts",
    within: str = "30 minutes",
    watermark_delay: str = "10 minutes",
    how: str = "inner",
) -> DataFrame:
    """Stream-stream interval join — the ``elapsed`` filter's streaming
    sibling (pair a start event with the first-matching end event on an
    unbounded stream).

    Both sides are watermarked and the join carries the time-range
    predicate ``start_ts <= end_ts <= start_ts + within``, which is
    exactly what lets Spark BOUND the join state: a buffered start can
    be dropped once the end-side watermark passes ``start_ts + within``
    (without the range predicate, stream-stream state grows forever).
    ``how='leftOuter'`` additionally emits unmatched starts with null
    end columns once the watermark proves no match can arrive — the
    elapsed filter's ``expired`` status, produced by the engine's state
    timeout instead of a scheduler sweep.

    Output: ``*key_cols, start_ts, end_ts, elapsed_s`` plus each side's
    remaining columns (non-key input columns must not collide — rename
    upstream). Works on batch frames too (same plan, no state).
    """
    if how not in ("inner", "leftOuter"):
        raise ValueError("streaming_pair_events: how must be 'inner' or "
                         "'leftOuter'")
    keys = list(key_cols)
    dup = (set(starts.columns) & set(ends.columns)) - set(keys) - {ts_col}
    if dup:
        raise ValueError(
            f"streaming_pair_events: non-key columns collide: {sorted(dup)}"
            " — rename them upstream")
    s = starts.withColumnRenamed(ts_col, "start_ts")
    e = ends.withColumnRenamed(ts_col, "end_ts")
    for k in keys:
        e = e.withColumnRenamed(k, f"__end_{k}")
    if starts.isStreaming:
        s = s.withWatermark("start_ts", watermark_delay)
    if ends.isStreaming:
        e = e.withWatermark("end_ts", watermark_delay)
    cond = F.lit(True)
    for k in keys:
        cond = cond & (F.col(k) == F.col(f"__end_{k}"))
    cond = cond & (F.col("end_ts") >= F.col("start_ts"))
    cond = cond & (F.col("end_ts")
                   <= F.col("start_ts") + F.expr(f"INTERVAL {within}"))
    joined = s.join(e, cond, how)
    return (joined.drop(*[f"__end_{k}" for k in keys])
            .withColumn(
                "elapsed_s",
                F.when(F.col("end_ts").isNotNull(),
                       F.col("end_ts").cast("double")
                       - F.col("start_ts").cast("double"))))


def run_streaming_pipeline(
    spark: SparkSession,
    transcripts_path: str,
    processor: LookupProcessor,
    router: Router,
    out_dir: str,
    checkpoint_dir: str,
    schema: str | None = None,
    max_files_per_trigger: int | None = None,
) -> None:
    """One availableNow micro-batch run: parse → enrich → route → write
    → aggregate of the committed sinks.

    Resumability comes from the Spark streaming checkpoint (source file
    offsets ≡ sql_last_value); each invocation processes exactly the
    files not yet committed, mirroring the input plugin's scheduled
    incremental runs.
    """
    reader = spark.readStream
    if schema:
        reader = reader.schema(schema)
    else:
        # infer once from the existing data (static read; schema pinned)
        reader = reader.schema(spark.read.parquet(transcripts_path).schema)
    opts = {}
    if max_files_per_trigger:
        opts["maxFilesPerTrigger"] = str(max_files_per_trigger)
    stream = reader.options(**opts).parquet(transcripts_path)

    parsed = parse_tool_calls(stream)
    enriched = processor.enhance(parsed)

    def write_batch(batch_df: DataFrame, batch_id: int) -> None:
        run_id = f"batch{batch_id}"
        sink_counts = router.write_all(
            batch_df, os.path.join(out_dir, "sinks"),
            ts_col="ts", salt_col="conv_id", run_id=run_id,
        )
        commit_aggregate(spark, out_dir, run_id, batch_df.schema, sink_counts)

    q = (
        enriched.writeStream
        .foreachBatch(write_batch)
        .option("checkpointLocation", checkpoint_dir)
        .trigger(availableNow=True)
        .start()
    )
    q.awaitTermination()
