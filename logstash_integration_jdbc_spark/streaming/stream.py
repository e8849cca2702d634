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
