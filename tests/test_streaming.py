"""Structured Streaming pipeline: availableNow resume semantics."""

from __future__ import annotations

import os

import pytest
from pyspark.sql import functions as F

from logstash_integration_jdbc_spark.operators.lookup import Lookup, LookupProcessor
from logstash_integration_jdbc_spark.operators.router import Route, Router
from logstash_integration_jdbc_spark.streaming.stream import (
    run_streaming_pipeline,
    streaming_hourly_counts,
)


@pytest.fixture()
def setup(spark, fixture_dir, tmp_path):
    src = str(tmp_path / "src")
    full = spark.read.parquet(f"{fixture_dir}/transcripts.parquet")
    half1 = full.filter(F.xxhash64("conv_id") % 2 == 0)
    half2 = full.filter(F.xxhash64("conv_id") % 2 != 0)
    half1.write.mode("overwrite").parquet(src)
    tool_dim = spark.read.parquet(f"{fixture_dir}/tool_dim.parquet")
    lk = Lookup(
        id="tool_info", dim=tool_dim,
        on=[("tool", "=", "tool")], parameters={"tool": "[tool_call]"},
        select=["tool_name", "tool_category"],
        default_hash={"tool_name": "unknown", "tool_category": "unknown"},
        tag_on_failure=["_failure"], tag_on_default_use=["_default"],
    )
    router = Router(
        routes=[Route("parse_miss", ~F.col("parse_ok")),
                Route("matched", F.col("parse_ok"))],
        default_sink="failed",
    )
    return src, half1, half2, LookupProcessor([lk]), router


def test_available_now_processes_then_resumes(spark, tmp_path, setup):
    src, half1, half2, proc, router = setup
    out, ckpt = str(tmp_path / "out"), str(tmp_path / "ckpt")

    run_streaming_pipeline(spark, src, proc, router, out, ckpt)
    first = spark.read.parquet(os.path.join(out, "sinks")).count()
    assert first == half1.count()

    # append the second half; a new availableNow run picks up ONLY the
    # new files (streaming checkpoint = sql_last_value semantics)
    half2.write.mode("append").parquet(src)
    run_streaming_pipeline(spark, src, proc, router, out, ckpt)
    total = spark.read.parquet(os.path.join(out, "sinks")).count()
    assert total == half1.count() + half2.count()
    # no duplicates: each (conv_id, turn_idx) exactly once
    dups = (
        spark.read.parquet(os.path.join(out, "sinks"))
        .groupBy("conv_id", "turn_idx").count().filter("count > 1").count()
    )
    assert dups == 0


def test_streaming_aggregate_equals_recount_of_committed_sinks(spark, tmp_path, setup):
    # each micro-batch's aggregate is computed from a read-back of the
    # sink partitions that batch committed, so over every run it equals
    # a recount of the sinks
    from logstash_integration_jdbc_spark.operators.aggregate import hourly_counts

    src, half1, half2, proc, router = setup
    out, ckpt = str(tmp_path / "out"), str(tmp_path / "ckpt")
    run_streaming_pipeline(spark, src, proc, router, out, ckpt)
    half2.write.mode("append").parquet(src)
    run_streaming_pipeline(spark, src, proc, router, out, ckpt)

    cols = ["sink", "run_id", "role", "tool", "ts_hour", "n_turns"]
    agg = spark.read.parquet(os.path.join(out, "agg")).select(*cols)
    sinks = spark.read.parquet(os.path.join(out, "sinks")).drop("ts_hour")
    recount = hourly_counts(sinks, keys=("sink", "run_id", "role", "tool")).select(*cols)
    got = sorted(map(tuple, agg.collect()), key=repr)
    assert got == sorted(map(tuple, recount.collect()), key=repr)
    assert {r.run_id for r in agg.select("run_id").distinct().collect()} == {"batch0", "batch1"}
    assert sum(r[-1] for r in got) == half1.count() + half2.count()


def test_streaming_hourly_counts_watermark(spark, tmp_path, transcripts):
    src = str(tmp_path / "wsrc")
    transcripts.write.mode("overwrite").parquet(src)
    stream = spark.readStream.schema(transcripts.schema).parquet(src)
    agg = streaming_hourly_counts(stream, keys=("role",), watermark_delay="2 hours")
    q = (
        agg.writeStream.outputMode("append")
        .format("parquet")
        .option("path", str(tmp_path / "wout"))
        .option("checkpointLocation", str(tmp_path / "wckpt"))
        .trigger(availableNow=True)
        .start()
    )
    q.awaitTermination()
    # append-mode emits only windows closed by the watermark; with the
    # fixture spanning ~1h+late rows the early windows must be final and
    # match a batch recount
    got = spark.read.parquet(str(tmp_path / "wout"))
    if got.count() > 0:
        batch = (
            transcripts.groupBy("role", F.window("ts", "1 hour").alias("w"))
            .agg(F.count(F.lit(1)).alias("n_turns"))
            .select("role", F.col("w.start").alias("window_start"), "n_turns")
        )
        j = got.join(batch, ["role", "window_start"], "inner")
        mismatches = j.filter(got["n_turns"] != batch["n_turns"]).count()
        assert mismatches == 0
