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


def test_streaming_dedup_within_watermark(spark, tmp_path, transcripts):
    from logstash_integration_jdbc_spark.streaming.stream import streaming_dedup

    src = str(tmp_path / "dsrc")
    # at-least-once upstream: the same rows delivered twice (two files)
    sample = transcripts.limit(500)
    sample.write.mode("overwrite").parquet(src)
    sample.write.mode("append").parquet(src)
    stream = spark.readStream.schema(transcripts.schema).parquet(src)
    out = streaming_dedup(stream, key_cols=("conv_id", "turn_idx"),
                          watermark_delay="1 hour")
    q = (
        out.writeStream.outputMode("append")
        .format("parquet")
        .option("path", str(tmp_path / "dout"))
        .option("checkpointLocation", str(tmp_path / "dckpt"))
        .trigger(availableNow=True)
        .start()
    )
    q.awaitTermination()
    got = spark.read.parquet(str(tmp_path / "dout"))
    n_keys = sample.select("conv_id", "turn_idx").distinct().count()
    assert got.count() == n_keys
    assert got.select("conv_id", "turn_idx").distinct().count() == n_keys


def test_streaming_pair_events_interval_join(spark, tmp_path):
    from datetime import datetime, timedelta

    from logstash_integration_jdbc_spark.streaming.stream import (
        streaming_pair_events,
    )

    t0 = datetime(2026, 1, 1, 12, 0, 0)
    starts = [("c1", t0), ("c2", t0 + timedelta(minutes=5)),
              ("c3", t0 + timedelta(minutes=10))]
    # c1 matched within 30m; c2's end too late (>30m); c3 unmatched
    ends = [("c1", t0 + timedelta(minutes=7)),
            ("c2", t0 + timedelta(minutes=50)),
            ("c9", t0 + timedelta(minutes=1))]
    sdir, edir = str(tmp_path / "ps"), str(tmp_path / "pe")
    spark.createDataFrame(starts, "conv_id string, ts timestamp") \
        .write.parquet(sdir)
    spark.createDataFrame(ends, "conv_id string, ts timestamp") \
        .write.parquet(edir)
    schema = "conv_id string, ts timestamp"
    ss = spark.readStream.schema(schema).parquet(sdir)
    es = spark.readStream.schema(schema).parquet(edir)
    out = streaming_pair_events(ss, es, key_cols=("conv_id",),
                                within="30 minutes")
    q = (out.writeStream.outputMode("append").format("parquet")
         .option("path", str(tmp_path / "pout"))
         .option("checkpointLocation", str(tmp_path / "pckpt"))
         .trigger(availableNow=True).start())
    q.awaitTermination()
    got = {r["conv_id"]: r for r in
           spark.read.parquet(str(tmp_path / "pout")).collect()}
    assert set(got) == {"c1"}
    assert got["c1"]["elapsed_s"] == 420.0


def test_streaming_pair_events_batch_twin_and_validation(spark):
    from datetime import datetime, timedelta

    import pytest as pt

    from logstash_integration_jdbc_spark.streaming.stream import (
        streaming_pair_events,
    )

    t0 = datetime(2026, 1, 1, 0, 0, 0)
    s = spark.createDataFrame(
        [("a", t0), ("b", t0)], "conv_id string, ts timestamp")
    e = spark.createDataFrame(
        [("a", t0 + timedelta(seconds=90))], "conv_id string, ts timestamp")
    # batch frames run the same plan; leftOuter keeps unmatched starts
    rows = {r["conv_id"]: r for r in streaming_pair_events(
        s, e, within="5 minutes", how="leftOuter").collect()}
    assert rows["a"]["elapsed_s"] == 90.0
    assert rows["b"]["end_ts"] is None and rows["b"]["elapsed_s"] is None
    with pt.raises(ValueError, match="how must be"):
        streaming_pair_events(s, e, how="fullOuter")
    s2 = s.withColumn("x", F.lit(1))
    e2 = e.withColumn("x", F.lit(2))
    with pt.raises(ValueError, match="collide"):
        streaming_pair_events(s2, e2)
