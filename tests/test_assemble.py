"""Conversation assembly: ordering, token budgets, max_turns cap."""

from __future__ import annotations

import datetime

from pyspark.sql import functions as F

from logstash_integration_jdbc_spark.operators.assemble import assemble_conversations


def df_of(spark):
    t0 = datetime.datetime(2024, 1, 1)
    rows = [
        ("c1", 2, "assistant", "three words here", t0 + datetime.timedelta(minutes=2)),
        ("c1", 0, "user", "hello", t0),
        ("c1", 1, "assistant", "hi there", t0 + datetime.timedelta(minutes=1)),
        ("c2", 0, "user", "solo", t0),
    ]
    return spark.createDataFrame(
        rows, "conv_id string, turn_idx int, role string, text string, ts timestamp"
    )


def test_document_ordered_by_turn_idx(spark):
    out = {r.conv_id: r for r in assemble_conversations(df_of(spark)).collect()}
    assert out["c1"].document == "user: hello\nassistant: hi there\nassistant: three words here"
    assert out["c1"].n_turns == 3
    assert out["c1"].n_tokens == 1 + 2 + 3
    assert out["c1"].first_ts < out["c1"].last_ts
    assert out["c2"].document == "user: solo"


def test_max_turns_caps_document(spark):
    out = {r.conv_id: r for r in
           assemble_conversations(df_of(spark), max_turns=2).collect()}
    assert out["c1"].document == "user: hello\nassistant: hi there"
    assert out["c1"].n_tokens == 3  # tokens follow the cap
    assert out["c1"].n_turns == 3   # raw turn count still reported


def test_jvm_only(spark):
    plan = assemble_conversations(df_of(spark))._jdf.queryExecution().executedPlan().toString()
    assert "EvalPython" not in plan


def test_sessionize_native_matches_lag_form(spark, sf_dir):
    from pyspark.sql import Window

    from logstash_integration_jdbc_spark.operators.aggregate import (
        sessionize_native,
    )

    ev = spark.read.parquet(f"{sf_dir('sf0.001')}/events.parquet")
    sess = sessionize_native(ev, gap="30 minutes")
    native = {r.user_id: r.n for r in
              sess.groupBy("user_id").agg(F.count(F.lit(1)).alias("n")).collect()}

    w = Window.partitionBy("user_id").orderBy("ts", "event_id")
    us = F.unix_micros(F.col("ts").cast("timestamp"))
    gap = us - F.lag(us).over(w)
    bound = F.when(gap.isNull() | (gap > 1800 * 1_000_000), 1).otherwise(0)
    lag_form = {r.user_id: r.n for r in
                ev.withColumn("s", bound).groupBy("user_id")
                .agg(F.sum("s").alias("n")).collect()}
    assert native == lag_form

    # session spans cover their events: n_events sums to the row count
    total = sum(r.n_events for r in sess.collect())
    assert total == ev.count()


def test_sessionize_native_exact_gap_boundary(spark):
    """An event exactly `gap` after the previous one MERGES (Spark
    merges touching windows) — same as the lag `>` form; one past the
    gap starts a new session."""
    from logstash_integration_jdbc_spark.operators.aggregate import (
        sessionize_native,
    )

    df = spark.createDataFrame(
        [("u", "2024-01-01 00:00:00"), ("u", "2024-01-01 00:30:00"),
         ("v", "2024-01-01 00:00:00"), ("v", "2024-01-01 00:30:00.000001")],
        "user_id string, ts string",
    ).withColumn("ts", F.col("ts").cast("timestamp"))
    per_user = {}
    for r in sessionize_native(df, gap="30 minutes").collect():
        per_user[r.user_id] = per_user.get(r.user_id, 0) + 1
    assert per_user == {"u": 1, "v": 2}

