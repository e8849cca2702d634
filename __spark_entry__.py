"""Driver contract for the spark-graft builder (PySpark target).

``queries()`` exposes one entry per implemented operator from SURVEY.md
§2 plus the training-data operators (dedup / similarity / text analysis);
``oracle_sql()`` gives the DuckDB-equivalent SQL the driver cross-checks
at sf=0.01, one per entry.

Numeric-stability rules used throughout so Spark and DuckDB hash
identically: decimal arithmetic for money sums (exact), embeddings cast
to double *before* multiplication (both engines then produce
bit-identical doubles), int/int ratios computed in double, and rounds
applied identically on both sides.
"""

from __future__ import annotations

import os
from collections.abc import Callable

from pyspark.sql import DataFrame, SparkSession, Window
from pyspark.sql import functions as F

PARSE_RE = r"tool_call=(\S+) status=(\w+) dur_ms=([+-]?\d+)"


def _pin(spark: SparkSession) -> None:
    """Pin the runtime confs every query/oracle pair assumes.

    The driver supplies its own session; queries run in arbitrary order,
    so each one pins (rather than mutates-and-restores) the confs: non-ANSI
    null-on-miss semantics and UTC timestamp rendering. Uniform pinning —
    every query function goes through here — keeps the session state
    deterministic regardless of execution order.
    """
    spark.conf.set("spark.sql.ansi.enabled", "false")
    spark.conf.set("spark.sql.session.timeZone", "UTC")


def _t(spark: SparkSession, sf_dir: str, name: str) -> DataFrame:
    _pin(spark)
    return spark.read.parquet(f"{sf_dir}/{name}.parquet")


# ---------------------------------------------------------------------------
# flagship
# ---------------------------------------------------------------------------

def entry(spark: SparkSession) -> DataFrame:
    """Flagship: lookup-enrich events against a dimension with
    jdbc_streaming semantics, route on tags, hourly per-sink counts."""
    return _q_router_counts(spark, "/root/testdata/sf0.001")


# ---------------------------------------------------------------------------
# reference-semantics operators (SURVEY.md §2)
# ---------------------------------------------------------------------------

def _q_full_scan(spark, sf_dir):
    # S1: full scan, one row per event, projection pushdown
    return _t(spark, sf_dir, "events").select(
        "event_id", "event_type", F.round(F.col("value"), 2).alias("val")
    )


def _q_incremental_scan(spark, sf_dir):
    # S2: tracking-column predicate > :sql_last_value (pushed to scan)
    from logstash_integration_jdbc_spark.sources.scan import incremental_scan

    ev = _t(spark, sf_dir, "events")
    out = incremental_scan(ev, "ts", "2024-01-20 00:00:00")
    return out.select("event_id", "event_type",
                      F.date_format("ts", "yyyy-MM-dd HH:mm:ss.SSSSSS").alias("ts_s"))


def _q_max_watermark(spark, sf_dir):
    # A2: max high-watermark aggregate
    return _t(spark, sf_dir, "events").agg(
        F.date_format(F.max("ts"), "yyyy-MM-dd HH:mm:ss.SSSSSS").alias("watermark")
    )


def _q_streaming_lookup(spark, sf_dir):
    # J1: jdbc_streaming cached-lookup semantics — left join + defaults +
    # tag_on_default_use; dim restricted so some keys miss.
    from logstash_integration_jdbc_spark.operators.lookup import Lookup, streaming_lookup

    cust = _t(spark, sf_dir, "customer")
    dim = _t(spark, sf_dir, "nation").filter(F.col("n_nationkey") < 15)
    lk = Lookup(
        id="nation_info", dim=dim,
        on=[("n_nationkey", "=", "k")], parameters={"k": "[c_nationkey]"},
        select=["n_name"], default_hash={"n_name": "unknown"},
        tag_on_failure=["_failure"], tag_on_default_use=["_default"],
    )
    out = streaming_lookup(cust, lk)
    return out.select(
        "c_custkey",
        F.get("nation_info", 0)["n_name"].alias("nation_name"),
        F.array_join("tags", ",").alias("tags_str"),
    )


def _q_static_lookup(spark, sf_dir):
    # J2: jdbc_static broadcast dimension lookup → array<struct> target
    from logstash_integration_jdbc_spark.operators.lookup import Lookup, LookupProcessor

    orders = _t(spark, sf_dir, "orders")
    cust = _t(spark, sf_dir, "customer")
    lk = Lookup(
        id="cust_info", dim=cust,
        on=[("c_custkey", "=", "k")], parameters={"k": "[o_custkey]"},
        select=["c_name", "c_mktsegment"],
    )
    out = LookupProcessor([lk]).enhance(orders)
    return out.select(
        "o_orderkey",
        F.get("cust_info", 0)["c_name"].alias("cust_name"),
        F.size("cust_info").alias("n_matches"),
    )


def _q_like_lookup(spark, sf_dir):
    # J4: interpolated %{...} parameter building a LIKE pattern (theta join)
    from logstash_integration_jdbc_spark.operators.lookup import Lookup

    nation = _t(spark, sf_dir, "nation").withColumn(
        "pfx", F.substring("n_name", 1, 1)
    )
    region = _t(spark, sf_dir, "region")
    lk = Lookup(
        id="regions", dim=region,
        on=[("r_name", "like", "pat")], parameters={"pat": "%{pfx}%"},
        select=["r_name"],
    )
    out = lk.apply(nation, fact_key=["n_nationkey"])
    names = F.transform(F.col("regions"), lambda x: x["r_name"])
    return out.select(
        "n_nationkey",
        F.array_join(F.sort_array(F.coalesce(names, F.array().cast("array<string>"))), ",").alias("matched_regions"),
    )


def _q_target_nesting(spark, sf_dir):
    # P2: nest the whole row under a target struct (input jdbc `target`
    # option), then project back out — proves the nesting round-trips.
    ev = _t(spark, sf_dir, "events")
    nested = ev.select(F.struct(*ev.columns).alias("payload"))
    return nested.select(
        F.col("payload.event_id").alias("event_id"),
        F.col("payload.event_type").alias("event_type"),
    )


def _q_param_sql(spark, sf_dir):
    # S6: prepared-statement analog — parameterized spark.sql with named
    # binds (no string splicing).
    from logstash_integration_jdbc_spark.sources.scan import load_testdata, run_statement

    load_testdata(spark, sf_dir, "events")
    return run_statement(
        spark,
        "SELECT event_id, value AS val FROM events "
        "WHERE event_type = :etype AND value > :minval",
        {"etype": "purchase", "minval": 100.0},
    )


def _q_positional_sql(spark, sf_dir):
    # S6 (positional parity): ordered `?` binds with a ":sql_last_value"
    # entry substituted from the tracker, statement_handler.rb:126-174.
    from logstash_integration_jdbc_spark.sources.scan import load_testdata, run_statement

    _pin(spark)
    load_testdata(spark, sf_dir, "events")
    return run_statement(
        spark,
        "SELECT event_id, event_type FROM events "
        "WHERE value > ? AND ts > ? ORDER BY event_id LIMIT 500",
        [120.0, ":sql_last_value"],
        sql_last_value="2024-01-15 00:00:00",
    )


def _q_count_guard(spark, sf_dir):
    # A1: the loader's count(*) guard as a first-class aggregate
    return _t(spark, sf_dir, "orders").agg(F.count(F.lit(1)).alias("n"))


def _q_multi_lookup_gate(spark, sf_dir):
    # R3: filter_matched fires only when ALL lookups succeed — two chained
    # lookups; rows whose supplier key misses the restricted dim fail the
    # gate (jdbc_static.rb:161-164).
    from logstash_integration_jdbc_spark.operators.lookup import (
        OK_COL,
        Lookup,
        LookupProcessor,
    )

    # Null out the supplier key on a deterministic slice so the invalid-
    # parameter path (tag_on_failure + gate=false) appears in the expected
    # output — the oracle can now fail if the OK gate regresses.
    li = _t(spark, sf_dir, "lineitem").withColumn(
        "l_suppkey",
        F.when(F.col("l_orderkey") % 97 == 0, F.lit(None)).otherwise(F.col("l_suppkey")),
    )
    part = _t(spark, sf_dir, "part")
    supp = _t(spark, sf_dir, "supplier").filter(F.col("s_suppkey") <= 50)
    proc = LookupProcessor([
        Lookup(id="part_info", dim=part, on=[("p_partkey", "=", "k")],
               parameters={"k": "[l_partkey]"}, select=["p_name"]),
        Lookup(id="supp_info", dim=supp, on=[("s_suppkey", "=", "k")],
               parameters={"k": "[l_suppkey]"}, select=["s_name"],
               tag_on_failure=["_supp_fail"]),
    ])
    out = proc.enhance(li)
    # matched = non-empty supplier array (valid+empty is still "ok" per
    # reference semantics, so the gate column alone can't split on dim
    # misses — expose both)
    return out.groupBy(
        F.col(OK_COL).alias("lookups_ok"),
        (F.size("supp_info") > 0).alias("supp_found"),
    ).agg(F.count(F.lit(1)).alias("n"))


def _q_assemble(spark, sf_dir):
    # conversation assembly: turns → one ordered training document per
    # conversation (events table mapped onto the transcript shape)
    from logstash_integration_jdbc_spark.operators.assemble import assemble_conversations

    ev = _t(spark, sf_dir, "events").select(
        F.col("user_id").cast("string").alias("conv_id"),
        F.col("event_id").cast("int").alias("turn_idx"),
        F.col("event_type").alias("role"),
        F.col("props").alias("text"),
        F.col("ts"),
    )
    out = assemble_conversations(ev)
    return out.select(
        "conv_id", "document", "n_turns", "n_tokens",
        F.date_format("first_ts", "yyyy-MM-dd HH:mm:ss.SSSSSS").alias("first_s"),
        F.date_format("last_ts", "yyyy-MM-dd HH:mm:ss.SSSSSS").alias("last_s"),
    )


def _q_assemble_capped(spark, sf_dir):
    # max_turns cap: heavy structs are nulled before collect_list (no
    # full materialization of giant conversations); document/token stats
    # follow the cap while n_turns/first/last cover every raw row.
    from logstash_integration_jdbc_spark.operators.assemble import assemble_conversations

    ev = _t(spark, sf_dir, "events").select(
        F.col("user_id").cast("string").alias("conv_id"),
        F.col("event_id").cast("int").alias("turn_idx"),
        F.col("event_type").alias("role"),
        F.col("props").alias("text"),
        F.col("ts"),
    )
    out = assemble_conversations(ev, max_turns=5)
    return out.select("conv_id", "document", "n_turns", "n_tokens")


def _q_grok_parse(spark, sf_dir):
    # north_star parse stage: multi-pattern grok with break_on_match and
    # _grokparsefailure tagging, JVM-side (GrokPipeline)
    from logstash_integration_jdbc_spark.functions.parse import GrokPipeline

    gp = GrokPipeline(
        patterns=['"k": %{INT:k}', "k=%{INT:k}"],
        types={"k": "int"},
        tag_on_failure=("_grokparsefailure",),
    )
    ev = _t(spark, sf_dir, "events")
    out = gp.apply(ev, text_col="props")
    return out.select(
        "event_id", "k",
        F.col("parse_ok").cast("int").alias("ok"),
        F.array_join("tags", ",").alias("tags_str"),
    )


def _q_router_counts(spark, sf_dir):
    # R4: tag/predicate fan-out — per-sink row counts
    from logstash_integration_jdbc_spark.operators.router import Route, Router

    ev = _t(spark, sf_dir, "events")
    router = Router(
        routes=[
            Route("errors", F.col("event_type") == "error"),
            Route("purchases", F.col("event_type") == "purchase"),
            Route("big_values", F.col("value") > 150.0),
        ],
        default_sink="other",
    )
    return router.route(ev).groupBy("sink").agg(F.count(F.lit(1)).alias("n"))


def _q_hourly_counts(spark, sf_dir):
    # north-star aggregate: groupBy(keys, hour window) → counts
    from logstash_integration_jdbc_spark.operators.aggregate import hourly_counts

    ev = _t(spark, sf_dir, "events")
    return hourly_counts(ev, ts_col="ts", keys=("event_type",)).withColumnRenamed(
        "n_turns", "n"
    )


def _q_latest_event(spark, sf_dir):
    # window function: latest event per user (checkpoint-cursor shape)
    ev = _t(spark, sf_dir, "events")
    w = Window.partitionBy("user_id").orderBy(F.desc("ts"), F.desc("event_id"))
    return (
        ev.withColumn("rn", F.row_number().over(w))
        .filter(F.col("rn") == 1)
        .select("user_id", "event_id",
                F.date_format("ts", "yyyy-MM-dd HH:mm:ss.SSSSSS").alias("ts_s"))
    )


def _q_sessionize(spark, sf_dir):
    # gap-based sessionization (30 min) per user — stateful streaming
    # analog expressed as windowed batch
    ev = _t(spark, sf_dir, "events")
    w = Window.partitionBy("user_id").orderBy("ts", "event_id")
    # integer microsecond epoch on both sides (unix_timestamp truncates
    # to seconds; NTZ → TS cast is UTC under the pinned session tz)
    us = F.unix_micros(F.col("ts").cast("timestamp"))
    gap = us - F.lag(us).over(w)
    # null gap = first event of the user → new session (when() would
    # otherwise route null comparisons to the 0 branch)
    bound = F.when(gap.isNull() | (gap > 1800 * 1_000_000), 1).otherwise(0)
    marked = ev.withColumn("new_sess", bound)
    return marked.groupBy("user_id").agg(F.sum("new_sess").alias("n_sessions"))


def _q_asof_enrich(spark, sf_dir):
    # as-of join: each purchase gets the latest error event at-or-before
    # it for the same user (point-in-time state enrichment); right side
    # deduped to one row per (user, ts) for determinism.
    from logstash_integration_jdbc_spark.operators.asof import asof_join

    ev = _t(spark, sf_dir, "events")
    purch = ev.filter(F.col("event_type") == "purchase").select(
        "event_id", "user_id", "ts"
    )
    err = (
        ev.filter(F.col("event_type") == "error")
        .groupBy("user_id", "ts")
        .agg(F.max("event_id").alias("err_id"))
    )
    out = asof_join(purch, err, on="ts", by="user_id", right_prefix="last_")
    return out.select(
        "event_id", "user_id", "last_err_id",
        F.date_format("ts", "yyyy-MM-dd HH:mm:ss.SSSSSS").alias("ts_s"),
    )


def _q_setops(spark, sf_dir):
    # delegated SQL surface: INTERSECT / EXCEPT / UNION as native ops
    ev = _t(spark, sf_dir, "events")
    buyers = ev.filter(F.col("event_type") == "purchase").select("user_id")
    erring = ev.filter(F.col("event_type") == "error").select("user_id")
    both = buyers.intersect(erring).select(F.lit("both").alias("op"), "user_id")
    clean = buyers.subtract(erring).select(  # EXCEPT (distinct) semantics
        F.lit("buy_only").alias("op"), "user_id"
    )
    return both.unionByName(clean)


def _q_rollup(spark, sf_dir):
    # delegated SQL surface: ROLLUP grouping sets with grouping() flags
    ev = _t(spark, sf_dir, "events")
    day = F.date_format("ts", "yyyy-MM-dd").alias("day")
    return (
        ev.rollup("event_type", day)
        .agg(F.count(F.lit(1)).alias("n"))
        .select(
            F.coalesce("event_type", F.lit("ALL")).alias("etype"),
            F.coalesce("day", F.lit("ALL")).alias("day"),
            "n",
        )
    )


def _q_tz_convert(spark, sf_dir):
    # F3: DB-local timezone → UTC decoration (`jdbc_default_timezone`);
    # January data — no DST boundary, so the policy branch is inert here
    # (exercised in tests/test_functions.py for both overlap policies).
    from logstash_integration_jdbc_spark.functions.timezone import local_to_utc

    ev = _t(spark, sf_dir, "events")
    out = ev.withColumn(
        "ts_utc", local_to_utc(F.col("ts"), "America/New_York")
    )
    return out.select(
        "event_id",
        F.date_format("ts_utc", "yyyy-MM-dd HH:mm:ss.SSSSSS").alias("utc_s"),
    )


# ---------------------------------------------------------------------------
# delegated SQL surface (the reference ships these to a remote DB; we own
# them natively) — TPC-H-style analytics
# ---------------------------------------------------------------------------

def _q_charset(spark, sf_dir):
    # P4: charset re-decoding (`charset`/`columns_charset`), exercised on
    # REAL non-ASCII: each props value gets the reference spec's umlaut
    # bytes appended in their mis-read (latin-1-decoded) form
    # (spec/inputs/jdbc_spec.rb:1453-1573); conversion must recover
    # ' zäöü' while leaving the ASCII prefix byte-faithful. The oracle
    # states the expected *repaired* text directly.
    from logstash_integration_jdbc_spark.functions.charset import convert_charset

    misread = " zäöü".encode("utf-8").decode("latin-1")
    ev = _t(spark, sf_dir, "events").select(
        "event_id", F.concat(F.col("props"), F.lit(misread)).alias("props")
    )
    return convert_charset(ev, columns_charset={"props": "ISO-8859-1"})


def _q_quantiles(spark, sf_dir):
    # delegated SQL surface: exact interpolated percentiles per group
    # (telemetry latency-style aggregation); approx_percentile is the
    # 100 TB path — exact `percentile` here so DuckDB can mirror it.
    ev = _t(spark, sf_dir, "events")
    return ev.groupBy("event_type").agg(
        F.round(F.expr("percentile(value, 0.5)"), 6).alias("p50"),
        F.round(F.expr("percentile(value, 0.95)"), 6).alias("p95"),
        F.round(F.expr("percentile(value, 0.99)"), 6).alias("p99"),
    )


def _q_semi_join(spark, sf_dir):
    # delegated SQL surface: EXISTS ≡ left-semi join (TPC-H q4 shape,
    # adapted to the driver tables' columns)
    orders = _t(spark, sf_dir, "orders")
    returned = _t(spark, sf_dir, "lineitem").filter(F.col("l_returnflag") == "R")
    return (
        orders.join(returned, orders.o_orderkey == returned.l_orderkey, "left_semi")
        .groupBy("o_orderpriority")
        .agg(F.count(F.lit(1)).alias("order_count"))
    )


def _q_anti_join(spark, sf_dir):
    # delegated SQL surface: NOT EXISTS ≡ left-anti join (q22 shape)
    cust = _t(spark, sf_dir, "customer")
    orders = _t(spark, sf_dir, "orders")
    return (
        cust.join(orders, cust.c_custkey == orders.o_custkey, "left_anti")
        .select("c_custkey", "c_mktsegment")
    )


def _q_tpch_q6(spark, sf_dir):
    li = _t(spark, sf_dir, "lineitem")
    dec = lambda c: F.col(c).cast("decimal(18,2)")
    out = li.filter(
        (F.col("l_shipdate") >= "1996-01-01")
        & (F.col("l_shipdate") < "1997-01-01")
        & (F.col("l_discount").cast("decimal(18,2)").between(0.05, 0.07))
        & (F.col("l_quantity") < 24)
    ).agg(F.sum(dec("l_extendedprice") * dec("l_discount")).alias("_rev"))
    return out.select(F.col("_rev").cast("double").alias("revenue"))


def _q_tpch_q1(spark, sf_dir):
    li = _t(spark, sf_dir, "lineitem").filter(F.col("l_shipdate") <= "2000-09-01")
    dec = lambda c: F.col(c).cast("decimal(18,2)")
    disc_price = dec("l_extendedprice") * (F.lit(1).cast("decimal(18,2)") - dec("l_discount"))
    charge = disc_price * (F.lit(1).cast("decimal(18,2)") + dec("l_tax"))
    g = li.groupBy("l_returnflag", "l_linestatus").agg(
        F.sum(dec("l_quantity")).alias("_sq"),
        F.sum(dec("l_extendedprice")).alias("_sbp"),
        F.sum(disc_price).alias("_sdp"),
        F.sum(charge).alias("_sc"),
        F.count(F.lit(1)).alias("count_order"),
    )
    return g.select(
        "l_returnflag", "l_linestatus",
        F.col("_sq").cast("double").alias("sum_qty"),
        F.col("_sbp").cast("double").alias("sum_base_price"),
        F.col("_sdp").cast("double").alias("sum_disc_price"),
        F.col("_sc").cast("double").alias("sum_charge"),
        F.round(F.col("_sq").cast("double") / F.col("count_order"), 4).alias("avg_qty"),
        "count_order",
    )


def _q_tpch_q3(spark, sf_dir):
    cust = _t(spark, sf_dir, "customer").filter(F.col("c_mktsegment") == "BUILDING")
    orders = _t(spark, sf_dir, "orders").filter(F.col("o_orderdate") < "1998-01-01")
    li = _t(spark, sf_dir, "lineitem").filter(F.col("l_shipdate") > "1998-01-01")
    dec = lambda c: F.col(c).cast("decimal(18,2)")
    rev = dec("l_extendedprice") * (F.lit(1).cast("decimal(18,2)") - dec("l_discount"))
    j = li.join(orders, li.l_orderkey == orders.o_orderkey).join(
        F.broadcast(cust), orders.o_custkey == cust.c_custkey
    )
    return (
        j.groupBy("o_orderkey", "o_orderdate")
        .agg(F.sum(rev).alias("_rev"))
        .select(
            "o_orderkey",
            F.date_format("o_orderdate", "yyyy-MM-dd").alias("orderdate"),
            F.col("_rev").cast("double").alias("revenue"),
        )
    )


def _q_tpch_q5(spark, sf_dir):
    region = _t(spark, sf_dir, "region").filter(F.col("r_name") == "ASIA")
    nation = _t(spark, sf_dir, "nation")
    cust = _t(spark, sf_dir, "customer")
    orders = _t(spark, sf_dir, "orders").filter(
        (F.col("o_orderdate") >= "1996-01-01") & (F.col("o_orderdate") < "1998-01-01")
    )
    li = _t(spark, sf_dir, "lineitem")
    supp = _t(spark, sf_dir, "supplier")
    dec = lambda c: F.col(c).cast("decimal(18,2)")
    rev = dec("l_extendedprice") * (F.lit(1).cast("decimal(18,2)") - dec("l_discount"))
    j = (
        li.join(orders, li.l_orderkey == orders.o_orderkey)
        .join(supp, li.l_suppkey == supp.s_suppkey)
        .join(cust, (orders.o_custkey == cust.c_custkey)
              & (cust.c_nationkey == supp.s_nationkey))
        .join(F.broadcast(nation), cust.c_nationkey == nation.n_nationkey)
        .join(F.broadcast(region), nation.n_regionkey == region.r_regionkey)
    )
    return (
        j.groupBy("n_name")
        .agg(F.sum(rev).alias("_rev"))
        .select("n_name", F.col("_rev").cast("double").alias("revenue"))
    )


# ---------------------------------------------------------------------------
# training-data operators
# ---------------------------------------------------------------------------

def _q_dedup_exact_groups(spark, sf_dir):
    docs = _t(spark, sf_dir, "documents")
    # duplicate the corpus with shifted ids so every text has a dup
    both = docs.unionByName(docs.withColumn("doc_id", F.col("doc_id") + 1_000_000))
    from logstash_integration_jdbc_spark.operators.dedup import dup_groups

    return dup_groups(both)


def _q_dedup_exact_keep(spark, sf_dir):
    from logstash_integration_jdbc_spark.operators.dedup import exact_dedup

    docs = _t(spark, sf_dir, "documents")
    both = docs.unionByName(docs.withColumn("doc_id", F.col("doc_id") + 1_000_000))
    return exact_dedup(both).select("doc_id", "lang", "source")


def _q_dedup_exact_norm(spark, sf_dir):
    # near-exact dedup on the canonical form (lowercase, punctuation
    # stripped, whitespace collapsed) — catches trivially-reformatted
    # copies plain sha2 dedup misses; the oracle recomputes the
    # normalization + min-id representative in SQL.
    from logstash_integration_jdbc_spark.operators.dedup import exact_dedup_normalized

    docs = _t(spark, sf_dir, "documents")
    shout = docs.select(
        (F.col("doc_id") + 1_000_000).alias("doc_id"),
        F.concat(F.upper(F.col("text")), F.lit("!!")).alias("text"),
        "lang", "source",
    )
    both = docs.select("doc_id", "text", "lang", "source").unionByName(shout)
    return exact_dedup_normalized(both).select("doc_id")


def _q_text_repetition(spark, sf_dir):
    # within-document duplicate-bigram ratio (boilerplate/looping-text
    # quality signal); oracle recomputes distinct/total bigrams in SQL.
    from logstash_integration_jdbc_spark.operators.textstats import repetition_ratio

    docs = _t(spark, sf_dir, "documents")
    return repetition_ratio(docs, n=2).select("doc_id", "rep_ratio")


def _q_redact_pii(spark, sf_dir):
    # PII scrubbing over documents with deterministic injected PII
    # (email/IP/card/phone per doc_id); the DuckDB oracle replays the
    # same RE2-compatible pattern chain on the same constructed text —
    # md5 + length of the redacted output must agree exactly.
    from logstash_integration_jdbc_spark.operators.textstats import redact_pii

    docs = _t(spark, sf_dir, "documents")
    seeded = docs.select(
        "doc_id",
        F.concat_ws(
            " ", F.col("text"),
            F.concat(F.lit("user"), F.col("doc_id").cast("string"),
                     F.lit("@example.com")),
            F.concat(F.lit("10.0."), (F.col("doc_id") % 256).cast("string"),
                     F.lit(".7")),
            F.concat(F.lit("+1 555 867 530"),
                     (F.col("doc_id") % 10).cast("string")),
            F.lit("4111111111111111"),
        ).alias("text"),
    )
    return redact_pii(seeded).select(
        "doc_id", F.md5("text_redacted").alias("red_md5"),
        F.length("text_redacted").cast("int").alias("red_len"))


def _q_normalize_unicode(spark, sf_dir):
    # Unicode canonicalization, made non-vacuous on the ASCII corpus by
    # appending a deterministic messy suffix (decomposed e+U+0301, a
    # BEL control, a double space) that NFC+strip+collapse must clean
    # identically in both engines.
    from logstash_integration_jdbc_spark.operators.textstats import (
        normalize_unicode,
    )

    docs = _t(spark, sf_dir, "documents").select(
        "doc_id",
        F.concat(F.col("text"), F.lit(" café\x07  end")).alias("text"))
    return normalize_unicode(docs).select(
        "doc_id", F.md5("text_norm").alias("norm_md5"),
        F.length("text_norm").alias("norm_len"))


def _q_zlib_ratio(spark, sf_dir):
    # Dolma-style compression-ratio quality signal: one Arrow hop
    # (CPython zlib — deterministic, twin-replayable byte-exactly)
    from logstash_integration_jdbc_spark.operators.textstats import (
        compression_ratio,
    )

    docs = _t(spark, sf_dir, "documents")
    out = compression_ratio(docs)
    return out.select("doc_id", F.round("zlib_ratio", 6).alias("zr"))


def _q_hybrid_rrf(spark, sf_dir):
    # reciprocal-rank fusion of a BM25 keyword list and a dense cosine
    # list over the same id space — the standard hybrid-retrieval merge
    from logstash_integration_jdbc_spark.operators.relevance import (
        add_rank,
        bm25_topk,
        rrf_fuse,
    )
    from logstash_integration_jdbc_spark.operators.similarity import (
        cosine_topk,
    )

    docs = _t(spark, sf_dir, "documents")
    bm = add_rank(bm25_topk(docs, ["spark", "join", "window"], k=25))
    emb = _t(spark, sf_dir, "embeddings").withColumn(
        "embedding", F.col("embedding").cast("array<double>"))
    queries = emb.filter(F.col("vec_id") < 1).selectExpr(
        "vec_id as query_id", "embedding")
    dense = cosine_topk(emb, queries, k=25).select(
        F.col("vec_id").alias("doc_id"), "rank")
    return rrf_fuse([bm.select("doc_id", "rank"), dense], k=15)


def _q_bpe_encode(spark, sf_dir):
    # trainable BPE: distributed word-count exchange + driver-side
    # merge loop (vocab-bounded), broadcast-rank Arrow encode pass
    from logstash_integration_jdbc_spark.operators import bpe

    docs = _t(spark, sf_dir, "documents")
    merges = bpe.train_bpe(docs, 160)
    out = bpe.bpe_encode(docs, merges)
    return out.select(
        "doc_id",
        F.size("bpe_tokens").cast("bigint").alias("bpe_len"),
        F.md5(F.concat_ws("\x1f", "bpe_tokens")).alias("toks_md5"))


def _q_c4_rules(spark, sf_dir):
    # C4 cleaning rules (Raffel et al. 2020 §2.2): line-level
    # punctuation/length/boilerplate deletion + document gates, one
    # map-only pass. Lines synthesized per doc (corpus text is a
    # single unpunctuated line): a kept lead line, a too-short line
    # (always dropped), a cookie-policy boiler line on doc_id%5==0
    # (dropped as boilerplate), and a lorem-ipsum line on doc_id%7==0
    # (kept, but trips the document gate).
    from logstash_integration_jdbc_spark.operators.textstats import c4_rules

    docs = _t(spark, sf_dir, "documents")
    la = F.concat(F.substring("text", 1, 40), F.lit(" end."))
    lc = F.concat(F.substring("text", 1, 40), F.lit(" more words here?"))
    ld = F.concat(F.substring("text", 1, 30), F.lit(" tail line three!"))
    payload = F.concat_ws(
        "\n", la, F.lit("too short."),
        F.when(F.col("doc_id") % 5 == 0,
               F.lit("please accept our cookie policy terms today."))
         .otherwise(lc),
        F.when(F.col("doc_id") % 7 == 0,
               F.lit("lorem ipsum dolor sit amet consectetur adipiscing."))
         .otherwise(ld))
    out = c4_rules(docs.withColumn("payload", payload), "payload")
    return out.select(
        "doc_id", "c4_lines_kept",
        F.col("c4_sentences_ok").cast("int").alias("sent_ok"),
        F.col("c4_no_lorem").cast("int").alias("no_lorem"),
        F.col("c4_keep").cast("int").alias("keep"),
        F.md5("c4_text").alias("c4_md5"))


def _q_gopher_rules(spark, sf_dir):
    # Gopher document-quality rules (Rae et al. 2021) — flags + keep;
    # min_words lowered to 20 for the synthetic short-doc corpus so the
    # keep decision splits non-trivially.
    from logstash_integration_jdbc_spark.operators.textstats import (
        gopher_rules,
    )

    docs = _t(spark, sf_dir, "documents")
    return gopher_rules(docs, min_words=20).select(
        "doc_id", "g_n_words", "g_mean_wl", "g_words_ok", "g_mean_wl_ok",
        "g_symbol_ok", "g_bullet_ok", "g_ellipsis_ok", "g_alpha_ok",
        "g_stop_ok", "gopher_keep")


def _q_perplexity(spark, sf_dir):
    # CCNet-style corpus-quality scoring: per-doc perplexity under an
    # add-0.5 bigram model fit on the corpus itself; DuckDB replays the
    # full model fit + scoring math.
    from logstash_integration_jdbc_spark.operators.lm import perplexity
    from logstash_integration_jdbc_spark.operators.skew import spread

    docs = spread(_t(spark, sf_dir, "documents"), "doc_id")
    return perplexity(docs)


def _q_dedup_minhash(spark, sf_dir):
    # 64 hashes / 16 bands (r=4): for the ≥0.9-jaccard near-dup pairs the
    # corpus contains, miss probability is (1-0.9^4)^16 ≈ 4e-8 — exact vs
    # the O(n²) oracle in practice — while false candidates need 4
    # agreeing minhashes, keeping verification cost near-linear (r=1
    # admitted 3% of ALL pairs as candidates on this corpus).
    from logstash_integration_jdbc_spark.operators.dedup import minhash_lsh_candidates

    docs = _t(spark, sf_dir, "documents")
    pairs = minhash_lsh_candidates(docs, num_hashes=64, bands=16)
    return pairs.filter(F.col("jaccard") >= 0.8).select(
        "id_a", "id_b", F.round("jaccard", 6).alias("jac")
    )


def _q_dedup_substring(spark, sf_dir):
    # exact-substring duplication (Lee et al. substring dedup as a
    # winnowed-anchor join): doubled corpus so every doc shares ALL its
    # runs with its copy, plus whatever template near-dups share.
    # Oracle: independent pure-Python winnowing replay over the same
    # parquet (xxh64 long-chain twin — parity with Spark's xxhash64
    # pinned by test_xxhash/test_dedup).
    from logstash_integration_jdbc_spark.operators.dedup import (
        substring_dup_pairs,
    )

    docs = _t(spark, sf_dir, "documents")
    both = docs.unionByName(docs.withColumn("doc_id", F.col("doc_id") + 1_000_000))
    return substring_dup_pairs(both, min_tokens=10, window=4)


def _q_token_count(spark, sf_dir):
    from logstash_integration_jdbc_spark.operators.textstats import (
        bpe_ish_token_count,
        token_count,
    )

    docs = _t(spark, sf_dir, "documents")
    return docs.select(
        "doc_id",
        token_count(F.col("text")).alias("n_tokens"),
        bpe_ish_token_count(F.col("text")).alias("n_pieces"),
    )


def _q_quality(spark, sf_dir):
    from logstash_integration_jdbc_spark.operators.textstats import quality_score

    docs = _t(spark, sf_dir, "documents")
    return quality_score(docs).select(
        "doc_id", "punct_ratio", "stopword_ratio", "quality",
        F.col("keep").cast("int").alias("keep_flag"),
    )


def _q_top_terms(spark, sf_dir):
    from logstash_integration_jdbc_spark.operators.relevance import top_terms

    docs = _t(spark, sf_dir, "documents")
    return top_terms(docs, k=20)


def _q_tfidf(spark, sf_dir):
    from logstash_integration_jdbc_spark.operators.relevance import tf_idf

    docs = _t(spark, sf_dir, "documents")
    return tf_idf(docs).select(
        "doc_id", "term", "tf", "df",
        F.round("weight", 6).alias("w6"))


def _q_bm25_topk(spark, sf_dir):
    from logstash_integration_jdbc_spark.operators.relevance import bm25_topk
    from logstash_integration_jdbc_spark.operators.skew import spread

    docs = spread(_t(spark, sf_dir, "documents"), "doc_id")
    return bm25_topk(docs, ["spark", "join", "window"], k=25)


def _q_chunk_docs(spark, sf_dir):
    from logstash_integration_jdbc_spark.operators.relevance import (
        chunk_documents,
    )

    docs = _t(spark, sf_dir, "documents")
    return chunk_documents(docs, chunk_size=64, overlap=16)


def _q_langid(spark, sf_dir):
    from logstash_integration_jdbc_spark.operators.textstats import lang_id

    docs = _t(spark, sf_dir, "documents")
    return lang_id(docs).select("doc_id", "lang_pred")


def _q_fingerprint(spark, sf_dir):
    # xxhash64-based rolling fingerprint — not portable to DuckDB → rows-only
    from logstash_integration_jdbc_spark.operators.textstats import fingerprint

    return fingerprint(_t(spark, sf_dir, "documents")).select("doc_id", "fingerprint")


def _q_ann_cosine_topk(spark, sf_dir):
    from logstash_integration_jdbc_spark.operators.similarity import cosine_topk
    from logstash_integration_jdbc_spark.operators.skew import spread

    emb = spread(_t(spark, sf_dir, "embeddings"), "vec_id").withColumn(
        "embedding", F.col("embedding").cast("array<double>")
    )
    queries = emb.filter(F.col("vec_id") < 5).selectExpr("vec_id as query_id", "embedding")
    return cosine_topk(emb, queries, k=10).select(
        "query_id", "vec_id", F.round("cosine", 4).alias("cos4")
    )


def _q_embedding_near_dup(spark, sf_dir):
    # The companion corpus is PERTURBED, not copied: even dims ×1.35, odd
    # ×0.65 → cosine(v, v') ≈ 1/√(1+0.35²) ≈ 0.94…0.96 depending on the
    # even/odd energy split — pairs straddle the 0.95 threshold, so the
    # O(n²) oracle genuinely exercises near (not exact) duplicate recall.
    from logstash_integration_jdbc_spark.operators.dedup import exact_cosine_pairs

    emb = _t(spark, sf_dir, "embeddings").withColumn(
        "embedding", F.col("embedding").cast("array<double>")
    )
    pert = emb.select(
        (F.col("vec_id") + 100_000).alias("vec_id"),
        F.transform(
            "embedding",
            lambda x, i: x * F.when(i % 2 == 0, F.lit(1.35)).otherwise(F.lit(0.65)),
        ).alias("embedding"),
    )
    both = emb.select("vec_id", "embedding").unionByName(pert)
    return exact_cosine_pairs(both, min_cosine=0.95).select(
        "id_a", "id_b", F.round("cosine", 4).alias("cos4")
    )


def _q_embedding_near_dups_scalable(spark, sf_dir):
    # The 100 TB path (multi-probe 8×8-bit sketch blocking, dedup.py
    # embedding_near_dups) against the SAME O(n²) oracle as the exact
    # variant: miss probability ≈1.5e-6 per true pair at cosine 0.95, so
    # at this scale the blocked candidate generation + exact JVM verify
    # reproduces the all-pairs answer exactly.
    from logstash_integration_jdbc_spark.operators.dedup import embedding_near_dups

    emb = _t(spark, sf_dir, "embeddings").withColumn(
        "embedding", F.col("embedding").cast("array<double>")
    )
    pert = emb.select(
        (F.col("vec_id") + 100_000).alias("vec_id"),
        F.transform(
            "embedding",
            lambda x, i: x * F.when(i % 2 == 0, F.lit(1.35)).otherwise(F.lit(0.65)),
        ).alias("embedding"),
    )
    both = emb.select("vec_id", "embedding").unionByName(pert)
    return embedding_near_dups(both, min_cosine=0.95).select(
        "id_a", "id_b", F.round("cosine", 4).alias("cos4")
    )


# Location for the deterministic generated pipeline input: the query
# functions write it once (build-in-temp + atomic rename — the content
# is a pure function of (n_rows=5000, seed=42), so a dir carrying the
# _DONE marker is byte-identical and is NOT rewritten; concurrent first
# runs each build privately and exactly one rename wins), and the
# DuckDB oracles reimplement parse→enrich→route over it with
# read_parquet. Overridable for non-default environments.
_PIPELINE_ORACLE_DIR = os.environ.get(
    "SPARK_GRAFT_PIPELINE_ORACLE_DIR", "/tmp/ljspark_oracle-5000-42")


def _write_pipeline_input(spark):
    import os as _os
    import shutil as _sh
    import tempfile as _tf

    from logstash_integration_jdbc_spark.sources.generator import (
        gen_tool_dim,
        gen_transcripts,
    )

    tr = gen_transcripts(spark, n_rows=5000, seed=42)
    marker = _os.path.join(_PIPELINE_ORACLE_DIR, "_DONE")
    if not _os.path.exists(marker):
        # Build in a private temp dir, then atomically rename into place:
        # concurrent first runs each build their own (byte-identical)
        # tree; exactly one rename wins and losers discard theirs — no
        # window where readers see a half-written shared dir.
        parent = _os.path.dirname(_PIPELINE_ORACLE_DIR) or "."
        tmp = _tf.mkdtemp(prefix="ljspark_oracle_tmp-", dir=parent)
        try:
            tr.write.mode("overwrite").parquet(
                _os.path.join(tmp, "transcripts.parquet"))
            gen_tool_dim(spark).write.mode("overwrite").parquet(
                _os.path.join(tmp, "tool_dim.parquet"))
            with open(_os.path.join(tmp, "_DONE"), "w", encoding="utf-8") as fh:
                fh.write("n_rows=5000 seed=42")
            try:
                _os.rename(tmp, _PIPELINE_ORACLE_DIR)
            except OSError:
                # target exists: either a racer won (marker present —
                # their tree is identical, use it) or a stale markerless
                # dir is in the way (replace it, tolerating a racer
                # doing the same).
                if not _os.path.exists(marker):
                    _sh.rmtree(_PIPELINE_ORACLE_DIR, ignore_errors=True)
                    try:
                        _os.rename(tmp, _PIPELINE_ORACLE_DIR)
                    except OSError:
                        # a racer may have renamed between our rmtree and
                        # rename — fine iff a complete tree now exists;
                        # otherwise BOTH renames failed and no usable dir
                        # remains, so fail here at build time rather than
                        # as a later oracle read error
                        if not _os.path.exists(marker):
                            raise RuntimeError(
                                "pipeline oracle fixture build failed: "
                                f"could not install {_PIPELINE_ORACLE_DIR} "
                                "and no completed tree (marker) exists")
        finally:
            _sh.rmtree(tmp, ignore_errors=True)
    return tr


def _q_transcript_pipeline(spark, sf_dir):
    # flagship parse→enrich→classify over the deterministic generated
    # transcript table (north_star shape); the oracle reimplements
    # parse/enrich/route in SQL over the written copy of the same input.
    from logstash_integration_jdbc_spark.functions.parse import parse_tool_calls
    from logstash_integration_jdbc_spark.operators.lookup import OK_COL, Lookup, LookupProcessor
    from logstash_integration_jdbc_spark.sources.generator import gen_tool_dim

    _pin(spark)
    tr = _write_pipeline_input(spark)
    parsed = parse_tool_calls(tr)
    lk = Lookup(
        id="tool_info", dim=gen_tool_dim(spark),
        on=[("tool", "=", "tool")], parameters={"tool": "[tool_call]"},
        select=["tool_name", "tool_category"],
        default_hash={"tool_name": "unknown", "tool_category": "unknown"},
        tag_on_failure=["_failure"], tag_on_default_use=["_default"],
    )
    enriched = LookupProcessor([lk]).enhance(parsed)
    sink = (
        F.when(~F.col("parse_ok"), "parse_miss")
        .when(F.array_contains("tags", "_default"), "defaults_used")
        .when(F.col(OK_COL), "matched")
        .otherwise("failed")
    )
    return enriched.groupBy(sink.alias("sink")).agg(F.count(F.lit(1)).alias("n"))


def _q_dedup_components(spark, sf_dir):
    # the pairs → clusters composition: minhash near-dup pairs (the
    # dedup_minhash row's exact-verified set) fed through min-label
    # connected components; per-cluster membership is replayed in
    # DuckDB by a WITH RECURSIVE transitive closure over the same
    # exact-jaccard pair set.
    from logstash_integration_jdbc_spark.operators.dedup import (
        dedup_components,
        minhash_lsh_candidates,
    )

    docs = _t(spark, sf_dir, "documents")
    pairs = minhash_lsh_candidates(docs, num_hashes=64, bands=16).filter(
        F.col("jaccard") >= 0.8).select("id_a", "id_b")
    comps = dedup_components(pairs)
    return comps.groupBy("component").agg(
        F.count(F.lit(1)).cast("bigint").alias("n_members"),
        F.sum("id").cast("bigint").alias("sum_ids"))


def _q_zorder_key(spark, sf_dir):
    # multi-dimensional write-layout key: Morton interleave of two
    # 8-bit columns, all-Catalyst bit arithmetic (no UDF). The oracle
    # replays the identical shift/mask expression in DuckDB; the
    # file-stat-tightening effect of zorder_layout itself is pinned by
    # tests/test_layout.py (parquet min/max ranges on both columns).
    from logstash_integration_jdbc_spark.operators.layout import zorder_key

    ev = _t(spark, sf_dir, "events")
    return ev.select(
        "event_id",
        zorder_key([F.col("event_id") % 256, F.col("user_id") % 256],
                   bits=8).alias("zkey"))


def queries() -> dict[str, Callable[[SparkSession, str], DataFrame]]:
    """Every entry has a DuckDB oracle in ``oracle_sql()``."""
    return {
        "embedding_near_dups_scalable": _q_embedding_near_dups_scalable,
        "transcript_pipeline": _q_transcript_pipeline,
        "s2_incremental_scan": _q_incremental_scan,
        "j1_streaming_lookup": _q_streaming_lookup,
        "grok_parse": _q_grok_parse,
        "dedup_minhash": _q_dedup_minhash,
        "dedup_components": _q_dedup_components,
        "gopher_rules": _q_gopher_rules,
        "c4_rules": _q_c4_rules,
        "bpe_encode": _q_bpe_encode,
        "text_bm25_topk": _q_bm25_topk,
        "zorder_key": _q_zorder_key,
        "j2_static_lookup": _q_static_lookup,
        "r4_router_counts": _q_router_counts,
        "ann_cosine_topk": _q_ann_cosine_topk,
        "conv_assemble": _q_assemble,
        "s1_full_scan": _q_full_scan,
        "a2_max_watermark": _q_max_watermark,
        "s6_param_sql": _q_param_sql,
        "p2_target_nesting": _q_target_nesting,
        "a1_count_guard": _q_count_guard,
        "r3_multi_lookup_gate": _q_multi_lookup_gate,
        "agg_hourly_counts": _q_hourly_counts,
        "sessionize": _q_sessionize,
        "asof_enrich": _q_asof_enrich,
        "tpch_q1": _q_tpch_q1,
        "tpch_q3": _q_tpch_q3,
        "dedup_exact_norm": _q_dedup_exact_norm,
        "dedup_substring": _q_dedup_substring,
        "text_token_count": _q_token_count,
        "text_quality": _q_quality,
        "text_langid": _q_langid,
        "text_redact_pii": _q_redact_pii,
        "embedding_near_dup": _q_embedding_near_dup,
        "text_repetition": _q_text_repetition,
        "j4_like_lookup": _q_like_lookup,
        "text_fingerprint": _q_fingerprint,
        "s6_positional_sql": _q_positional_sql,
        "conv_assemble_capped": _q_assemble_capped,
        "win_latest_event": _q_latest_event,
        "p4_charset": _q_charset,
        "quantiles": _q_quantiles,
        "semi_join": _q_semi_join,
        "anti_join": _q_anti_join,
        "setops": _q_setops,
        "rollup_counts": _q_rollup,
        "tz_convert": _q_tz_convert,
        "tpch_q5": _q_tpch_q5,
        "tpch_q6": _q_tpch_q6,
        "dedup_exact_groups": _q_dedup_exact_groups,
        "dedup_exact_keep": _q_dedup_exact_keep,
        "text_top_terms": _q_top_terms,
        "text_tfidf": _q_tfidf,
        "text_chunk_docs": _q_chunk_docs,
        "text_perplexity": _q_perplexity,
        "normalize_unicode": _q_normalize_unicode,
        "text_zlib_ratio": _q_zlib_ratio,
        "hybrid_rrf_topk": _q_hybrid_rrf,
    }


# ---------------------------------------------------------------------------
# DuckDB oracles
# ---------------------------------------------------------------------------

# The driver contract evaluates oracles at sf0.01 (TESTDATA.md); the
# xxhash64-based expected tables below are computed from its parquet by
# an independent pure-Python implementation (functions/xxhash.py). For a
# different evaluation scale set SPARK_GRAFT_ORACLE_SF_DIR — the values
# are recomputed against that dir (cached per dir per process).
_ORACLE_SF_DIR = os.environ.get("SPARK_GRAFT_ORACLE_SF_DIR",
                                "/root/testdata/sf0.01")
_XXHASH_ORACLE_CACHE: dict[tuple[str, str], str] = {}


def _read_docs() -> list[tuple[int, str]]:
    import duckdb

    return duckdb.sql(
        f"SELECT doc_id, text FROM read_parquet('{_ORACLE_SF_DIR}/documents.parquet') "
        "ORDER BY doc_id"
    ).fetchall()


def _value_oracle(key: str, build) -> str:
    """Build (once per sf dir) a VALUES-table oracle from pure Python.

    A missing testdata dir degrades to a DESCRIPTIVE failing SQL for
    THIS key only — requesting any other oracle must not depend on the
    documents parquet existing (ADVICE r2)."""
    ck = (key, _ORACLE_SF_DIR)
    if ck not in _XXHASH_ORACLE_CACHE:
        if not os.path.exists(os.path.join(_ORACLE_SF_DIR, "documents.parquet")):
            return (f"SELECT error('oracle {key} needs "
                    f"{_ORACLE_SF_DIR}/documents.parquet; set "
                    "SPARK_GRAFT_ORACLE_SF_DIR') AS missing")
        _XXHASH_ORACLE_CACHE[ck] = build()
    return _XXHASH_ORACLE_CACHE[ck]


def _py_fingerprint(text: str) -> int:
    """Independent twin of textstats.fingerprint (FNV-style token fold)."""
    from logstash_integration_jdbc_spark.functions.xxhash import (
        spark_ws_tokens,
        xxh64_str,
    )

    mask = (1 << 64) - 1
    toks = [] if text.strip(" ") == "" else spark_ws_tokens(text)
    acc = (-3750763034362895579) & mask
    for t in toks:
        acc = (acc * 1099511628211 + (xxh64_str(t) & mask)) & mask
    return acc - (1 << 64) if acc >= (1 << 63) else acc


def _substring_oracle_values() -> str:
    """Expected (id_a, id_b, n_shared_anchors) over the doubled corpus
    via an independent pure-Python winnowing replay: token xxhash64 →
    positional 10-gram long-chain hashes → min of each 4-window →
    distinct anchors → pairwise intersections. Twin parity with Spark's
    xxhash64 over long columns is pinned by its own test."""
    from logstash_integration_jdbc_spark.functions.xxhash import (
        spark_ws_tokens,
        spark_xxhash64_longs,
        xxh64_str,
    )

    L, W = 10, 4
    docs = _read_docs()
    both = docs + [(i + 1_000_000, t) for i, t in docs]
    anchors: dict[int, frozenset] = {}
    by_text: dict[str, frozenset] = {}
    for did, text in both:
        if text not in by_text:
            th = [xxh64_str(t) for t in spark_ws_tokens(text)]
            if len(th) < L:
                a = frozenset()
            else:
                g = [spark_xxhash64_longs(th[i:i + L])
                     for i in range(len(th) - L + 1)]
                if len(g) < W:
                    a = frozenset({min(g)})
                else:
                    a = frozenset(min(g[j:j + W]) for j in range(len(g) - W + 1))
            by_text[text] = a
        anchors[did] = by_text[text]
    from collections import Counter

    inv: dict[int, list[int]] = {}
    for did, a in anchors.items():
        for v in a:
            inv.setdefault(v, []).append(did)
    cnt: Counter = Counter()
    for ds in inv.values():
        ds.sort()
        for i in range(len(ds)):
            for j in range(i + 1, len(ds)):
                cnt[(ds[i], ds[j])] += 1
    rows = sorted((a, b, n) for (a, b), n in cnt.items())
    return "SELECT * FROM (VALUES " + ", ".join(
        f"(CAST({a} AS BIGINT), CAST({b} AS BIGINT), CAST({n} AS BIGINT))"
        for a, b, n in rows
    ) + ") t(id_a, id_b, n_shared_anchors)"


def _zlib_oracle_values() -> str:
    """Twin replay of _q_zlib_ratio: the same CPython zlib at level 6.
    Rounding must be HALF_UP (Spark's round on double goes through
    BigDecimal.valueOf + HALF_UP; Python's round is banker's — zlib
    ratios hit exact .5 boundaries because lengths give power-of-2
    denominators, e.g. 93/128)."""
    import decimal
    import zlib

    def half_up6(x: float) -> float:
        return float(decimal.Decimal(repr(x)).quantize(
            decimal.Decimal("0.000001"), rounding=decimal.ROUND_HALF_UP))

    vals = []
    for did, text in _read_docs():
        b = (text or "").encode("utf-8")
        r = half_up6(len(zlib.compress(b, 6)) / len(b)) if b else None
        vals.append(f"(CAST({did} AS BIGINT), "
                    + (f"CAST({r!r} AS DOUBLE))" if r is not None
                       else "CAST(NULL AS DOUBLE))"))
    return ("SELECT * FROM (VALUES " + ", ".join(vals) + ") t(doc_id, zr)")


def _bpe_oracle_values() -> str:
    """Twin replay of _q_bpe_encode with INDEPENDENT formulations of
    both halves: training re-counts every pair each round over the
    full vocab (no incremental maintenance), encoding applies merges
    in rank order exhaustively (the Sennrich apply) instead of the
    greedy min-rank-present walk — equivalent algorithms, different
    code paths, so a bug in either fast path can't self-confirm."""
    import hashlib

    from logstash_integration_jdbc_spark.functions.xxhash import (
        spark_ws_tokens,
    )
    from logstash_integration_jdbc_spark.operators.bpe import EOW

    wc: dict[str, int] = {}
    docs = _read_docs()
    for _, text in docs:
        for w in spark_ws_tokens(text or ""):
            if w:
                wc[w] = wc.get(w, 0) + 1

    vocab = {tuple(w) + (EOW,): n for w, n in wc.items()}
    merges: list[tuple[str, str]] = []
    for _ in range(160):
        pairs: dict[tuple[str, str], int] = {}
        for syms, n in vocab.items():
            for i in range(len(syms) - 1):
                p = (syms[i], syms[i + 1])
                pairs[p] = pairs.get(p, 0) + n
        if not pairs:
            break
        best = min(pairs.items(), key=lambda kv: (-kv[1], kv[0]))[0]
        merges.append(best)
        joined = best[0] + best[1]
        nv: dict[tuple[str, ...], int] = {}
        for syms, n in vocab.items():
            out, i = [], 0
            while i < len(syms):
                if i < len(syms) - 1 and (syms[i], syms[i + 1]) == best:
                    out.append(joined)
                    i += 2
                else:
                    out.append(syms[i])
                    i += 1
            nv[tuple(out)] = nv.get(tuple(out), 0) + n
        vocab = nv

    def apply_in_order(word: str) -> list[str]:
        syms = list(word) + [EOW]
        for a, b in merges:
            j = a + b
            i, out = 0, []
            while i < len(syms):
                if i < len(syms) - 1 and syms[i] == a and syms[i + 1] == b:
                    out.append(j)
                    i += 2
                else:
                    out.append(syms[i])
                    i += 1
            syms = out
            if len(syms) == 1:
                break
        return syms

    memo: dict[str, list[str]] = {}
    vals = []
    for did, text in docs:
        toks: list[str] = []
        for w in spark_ws_tokens(text or ""):
            if not w:
                continue
            if w not in memo:
                memo[w] = apply_in_order(w)
            toks.extend(memo[w])
        digest = hashlib.md5("\x1f".join(toks).encode("utf-8")).hexdigest()
        vals.append(f"(CAST({did} AS BIGINT), CAST({len(toks)} AS BIGINT), "
                    f"'{digest}')")
    return ("SELECT * FROM (VALUES " + ", ".join(vals)
            + ") t(doc_id, bpe_len, toks_md5)")


def _fingerprint_oracle_values() -> str:
    rows = [(did, _py_fingerprint(text)) for did, text in _read_docs()]
    return "SELECT * FROM (VALUES " + ", ".join(
        f"(CAST({d} AS BIGINT), CAST({fp} AS BIGINT))" for d, fp in rows
    ) + ") t(doc_id, fingerprint)"

_STOP_EN = "'the','and','of','to','a','in','is','that','it','for'"

_STOP = {
    "en": _STOP_EN,
    "de": "'der','die','das','und','ist','nicht','ein','zu','mit','auf'",
    "fr": "'le','la','les','et','est','un','une','dans','pour','que'",
    "es": "'el','la','los','de','que','y','es','en','un','por'",
}

_SHINGLES_CTE = r"""
tok AS (
    SELECT doc_id, regexp_split_to_array(trim(lower(text)), '\s+') AS w, text
    FROM documents
),
sh AS (
    SELECT doc_id,
        list_distinct(
            CASE WHEN len(w) >= 3
                 THEN list_transform(range(1, len(w) - 1),
                                     i -> w[i] || ' ' || w[i+1] || ' ' || w[i+2])
                 ELSE [text] END
        ) AS s
    FROM tok
)
"""


def oracle_sql() -> dict[str, str]:
    q: dict[str, str] = {}

    q["s1_full_scan"] = (
        "SELECT event_id, event_type, round(value, 2) AS val FROM events"
    )
    q["s2_incremental_scan"] = """
        SELECT event_id, event_type,
               strftime(ts, '%Y-%m-%d %H:%M:%S.%f') AS ts_s
        FROM events WHERE ts > TIMESTAMP '2024-01-20 00:00:00'
    """
    q["a2_max_watermark"] = (
        "SELECT strftime(max(ts), '%Y-%m-%d %H:%M:%S.%f') AS watermark FROM events"
    )
    q["s6_param_sql"] = """
        SELECT event_id, value AS val FROM events
        WHERE event_type = 'purchase' AND value > 100.0
    """
    q["s6_positional_sql"] = """
        SELECT event_id, event_type FROM events
        WHERE value > 120.0 AND ts > TIMESTAMP '2024-01-15 00:00:00'
        ORDER BY event_id LIMIT 500
    """
    q["p2_target_nesting"] = "SELECT event_id, event_type FROM events"
    q["a1_count_guard"] = "SELECT count(*) AS n FROM orders"
    q["r3_multi_lookup_gate"] = """
        WITH li AS (
            SELECT CASE WHEN l_orderkey % 97 = 0 THEN NULL
                        ELSE l_suppkey END AS l_suppkey
            FROM lineitem
        )
        SELECT l.l_suppkey IS NOT NULL AS lookups_ok,
               -- invalid rows: Spark's size(NULL) = -1 (legacy non-ANSI)
               -- so size(target) > 0 is FALSE, not NULL
               coalesce(s.s_suppkey IS NOT NULL, FALSE) AS supp_found,
               count(*) AS n
        FROM li l
        LEFT JOIN (SELECT * FROM supplier WHERE s_suppkey <= 50) s
          ON l.l_suppkey = s.s_suppkey
        GROUP BY 1, 2
    """
    q["j1_streaming_lookup"] = """
        SELECT c.c_custkey,
               coalesce(n.n_name, 'unknown') AS nation_name,
               CASE WHEN n.n_name IS NULL THEN '_default' ELSE '' END AS tags_str
        FROM customer c
        LEFT JOIN (SELECT * FROM nation WHERE n_nationkey < 15) n
          ON c.c_nationkey = n.n_nationkey
    """
    q["j2_static_lookup"] = """
        SELECT o.o_orderkey, c.c_name AS cust_name, 1 AS n_matches
        FROM orders o LEFT JOIN customer c ON o.o_custkey = c.c_custkey
    """
    q["j4_like_lookup"] = """
        SELECT n.n_nationkey,
               coalesce(string_agg(r.r_name, ',' ORDER BY r.r_name), '') AS matched_regions
        FROM nation n
        LEFT JOIN region r ON r.r_name LIKE substr(n.n_name, 1, 1) || '%'
        GROUP BY n.n_nationkey
    """
    q["grok_parse"] = """
        SELECT event_id,
               try_cast(nullif(regexp_extract(props, '"k": ([+-]?\\d+)', 1), '') AS INT) AS k,
               CASE WHEN nullif(regexp_extract(props, '"k": ([+-]?\\d+)', 1), '') IS NOT NULL
                    THEN 1 ELSE 0 END AS ok,
               CASE WHEN nullif(regexp_extract(props, '"k": ([+-]?\\d+)', 1), '') IS NOT NULL
                    THEN '' ELSE '_grokparsefailure' END AS tags_str
        FROM events
    """
    q["conv_assemble"] = r"""
        SELECT CAST(user_id AS VARCHAR) AS conv_id,
               string_agg(event_type || ': ' || props, chr(10) ORDER BY CAST(event_id AS INT)) AS document,
               count(*) AS n_turns,
               -- DuckDB sum() yields HUGEINT (→ float64 via .df()); cast to
               -- BIGINT so the value-hash matches Spark's bigint exactly
               CAST(sum(CASE WHEN trim(props) = '' THEN 0
                        ELSE len(regexp_split_to_array(trim(lower(props)), '\s+')) END) AS BIGINT) AS n_tokens,
               strftime(min(ts), '%Y-%m-%d %H:%M:%S.%f') AS first_s,
               strftime(max(ts), '%Y-%m-%d %H:%M:%S.%f') AS last_s
        FROM events GROUP BY user_id
    """
    q["conv_assemble_capped"] = r"""
        WITH capped AS (
            SELECT CAST(user_id AS VARCHAR) AS conv_id,
                   CAST(event_id AS INT) AS turn_idx,
                   event_type AS role, props AS text
            FROM events
            QUALIFY row_number() OVER (PARTITION BY user_id
                                       ORDER BY CAST(event_id AS INT)) <= 5
        ), raw AS (
            SELECT CAST(user_id AS VARCHAR) AS conv_id, count(*) AS n_turns
            FROM events GROUP BY 1
        )
        SELECT c.conv_id,
               string_agg(c.role || ': ' || c.text, chr(10) ORDER BY c.turn_idx) AS document,
               any_value(r.n_turns) AS n_turns,
               CAST(sum(CASE WHEN trim(c.text) = '' THEN 0
                        ELSE len(regexp_split_to_array(trim(lower(c.text)), '\s+')) END) AS BIGINT) AS n_tokens
        FROM capped c JOIN raw r ON c.conv_id = r.conv_id
        GROUP BY c.conv_id
    """
    q["r4_router_counts"] = """
        SELECT sink, count(*) AS n FROM (
            SELECT CASE WHEN event_type = 'error' THEN 'errors'
                        WHEN event_type = 'purchase' THEN 'purchases'
                        WHEN value > 150.0 THEN 'big_values'
                        ELSE 'other' END AS sink
            FROM events
        ) GROUP BY sink
    """
    q["agg_hourly_counts"] = """
        SELECT event_type,
               strftime(date_trunc('hour', ts), '%Y-%m-%d %H:00:00') AS ts_hour,
               count(*) AS n
        FROM events GROUP BY 1, 2
    """
    q["win_latest_event"] = """
        SELECT user_id, event_id, strftime(ts, '%Y-%m-%d %H:%M:%S.%f') AS ts_s
        FROM (
            SELECT *, row_number() OVER (PARTITION BY user_id
                                         ORDER BY ts DESC, event_id DESC) AS rn
            FROM events
        ) WHERE rn = 1
    """
    q["sessionize"] = """
        SELECT user_id, CAST(sum(new_sess) AS BIGINT) AS n_sessions FROM (
            SELECT user_id,
                   CASE WHEN lag(ts) OVER w IS NULL THEN 1
                        WHEN epoch_us(ts) - epoch_us(lag(ts) OVER w) > 1800000000 THEN 1
                        ELSE 0 END AS new_sess
            FROM events
            WINDOW w AS (PARTITION BY user_id ORDER BY ts, event_id)
        ) GROUP BY user_id
    """
    q["tpch_q1"] = """
        SELECT l_returnflag, l_linestatus,
               CAST(sum(CAST(l_quantity AS DECIMAL(18,2))) AS DOUBLE) AS sum_qty,
               CAST(sum(CAST(l_extendedprice AS DECIMAL(18,2))) AS DOUBLE) AS sum_base_price,
               CAST(sum(CAST(l_extendedprice AS DECIMAL(18,2))
                        * (CAST(1 AS DECIMAL(18,2)) - CAST(l_discount AS DECIMAL(18,2)))) AS DOUBLE) AS sum_disc_price,
               CAST(sum(CAST(l_extendedprice AS DECIMAL(18,2))
                        * (CAST(1 AS DECIMAL(18,2)) - CAST(l_discount AS DECIMAL(18,2)))
                        * (CAST(1 AS DECIMAL(18,2)) + CAST(l_tax AS DECIMAL(18,2)))) AS DOUBLE) AS sum_charge,
               round(CAST(sum(CAST(l_quantity AS DECIMAL(18,2))) AS DOUBLE) / count(*), 4) AS avg_qty,
               count(*) AS count_order
        FROM lineitem
        WHERE l_shipdate <= TIMESTAMP '2000-09-01 00:00:00'
        GROUP BY l_returnflag, l_linestatus
    """
    q["tpch_q3"] = """
        SELECT l.l_orderkey AS o_orderkey,
               strftime(o.o_orderdate, '%Y-%m-%d') AS orderdate,
               CAST(sum(CAST(l_extendedprice AS DECIMAL(18,2))
                        * (CAST(1 AS DECIMAL(18,2)) - CAST(l_discount AS DECIMAL(18,2)))) AS DOUBLE) AS revenue
        FROM lineitem l
        JOIN orders o ON l.l_orderkey = o.o_orderkey
        JOIN customer c ON o.o_custkey = c.c_custkey
        WHERE c.c_mktsegment = 'BUILDING'
          AND o.o_orderdate < TIMESTAMP '1998-01-01 00:00:00'
          AND l.l_shipdate > TIMESTAMP '1998-01-01 00:00:00'
        GROUP BY 1, 2
    """
    q["tpch_q5"] = """
        SELECT n.n_name,
               CAST(sum(CAST(l_extendedprice AS DECIMAL(18,2))
                        * (CAST(1 AS DECIMAL(18,2)) - CAST(l_discount AS DECIMAL(18,2)))) AS DOUBLE) AS revenue
        FROM lineitem l
        JOIN orders o ON l.l_orderkey = o.o_orderkey
        JOIN supplier s ON l.l_suppkey = s.s_suppkey
        JOIN customer c ON o.o_custkey = c.c_custkey AND c.c_nationkey = s.s_nationkey
        JOIN nation n ON c.c_nationkey = n.n_nationkey
        JOIN region r ON n.n_regionkey = r.r_regionkey
        WHERE r.r_name = 'ASIA'
          AND o.o_orderdate >= TIMESTAMP '1996-01-01 00:00:00'
          AND o.o_orderdate < TIMESTAMP '1998-01-01 00:00:00'
        GROUP BY n.n_name
    """
    q["tpch_q6"] = """
        SELECT CAST(sum(CAST(l_extendedprice AS DECIMAL(18,2))
                        * CAST(l_discount AS DECIMAL(18,2))) AS DOUBLE) AS revenue
        FROM lineitem
        WHERE l_shipdate >= TIMESTAMP '1996-01-01 00:00:00'
          AND l_shipdate < TIMESTAMP '1997-01-01 00:00:00'
          AND CAST(l_discount AS DECIMAL(18,2)) BETWEEN 0.05 AND 0.07
          AND l_quantity < 24
    """
    q["p4_charset"] = "SELECT event_id, props || ' zäöü' AS props FROM events"
    q["quantiles"] = """
        SELECT event_type,
               round(quantile_cont(value, 0.5), 6) AS p50,
               round(quantile_cont(value, 0.95), 6) AS p95,
               round(quantile_cont(value, 0.99), 6) AS p99
        FROM events GROUP BY event_type
    """
    q["semi_join"] = """
        SELECT o_orderpriority, count(*) AS order_count FROM orders o
        WHERE EXISTS (SELECT 1 FROM lineitem l
                      WHERE l.l_orderkey = o.o_orderkey AND l.l_returnflag = 'R')
        GROUP BY o_orderpriority
    """
    q["anti_join"] = """
        SELECT c_custkey, c_mktsegment FROM customer c
        WHERE NOT EXISTS (SELECT 1 FROM orders o WHERE o.o_custkey = c.c_custkey)
    """
    q["asof_enrich"] = """
        WITH purch AS (
            SELECT event_id, user_id, ts FROM events WHERE event_type = 'purchase'
        ), err AS (
            SELECT user_id, ts, max(event_id) AS err_id FROM events
            WHERE event_type = 'error' GROUP BY user_id, ts
        )
        SELECT p.event_id, p.user_id, e.err_id AS last_err_id,
               strftime(p.ts, '%Y-%m-%d %H:%M:%S.%f') AS ts_s
        FROM purch p ASOF LEFT JOIN err e
          ON p.user_id = e.user_id AND p.ts >= e.ts
    """
    q["setops"] = """
        WITH buyers AS (SELECT user_id FROM events WHERE event_type = 'purchase'),
             erring AS (SELECT user_id FROM events WHERE event_type = 'error')
        SELECT 'both' AS op, user_id FROM (SELECT * FROM buyers INTERSECT SELECT * FROM erring)
        UNION ALL
        SELECT 'buy_only' AS op, user_id
        FROM (SELECT DISTINCT user_id FROM buyers
              WHERE user_id NOT IN (SELECT user_id FROM erring))
    """
    q["rollup_counts"] = """
        SELECT coalesce(event_type, 'ALL') AS etype,
               coalesce(strftime(ts, '%Y-%m-%d'), 'ALL') AS day,
               count(*) AS n
        FROM events GROUP BY ROLLUP (event_type, strftime(ts, '%Y-%m-%d'))
    """
    q["tz_convert"] = """
        SELECT event_id,
               strftime(CAST(timezone('America/New_York', ts) AS TIMESTAMP),
                        '%Y-%m-%d %H:%M:%S.%f') AS utc_s
        FROM events
    """
    q["dedup_exact_groups"] = """
        SELECT min(doc_id) AS rep_id, count(*) AS n_dups FROM (
            SELECT doc_id, text FROM documents
            UNION ALL SELECT doc_id + 1000000, text FROM documents
        ) GROUP BY text HAVING count(*) > 1
    """
    q["dedup_exact_keep"] = """
        SELECT doc_id, lang, source FROM (
            SELECT doc_id, text, lang, source FROM documents
            UNION ALL SELECT doc_id + 1000000, text, lang, source FROM documents
        ) QUALIFY doc_id = min(doc_id) OVER (PARTITION BY text)
    """
    # normalized near-exact dedup: same representative rule over the
    # canonical form (lower, strip punct, collapse whitespace)
    q["dedup_exact_norm"] = r"""
        SELECT doc_id FROM (
            SELECT doc_id, text FROM documents
            UNION ALL SELECT doc_id + 1000000, upper(text) || '!!' FROM documents
        ) QUALIFY doc_id = min(doc_id) OVER (PARTITION BY
            trim(regexp_replace(regexp_replace(lower(text), '[^\w\s]', '', 'g'),
                                '\s+', ' ', 'g')))
    """
    # within-doc duplicate-bigram ratio
    q["text_repetition"] = r"""
        WITH tok AS (
            SELECT doc_id,
                   CASE WHEN trim(text) = '' THEN []
                        ELSE regexp_split_to_array(trim(lower(text)), '\s+')
                   END AS w
            FROM documents
        )
        SELECT doc_id,
               round(CASE WHEN len(w) >= 2 THEN
                   1.0 - len(list_distinct(list_transform(range(1, len(w)),
                               i -> w[i] || ' ' || w[i + 1]))) * 1.0 / (len(w) - 1)
                   ELSE 0.0 END, 6) AS rep_ratio
        FROM tok
    """
    # PII redaction: the oracle replays the OPERATOR's pattern list
    # (imported, so the two can never drift) with DuckDB's RE2 engine
    # over the identically-constructed seeded text.
    from logstash_integration_jdbc_spark.operators.textstats import PII_PATTERNS

    _red = ("text || ' user' || CAST(doc_id AS VARCHAR) || '@example.com'"
            " || ' 10.0.' || CAST(doc_id % 256 AS VARCHAR) || '.7'"
            " || ' +1 555 867 530' || CAST(doc_id % 10 AS VARCHAR)"
            " || ' 4111111111111111'")
    for _pat, _repl in PII_PATTERNS:
        _red = f"regexp_replace({_red}, '{_pat}', '{_repl}', 'g')"
    q["text_redact_pii"] = (
        f"SELECT doc_id, md5({_red}) AS red_md5, "
        f"CAST(length({_red}) AS INT) AS red_len FROM documents"
    )

    # pipeline oracles: SQL reimplementation of parse→enrich→route over
    # the written copy of the deterministic generated input (RE2 regex ≡
    # the compiled TOOL_CALL_GROK; lookup miss → default → defaults_used).
    _parse_re = r"tool_call=(\S+) status=(\w+) dur_ms=([+-]?\d+)"
    q["transcript_pipeline"] = f"""
        WITH tr AS (
            SELECT text,
                   regexp_matches(text, '{_parse_re}') AS parse_ok,
                   nullif(regexp_extract(text, '{_parse_re}', 1), '') AS tool_call
            FROM read_parquet('{_PIPELINE_ORACLE_DIR}/transcripts.parquet/*.parquet')
        )
        SELECT CASE WHEN NOT t.parse_ok THEN 'parse_miss'
                    WHEN d.tool IS NULL THEN 'defaults_used'
                    ELSE 'matched' END AS sink,
               count(*) AS n
        FROM tr t
        LEFT JOIN read_parquet('{_PIPELINE_ORACLE_DIR}/tool_dim.parquet/*.parquet') d
          ON t.tool_call = d.tool
        GROUP BY 1
    """
    q["dedup_substring"] = _value_oracle("substring", _substring_oracle_values)
    q["text_zlib_ratio"] = _value_oracle("text_zlib_ratio",
                                         _zlib_oracle_values)
    q["bpe_encode"] = _value_oracle("bpe", _bpe_oracle_values)

    q["text_fingerprint"] = _value_oracle("fp", _fingerprint_oracle_values)
    q["dedup_minhash"] = f"""
        WITH {_SHINGLES_CTE}
        SELECT a.doc_id AS id_a, b.doc_id AS id_b,
               round(CAST(len(list_intersect(a.s, b.s)) AS DOUBLE)
                     / len(list_distinct(list_concat(a.s, b.s))), 6) AS jac
        FROM sh a JOIN sh b ON a.doc_id < b.doc_id
        WHERE CAST(len(list_intersect(a.s, b.s)) AS DOUBLE)
              / len(list_distinct(list_concat(a.s, b.s))) >= 0.8
    """
    q["text_token_count"] = r"""
        SELECT doc_id,
               CASE WHEN trim(text) = '' THEN 0
                    ELSE len(regexp_split_to_array(trim(lower(text)), '\s+')) END AS n_tokens,
               len(regexp_extract_all(lower(text), '[a-z]+|[0-9]|[^a-z0-9\s]')) AS n_pieces
        FROM documents
    """
    q["text_quality"] = rf"""
        WITH f AS (
            SELECT doc_id,
                CASE WHEN trim(text) = '' THEN []::VARCHAR[]
                     ELSE regexp_split_to_array(trim(lower(text)), '\s+') END AS toks,
                length(text) AS n_chars,
                length(text) - length(regexp_replace(text, '[^\w\s]', '', 'g')) AS n_punct,
                length(regexp_replace(text, '\s+', '', 'g')) AS n_nospace,
                text
            FROM documents
        ), g AS (
            SELECT doc_id, len(toks) AS n_tokens,
                round(CASE WHEN n_chars > 0 THEN CAST(n_punct AS DOUBLE)/n_chars ELSE 0.0 END, 6) AS punct_ratio,
                round(CASE WHEN len(toks) > 0
                      THEN CAST(len(list_filter(toks, t -> t IN ({_STOP_EN}))) AS DOUBLE)/len(toks)
                      ELSE 0.0 END, 6) AS stopword_ratio,
                round(CASE WHEN len(toks) > 0 THEN CAST(n_nospace AS DOUBLE)/len(toks) ELSE 0.0 END, 6) AS mean_word_len
            FROM f
        )
        SELECT doc_id, punct_ratio, stopword_ratio,
            CAST(round((CASE WHEN n_tokens >= 10 THEN 0.25 ELSE 0.0 END)
          + (CASE WHEN mean_word_len > 1.0 AND mean_word_len <= 12.0 THEN 0.25 ELSE 0.0 END)
          + (CASE WHEN punct_ratio < 0.3 THEN 0.25 ELSE 0.0 END)
          + (CASE WHEN stopword_ratio > 0.0 THEN 0.25 ELSE 0.0 END), 2) AS DOUBLE) AS quality,
            CAST(((CASE WHEN n_tokens >= 10 THEN 0.25 ELSE 0.0 END)
          + (CASE WHEN mean_word_len > 1.0 AND mean_word_len <= 12.0 THEN 0.25 ELSE 0.0 END)
          + (CASE WHEN punct_ratio < 0.3 THEN 0.25 ELSE 0.0 END)
          + (CASE WHEN stopword_ratio > 0.0 THEN 0.25 ELSE 0.0 END)) >= 0.5 AS INT) AS keep_flag
        FROM g
    """
    # lang_id: per-language stopword fraction, argmax with ties to the
    # lexicographically largest language (matches array_max on
    # struct(score, lang)); CJK-dominant texts short-circuit to zh.
    frac = {
        lang: (f"CAST(len(list_filter(toks, t -> t IN ({lst}))) AS DOUBLE)"
               f" / greatest(len(toks), 1)")
        for lang, lst in _STOP.items()
    }
    q["text_langid"] = rf"""
        WITH f AS (
            SELECT doc_id,
                CASE WHEN trim(text) = '' THEN []::VARCHAR[]
                     ELSE regexp_split_to_array(trim(lower(text)), '\s+') END AS toks,
                CAST(length(regexp_replace(text, '[^一-鿿]', '', 'g')) AS DOUBLE)
                    / greatest(length(text), 1) AS cjk_ratio
            FROM documents
        ), s AS (
            SELECT doc_id, cjk_ratio,
                   {frac['en']} AS f_en, {frac['de']} AS f_de,
                   {frac['fr']} AS f_fr, {frac['es']} AS f_es
            FROM f
        )
        SELECT doc_id,
            CASE WHEN cjk_ratio > 0.25 THEN 'zh'
                 WHEN greatest(f_en, f_de, f_fr, f_es) = 0 THEN 'unknown'
                 WHEN f_fr = greatest(f_en, f_de, f_fr, f_es) THEN 'fr'
                 WHEN f_es = greatest(f_en, f_de, f_fr, f_es) THEN 'es'
                 WHEN f_en = greatest(f_en, f_de, f_fr, f_es) THEN 'en'
                 ELSE 'de' END AS lang_pred
        FROM s
    """
    q["ann_cosine_topk"] = """
        WITH e AS (
            SELECT vec_id, list_transform(embedding, x -> CAST(x AS DOUBLE)) AS v
            FROM embeddings
        ), qs AS (
            SELECT vec_id AS query_id, v AS qv FROM e WHERE vec_id < 5
        ), scored AS (
            SELECT q.query_id, e.vec_id,
                   list_sum(list_transform(range(1, len(e.v) + 1), i -> e.v[i] * q.qv[i]))
                   / (sqrt(list_sum(list_transform(e.v, x -> x * x)))
                      * sqrt(list_sum(list_transform(q.qv, x -> x * x)))) AS cosine
            FROM e CROSS JOIN qs q WHERE e.vec_id <> q.query_id
        )
        SELECT query_id, vec_id, round(cosine, 4) AS cos4 FROM (
            SELECT *, row_number() OVER (PARTITION BY query_id
                                         ORDER BY cosine DESC, vec_id ASC) AS rn
            FROM scored
        ) WHERE rn <= 10
    """
    q["embedding_near_dup"] = """
        WITH e AS (
            SELECT vec_id, list_transform(embedding, x -> CAST(x AS DOUBLE)) AS v
            FROM embeddings
        ), bb AS (
            SELECT vec_id, v FROM e
            UNION ALL
            SELECT vec_id + 100000,
                   list_transform(range(1, len(v) + 1),
                                  i -> v[i] * CASE WHEN (i - 1) % 2 = 0
                                                   THEN 1.35 ELSE 0.65 END) AS v
            FROM e
        ), pairs AS (
            SELECT a.vec_id AS id_a, b.vec_id AS id_b,
                   list_sum(list_transform(range(1, len(a.v) + 1), i -> a.v[i] * b.v[i]))
                   / (sqrt(list_sum(list_transform(a.v, x -> x * x)))
                      * sqrt(list_sum(list_transform(b.v, x -> x * x)))) AS cosine
            FROM bb a JOIN bb b ON a.vec_id < b.vec_id
        )
        SELECT id_a, id_b, round(cosine, 4) AS cos4 FROM pairs WHERE cosine >= 0.95
    """
    # scalable multi-probe path: same all-pairs ground truth (the blocked
    # candidate generation is recall ≈1-1.5e-6 at 0.95 and the verify is
    # exact, so the answers coincide)
    q["embedding_near_dups_scalable"] = q["embedding_near_dup"]

    # Shared DuckDB twin of textstats.tokens_expr (trim/lower/\s+ split
    # with the empty-text guard).
    _toks = (r"CASE WHEN trim(text) = '' THEN []::VARCHAR[] "
             r"ELSE regexp_split_to_array(trim(lower(text)), '\s+') END")
    q["text_top_terms"] = rf"""
        WITH tok AS (
            SELECT unnest({_toks}) AS term FROM documents
        )
        SELECT term, count(*) AS n FROM tok
        WHERE length(term) >= 1
        GROUP BY term ORDER BY n DESC, term LIMIT 20
    """
    q["text_tfidf"] = rf"""
        WITH tok AS (
            SELECT doc_id, unnest({_toks}) AS term FROM documents
        ), post AS (
            SELECT doc_id, term, count(*) AS tf FROM tok
            GROUP BY doc_id, term
        ), stats AS (
            SELECT term, count(DISTINCT doc_id) AS df FROM post
            GROUP BY term
        ), n AS (SELECT count(*) AS n_docs FROM documents)
        SELECT p.doc_id, p.term, p.tf, s.df,
               round(p.tf * (ln((1.0 + n.n_docs) / (1.0 + s.df)) + 1.0),
                     6) AS w6
        FROM post p JOIN stats s USING (term) CROSS JOIN n
    """
    # BM25 constants mirror bm25_topk's defaults: k1=1.2, b=0.75,
    # query = (spark, join, window), k=25.
    q["text_bm25_topk"] = rf"""
        WITH tok AS (
            SELECT doc_id, len({_toks}) AS dl, unnest({_toks}) AS term
            FROM documents
        ), post AS (
            SELECT doc_id, term, count(*) AS tf, min(dl) AS dl FROM tok
            WHERE term IN ('spark', 'join', 'window')
            GROUP BY doc_id, term
        ), stats AS (
            SELECT term, count(DISTINCT doc_id) AS df FROM post
            GROUP BY term
        ), corpus AS (
            SELECT count(*) AS n_docs, avg(len({_toks})) AS avgdl
            FROM documents
        )
        SELECT p.doc_id,
               round(sum(
                   ln(1.0 + (c.n_docs - s.df + 0.5) / (s.df + 0.5))
                   * (p.tf * (1.2 + 1.0))
                   / (p.tf + 1.2 * (1.0 - 0.75 + 0.75 * p.dl / c.avgdl))
               ), 6) AS score
        FROM post p JOIN stats s USING (term) CROSS JOIN corpus c
        GROUP BY p.doc_id
        ORDER BY score DESC, p.doc_id LIMIT 25
    """
    q["hybrid_rrf_topk"] = rf"""
        WITH tok AS (
            SELECT doc_id, len({_toks}) AS dl, unnest({_toks}) AS term
            FROM documents
        ), post AS (
            SELECT doc_id, term, count(*) AS tf, min(dl) AS dl FROM tok
            WHERE term IN ('spark', 'join', 'window')
            GROUP BY doc_id, term
        ), stats AS (
            SELECT term, count(DISTINCT doc_id) AS df FROM post
            GROUP BY term
        ), corpus AS (
            SELECT count(*) AS n_docs, avg(len({_toks})) AS avgdl
            FROM documents
        ), bm AS (
            SELECT p.doc_id,
                   round(sum(
                       ln(1.0 + (c.n_docs - s.df + 0.5) / (s.df + 0.5))
                       * (p.tf * (1.2 + 1.0))
                       / (p.tf + 1.2 * (1.0 - 0.75 + 0.75 * p.dl / c.avgdl))
                   ), 6) AS score
            FROM post p JOIN stats s USING (term) CROSS JOIN corpus c
            GROUP BY p.doc_id
            ORDER BY score DESC, p.doc_id LIMIT 25
        ), bmr AS (
            SELECT doc_id,
                   row_number() OVER (ORDER BY score DESC, doc_id) AS r
            FROM bm
        ), e AS (
            SELECT vec_id, list_transform(embedding, x -> CAST(x AS DOUBLE)) AS v
            FROM embeddings
        ), qs AS (
            SELECT vec_id AS query_id, v AS qv FROM e WHERE vec_id < 1
        ), scored AS (
            SELECT q.query_id, e.vec_id,
                   list_sum(list_transform(range(1, len(e.v) + 1), i -> e.v[i] * q.qv[i]))
                   / (sqrt(list_sum(list_transform(e.v, x -> x * x)))
                      * sqrt(list_sum(list_transform(q.qv, x -> x * x)))) AS cosine
            FROM e CROSS JOIN qs q WHERE e.vec_id <> q.query_id
        ), dr AS (
            SELECT vec_id AS doc_id, rn AS r FROM (
                SELECT vec_id, row_number() OVER (
                    ORDER BY cosine DESC, vec_id ASC) AS rn
                FROM scored
            ) WHERE rn <= 25
        ), u AS (
            SELECT doc_id, r FROM bmr UNION ALL SELECT doc_id, r FROM dr
        )
        SELECT doc_id, round(sum(1.0 / (60 + r)), 6) AS rrf_score,
               count(*) AS n_lists
        FROM u GROUP BY doc_id
        ORDER BY rrf_score DESC, doc_id LIMIT 15
    """
    # chunk_size=64, overlap=16, step=48 — mirror _q_chunk_docs.
    q["text_chunk_docs"] = rf"""
        WITH t AS (
            SELECT doc_id, {_toks} AS toks FROM documents
        ), s AS (
            SELECT doc_id, toks, gs.g AS start
            FROM t, LATERAL (
                SELECT unnest(generate_series(
                    0, greatest(len(toks) - 16 - 1, 0), 48)) AS g) gs
        )
        SELECT doc_id, CAST(start / 48 AS INT) AS chunk_idx,
               CAST(len(list_slice(toks, start + 1, start + 64)) AS INT)
                   AS chunk_tokens,
               array_to_string(list_slice(toks, start + 1, start + 64), ' ')
                   AS chunk_text
        FROM s
    """
    # normalize_unicode replay: same strip/collapse regexes + DuckDB's
    # nfc_normalize; md5+length of the cleaned text compare byte-exact.
    q["normalize_unicode"] = r"""
        SELECT doc_id,
               md5(nfc_normalize(regexp_replace(regexp_replace(
                   text || ' cafe' || chr(769) || chr(7) || '  end',
                   '[\x00-\x08\x0B\x0C\x0E-\x1F\x7F]', '', 'g'),
                   '[^\S\n]+', ' ', 'g'))) AS norm_md5,
               length(nfc_normalize(regexp_replace(regexp_replace(
                   text || ' cafe' || chr(769) || chr(7) || '  end',
                   '[\x00-\x08\x0B\x0C\x0E-\x1F\x7F]', '', 'g'),
                   '[^\S\n]+', ' ', 'g'))) AS norm_len
        FROM documents
    """
    # Gopher rules replay — mirror textstats.gopher_rules(min_words=20)
    # term by term (RE2-safe regexes shared verbatim).
    q["gopher_rules"] = rf"""
        WITH f AS (
            SELECT doc_id, text, {_toks} AS toks,
                   string_split(text, chr(10)) AS lines
            FROM documents
        ), m AS (
            SELECT doc_id,
                len(toks) AS n_words,
                CASE WHEN len(toks) > 0 THEN
                    length(regexp_replace(text, '\s+', '', 'g'))
                        / CAST(len(toks) AS DOUBLE)
                ELSE 0.0 END AS mean_wl,
                CASE WHEN len(toks) > 0 THEN
                    (len(regexp_extract_all(text, '#'))
                     + len(regexp_extract_all(text, '\.\.\.'))
                     + len(regexp_extract_all(text, '…')))
                        / CAST(len(toks) AS DOUBLE)
                ELSE 0.0 END AS symbol_ratio,
                len(list_filter(lines,
                    l -> regexp_matches(ltrim(l), '^([-*•])\s')))
                    / CAST(len(lines) AS DOUBLE) AS bullet_frac,
                len(list_filter(lines,
                    l -> regexp_matches(rtrim(l), '(\.\.\.|…)$')))
                    / CAST(len(lines) AS DOUBLE) AS ellipsis_frac,
                CASE WHEN len(toks) > 0 THEN
                    len(list_filter(toks, t -> regexp_matches(t, '[a-z]')))
                        / CAST(len(toks) AS DOUBLE)
                ELSE 0.0 END AS alpha_frac,
                len(list_intersect(list_distinct(toks),
                    ['the','be','to','of','and','that','have','with']))
                    AS n_stop
            FROM f
        )
        SELECT doc_id,
               CAST(n_words AS BIGINT) AS g_n_words,
               round(mean_wl, 6) AS g_mean_wl,
               (n_words >= 20 AND n_words <= 100000) AS g_words_ok,
               (mean_wl >= 3.0 AND mean_wl <= 10.0) AS g_mean_wl_ok,
               (symbol_ratio <= 0.1) AS g_symbol_ok,
               (bullet_frac <= 0.9) AS g_bullet_ok,
               (ellipsis_frac <= 0.3) AS g_ellipsis_ok,
               (alpha_frac >= 0.8) AS g_alpha_ok,
               (n_stop >= 2) AS g_stop_ok,
               ((n_words >= 20 AND n_words <= 100000)
                AND (mean_wl >= 3.0 AND mean_wl <= 10.0)
                AND (symbol_ratio <= 0.1) AND (bullet_frac <= 0.9)
                AND (ellipsis_frac <= 0.3) AND (alpha_frac >= 0.8)
                AND (n_stop >= 2)) AS gopher_keep
        FROM m
    """
    # add-0.5 bigram LM perplexity, self-fit — mirror operators/lm.py:
    # P(w2|w1) = (C(w1,w2)+0.5)/(C(w1)+0.5*V); ppl = exp(avg(-ln P));
    # docs with <2 tokens emit (0, NULL).
    q["text_perplexity"] = rf"""
        WITH t AS (
            SELECT doc_id, {_toks} AS toks FROM documents
        ), bg AS (
            SELECT doc_id, toks[g] AS w1, toks[g + 1] AS w2
            FROM t, LATERAL (
                SELECT unnest(generate_series(
                    1, greatest(len(toks) - 1, 0))) AS g) gs
        ), bc AS (
            SELECT w1, w2, count(*) AS n_bg FROM bg GROUP BY w1, w2
        ), cc AS (
            SELECT w1, count(*) AS n_ctx FROM bg GROUP BY w1
        ), v AS (
            SELECT count(DISTINCT term) AS vocab
            FROM (SELECT unnest(toks) AS term FROM t)
        )
        SELECT b.doc_id, count(*) AS n_bigrams,
               round(exp(avg(-ln(
                   (bc.n_bg + 0.5) / (cc.n_ctx + 0.5 * v.vocab)
               ))), 6) AS ppl
        FROM bg b
        JOIN bc ON b.w1 = bc.w1 AND b.w2 = bc.w2
        JOIN cc ON b.w1 = cc.w1
        CROSS JOIN v
        GROUP BY b.doc_id
        UNION ALL
        SELECT doc_id, CAST(0 AS BIGINT), CAST(NULL AS DOUBLE)
        FROM t WHERE len(toks) < 2
    """

    q["c4_rules"] = """
        WITH b AS (
            SELECT doc_id,
                   substring(text, 1, 40) || ' end.' AS la,
                   substring(text, 1, 40) || ' more words here?' AS lc,
                   substring(text, 1, 30) || ' tail line three!' AS ld
            FROM documents
        ), j AS (
            SELECT doc_id,
                   la
                   || CASE WHEN doc_id % 5 = 0 THEN ''
                           ELSE chr(10) || lc END
                   || chr(10)
                   || CASE WHEN doc_id % 7 = 0
                           THEN 'lorem ipsum dolor sit amet consectetur adipiscing.'
                           ELSE ld END AS c4_text,
                   CASE WHEN doc_id % 5 = 0 THEN 2 ELSE 3 END AS n_kept,
                   CASE WHEN doc_id % 7 = 0 THEN 0 ELSE 1 END AS no_lorem
            FROM b
        )
        SELECT doc_id, CAST(n_kept AS BIGINT) AS c4_lines_kept,
               CASE WHEN n_kept >= 3 THEN 1 ELSE 0 END AS sent_ok,
               no_lorem,
               CASE WHEN n_kept >= 3 AND no_lorem = 1 THEN 1 ELSE 0 END
                   AS keep,
               md5(c4_text) AS c4_md5
        FROM j
    """

    # dedup_components: transitive closure over the SAME exact-jaccard
    # pair set the dedup_minhash row verifies, via WITH RECURSIVE —
    # component = min reachable id (including self).
    q["dedup_components"] = f"""
        WITH RECURSIVE {_SHINGLES_CTE},
        p AS (
            SELECT a.doc_id AS id_a, b.doc_id AS id_b
            FROM sh a JOIN sh b ON a.doc_id < b.doc_id
            WHERE CAST(len(list_intersect(a.s, b.s)) AS DOUBLE)
                  / len(list_distinct(list_concat(a.s, b.s))) >= 0.8
        ),
        e AS (
            SELECT id_a AS a, id_b AS b FROM p
            UNION ALL SELECT id_b, id_a FROM p
        ),
        reach AS (
            SELECT a, b FROM e
            UNION
            SELECT r.a, e2.b FROM reach r JOIN e e2 ON r.b = e2.a
        )
        SELECT component, CAST(COUNT(*) AS BIGINT) AS n_members,
               CAST(SUM(id) AS BIGINT) AS sum_ids
        FROM (
            SELECT a AS id, least(a, min(b)) AS component
            FROM reach GROUP BY a
        ) GROUP BY component
    """

    # zorder_key: the identical Morton shift/mask expression replayed
    # in DuckDB integer arithmetic — bit i of column j at i*2+j.
    _z_terms = " | ".join(
        f"(((a >> {i}) & 1) << {2 * i}) | (((b >> {i}) & 1) << {2 * i + 1})"
        for i in range(8)
    )
    q["zorder_key"] = f"""
        SELECT event_id, ({_z_terms}) AS zkey
        FROM (SELECT event_id, event_id % 256 AS a, user_id % 256 AS b
              FROM events)
    """
    return q
