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
    parts = [df.select(F.lit(name).alias("sink")) for name, df in router.split(ev).items()]
    allp = parts[0]
    for p in parts[1:]:
        allp = allp.unionByName(p)
    return allp.groupBy("sink").agg(F.count(F.lit(1)).alias("n"))


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


def _q_contamination(spark, sf_dir):
    # GPT-3-style n-gram decontamination: benchmark = every 20th doc,
    # corpus = all documents; pairs with ≥2 shared trigram shingles
    # (125 hit pairs at sf0.01 — parameters chosen so the check carries
    # real rows). Oracle: gram-STRING intersection counts in SQL (the
    # hash is injective modulo 64-bit collisions, so counts agree).
    from logstash_integration_jdbc_spark.operators.dedup import (
        contamination_pairs,
    )

    docs = _t(spark, sf_dir, "documents")
    bench = docs.filter(F.col("doc_id") % 20 == 0)
    return contamination_pairs(docs, bench, n_shingle=3, min_overlap=2).select(
        "corpus_id", "bench_id", "n_overlap")


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


def _q_dedup_incremental(spark, sf_dir):
    # incremental ingest dedup: docs with doc_id%5==0 play the "new
    # batch", the rest the already-ingested corpus whose band-key index
    # is probed. Same 64/16 banding ⇒ same ≈4e-8 miss bound for the
    # ≥0.9-jaccard pairs vs the exact cross oracle.
    from logstash_integration_jdbc_spark.operators.dedup import (
        build_minhash_index,
        dedup_against_index,
    )

    docs = _t(spark, sf_dir, "documents")
    new = docs.where(F.col("doc_id") % 5 == 0)
    hist = docs.where(F.col("doc_id") % 5 != 0)
    index = build_minhash_index(hist)
    pairs = dedup_against_index(new, index, hist)
    return pairs.where(F.col("jaccard") >= 0.8).select(
        "new_id", "index_id", F.round("jaccard", 6).alias("jac"))


def _q_dissect_parse(spark, sf_dir):
    # dissect-style delimiter parse (logstash-filter-dissect semantics):
    # a synthesized log line round-trips through the compiled-regex
    # extractor; 'error' rows take the _dissectfailure path.
    from logstash_integration_jdbc_spark.functions.dissect import DissectParser

    ev = _t(spark, sf_dir, "events")
    line = F.when(
        F.col("event_type") != "error",
        F.concat(F.lit("evt "), F.col("event_id").cast("string"),
                 F.lit(" ["), F.col("event_type"), F.lit("] user="),
                 F.col("user_id").cast("string"), F.lit(" done")),
    ).otherwise(F.lit("malformed line"))
    p = DissectParser("evt %{eid} [%{etype}] user=%{uid} done",
                      types={"eid": "long", "uid": "long"})
    out = p.apply(ev.withColumn("line", line), text_col="line")
    return out.select(
        "event_id", "eid", "etype", "uid",
        F.col("parse_ok").cast("int").alias("ok"),
        F.array_join("tags", ",").alias("tags_str"))


def _q_kv_parse(spark, sf_dir):
    # logstash kv filter: key=value splitting with trim/include/prefix,
    # pure higher-order functions (functions/structured.py)
    from logstash_integration_jdbc_spark.functions.structured import kv_parse

    ev = _t(spark, sf_dir, "events")
    line = F.concat(
        F.lit("[type]=<"), F.col("event_type"), F.lit("> [user]=<"),
        F.col("user_id").cast("string"), F.lit("> junk"))
    out = kv_parse(ev.withColumn("line", line), "line",
                   trim_key="[]", trim_value="<>",
                   include_keys=["type", "user"], prefix="p_",
                   fields=["p_type", "p_user"])
    return out.select("event_id", "p_type", "p_user",
                      F.size("kv").alias("n_keys"))


def _q_json_parse(spark, sf_dir):
    # logstash json filter: schema'd from_json with corrupt-record
    # failure tagging, merged to the top level
    from logstash_integration_jdbc_spark.functions.structured import json_parse

    ev = _t(spark, sf_dir, "events")
    out = json_parse(ev, "props", "k int")
    return out.select("event_id", "k", F.array_join("tags", ",").alias("tags_str"))


def _q_csv_parse(spark, sf_dir):
    # logstash csv filter: quote-aware from_csv — the quoted middle
    # field contains the separator and must survive the round trip
    from logstash_integration_jdbc_spark.functions.structured import csv_parse

    cust = _t(spark, sf_dir, "customer")
    line = F.concat(
        F.col("c_custkey").cast("string"), F.lit(',"'),
        F.col("c_mktsegment"), F.lit(","), F.col("c_name"), F.lit('",'),
        F.col("c_nationkey").cast("string"))
    out = csv_parse(cust.withColumn("line", line), "line",
                    "ck bigint, seg_name string, nk bigint")
    return out.select("c_custkey", "ck", "seg_name", "nk",
                      F.array_join("tags", ",").alias("tags_str"))


def _q_throttle_rate(spark, sf_dir):
    # logstash throttle filter: first max_count per key per period
    # survive, the rest are flagged — one (key, bucket) exchange
    from logstash_integration_jdbc_spark.operators.throttle import throttle

    ev = _t(spark, sf_dir, "events")
    out = throttle(ev, ["user_id"], period="1 day", max_count=20,
                   order_cols=["event_id"], tag=None)
    return out.select("event_id", F.col("throttled").cast("int").alias("throttled"))


def _q_anomaly_counts(spark, sf_dir):
    # rolling z-score over hourly per-type counts (current bucket
    # excluded; Poisson sqrt(mean) divisor floor)
    from logstash_integration_jdbc_spark.operators.throttle import count_anomalies

    ev = _t(spark, sf_dir, "events")
    out = count_anomalies(ev, ["event_type"], window="1 hour",
                          lookback=24, min_periods=6, z_thresh=3.0)
    return out.select(
        "event_type",
        F.date_format("bucket", "yyyy-MM-dd HH").alias("bucket_s"),
        "n",
        F.round("mean_n", 4).alias("mean4"),
        F.round("z", 4).alias("z4"),
        F.col("is_anomaly").cast("int").alias("anom"))


_CIDR_NETS = [("0.0.0.0/2", "low"), ("128.0.0.0/1", "high"),
              ("10.0.0.0/8", "ten"), ("10.32.0.0/11", "ten-32")]


def _q_cidr_label(spark, sf_dir):
    # logstash cidr filter: dotted-quad → uint32 arithmetic + one
    # most-specific-first CASE chain, map-only (operators/network.py)
    from logstash_integration_jdbc_spark.operators.network import cidr_enrich

    ev = _t(spark, sf_dir, "events")
    ip_long = (F.col("user_id") * 2654435761) % 4294967296
    ip = F.concat_ws(
        ".",
        ((ip_long / 16777216).cast("long") % 256).cast("string"),
        ((ip_long / 65536).cast("long") % 256).cast("string"),
        ((ip_long / 256).cast("long") % 256).cast("string"),
        (ip_long % 256).cast("string"))
    out = cidr_enrich(ev.withColumn("ip", ip), "ip", _CIDR_NETS)
    return out.select("event_id", "ip", "network")


def _q_split_events(spark, sf_dir):
    # logstash split filter: one event per array element, positions
    # kept (posexplode; map-only)
    from logstash_integration_jdbc_spark.operators.eventops import split_events

    docs = _t(spark, sf_dir, "documents").filter(F.col("doc_id") < 500)
    toks = docs.withColumn("toks", F.split("text", " "))
    out = split_events(toks, "toks", target="token", keep_position=True)
    return out.select("doc_id", "token_pos", "token")


def _q_bytes_parse(spark, sf_dir):
    # logstash bytes filter: '10 MB' → byte count, binary (1024) mode;
    # every 6th payload is unparseable and takes the failure tag
    from logstash_integration_jdbc_spark.functions.units import parse_bytes

    ev = _t(spark, sf_dir, "events")
    unit = F.element_at(
        F.array(*[F.lit(u) for u in ("B", "kb", "MB", "GiB", "tb", "junk")]),
        (F.col("event_id") % 6).cast("int") + 1)
    s = F.concat(F.col("value").cast("string"), F.lit(" "), unit)
    out = parse_bytes(ev.withColumn("s", s), "s")
    return out.select(
        "event_id", F.round("bytes", 4).alias("nbytes"),
        F.array_join("tags", ",").alias("tags_str"))


def _q_tld_extract(spark, sf_dir):
    # logstash tld filter: hostname → tld / registered domain /
    # subdomain with two-level public-suffix handling
    from logstash_integration_jdbc_spark.functions.units import tld_split

    ev = _t(spark, sf_dir, "events")
    suffix = F.element_at(
        F.array(*[F.lit(u) for u in
                  ("example.com", "test.co.uk", "data.org", "localhost")]),
        (F.col("event_id") % 4).cast("int") + 1)
    host = F.concat(F.lit("h"), (F.col("user_id") % 50).cast("string"),
                    F.lit("."), suffix)
    out = tld_split(ev.withColumn("host", host), "host")
    return out.select("event_id", "host", "tld_tld", "tld_domain",
                      "tld_subdomain")


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


def _q_json_encode(spark, sf_dir):
    # logstash json_encode filter: to_json(struct) — Jackson, key
    # order = field order, byte-parity with DuckDB's to_json
    from logstash_integration_jdbc_spark.operators.fieldops import json_encode

    ev = _t(spark, sf_dir, "events")
    out = json_encode(ev, ["event_id", "event_type", "user_id"], target="j")
    return out.select("event_id", "j")


def _q_range_gate(spark, sf_dir):
    # logstash range filter: numeric band + string-length band, flag +
    # violation tag, one projection
    from logstash_integration_jdbc_spark.operators.fieldops import range_check

    ev = _t(spark, sf_dir, "events")
    out = range_check(ev, [("value", 1.0, 8.0), ("props", 1, 12)])
    return out.select(
        "event_id", F.col("range_ok").cast("int").alias("ok"),
        F.array_join("tags", ",").alias("tags_str"))


def _q_metrics_rates(spark, sf_dir):
    # logstash metrics filter, batch-exact: per (event_type, hour
    # bucket) counts + exact trailing 1h/6h/24h rates — one groupBy
    # exchange + one shared-sort window pass
    from logstash_integration_jdbc_spark.operators.metrics import meter_rates

    ev = _t(spark, sf_dir, "events")
    return meter_rates(ev, "ts", ["event_type"], flush_interval=3600,
                       windows=(3600, 21600, 86400), count_col="n")


def _q_geoip(spark, sf_dir):
    # logstash geoip filter over a range dimension: bucketed equi-join
    # (never a nested-loop range probe), disjoint ranges, left
    # semantics. Dim: 256 deterministic /9-ish ranges — range i covers
    # the lower half of /8 block i, so the oracle replays the match in
    # closed form while Spark exercises the real join.
    from logstash_integration_jdbc_spark.operators.network import geoip_lookup

    ev = _t(spark, sf_dir, "events")
    ipl = (F.col("user_id") * 2654435761) % 4294967296
    ip = F.concat_ws(
        ".", ((ipl / 16777216) % 256).cast("int"),
        ((ipl / 65536) % 256).cast("int"),
        ((ipl / 256) % 256).cast("int"), (ipl % 256).cast("int"))
    geo = spark.createDataFrame(
        [(i * 16777216, i * 16777216 + 8388607, f"C{i % 32}", f"city{i}")
         for i in range(256)],
        "lo long, hi long, country string, city string")
    out = geoip_lookup(ev.withColumn("ip", ip), "ip", geo)
    return out.select("event_id", "ip", "country", "city")


def _q_translate(spark, sf_dir):
    # logstash translate filter: inline dictionary as plan literals
    # (element_at over create_map — map-only, codegen)
    from logstash_integration_jdbc_spark.operators.translate import (
        translate_field,
    )

    ev = _t(spark, sf_dir, "events")
    out = translate_field(
        ev, "event_type",
        {"click": "interaction", "view": "interaction",
         "purchase": "conversion", "error": "fault"},
        dest="label", fallback="other")
    return out.select("event_id", "event_type", "label")


# the useragent driver row's deterministic corpus: one UA string per
# family branch, cycled by event_id (tests/test_translate_ua.py carries
# the same strings with hand-checked expectations)
_UA_CORPUS = (
    "Mozilla/5.0 (Windows NT 10.0; Win64; x64) AppleWebKit/537.36 "
    "(KHTML, like Gecko) Chrome/120.0.0.0 Safari/537.36",
    "Mozilla/5.0 (Windows NT 10.0) AppleWebKit/537.36 (KHTML, like Gecko) "
    "Chrome/119.0.0.0 Safari/537.36 Edge/119.0.2151.97",
    "Mozilla/5.0 (X11; Linux x86_64) AppleWebKit/537.36 (KHTML, like Gecko) "
    "Chrome/108.0.0.0 Safari/537.36 OPR/94.0.0.0",
    "Mozilla/5.0 (iPhone; CPU iPhone OS 17_1 like Mac OS X) "
    "AppleWebKit/605.1.15 (KHTML, like Gecko) Version/17.1 Mobile/15E148 "
    "Safari/604.1",
    "Mozilla/5.0 (Linux; Android 13; Pixel 7) AppleWebKit/537.36 "
    "(KHTML, like Gecko) Chrome/118.0.0.0 Mobile Safari/537.36",
    "Mozilla/5.0 (Windows NT 6.1; Trident/7.0; rv:11.0) like Gecko",
    "Mozilla/5.0 (X11; Ubuntu; Linux x86_64; rv:109.0) Gecko/20100101 "
    "Firefox/119.0",
    "Mozilla/5.0 (compatible; Googlebot/2.1; +http://www.google.com/bot.html)",
    "curl/8.4.0",
)
# (family, major, os, device) per corpus index — the oracle's CASE table
_UA_EXPECT = (
    ("Chrome", "120", "Windows", "Other"),
    ("Edge", "119", "Windows", "Other"),
    ("Opera", "94", "Linux", "Other"),
    ("Mobile Safari", "17", "iOS", "iPhone"),
    ("Chrome Mobile", "118", "Android", "Android Mobile"),
    ("IE", "11", "Windows", "Other"),
    ("Firefox", "119", "Linux", "Other"),
    ("Spider", None, "Other", "Spider"),
    ("Other", None, "Other", "Other"),
)


def _q_useragent(spark, sf_dir):
    # logstash useragent filter: ordered rlike/regexp_extract chain
    # (priority = uap-core ordering rules), one codegen projection.
    # UA strings synthesized deterministically from event_id so the
    # oracle can index the expectation table independently.
    from logstash_integration_jdbc_spark.functions.useragent import (
        parse_useragent,
    )

    ev = _t(spark, sf_dir, "events")
    ua = F.element_at(F.array(*[F.lit(s) for s in _UA_CORPUS]),
                      (F.col("event_id") % len(_UA_CORPUS)).cast("int") + 1)
    out = parse_useragent(ev.withColumn("ua", ua), "ua", target=None)
    return out.select("event_id", "name", "major", "os_name", "device")


def _q_xml_parse(spark, sf_dir):
    # logstash xml filter: Spark 4 native from_xml (JVM StAX), failure
    # via the null-struct contract; every 97th payload truncated
    from logstash_integration_jdbc_spark.functions.structured import xml_parse

    ev = _t(spark, sf_dir, "events")
    payload = F.when(
        F.col("event_id") % 97 == 0, F.lit("<e><broken")).otherwise(
        F.concat(F.lit('<e type="'), F.col("event_type"),
                 F.lit('"><u>'), F.col("user_id"),
                 F.lit("</u><v>"), F.col("value"), F.lit("</v></e>")))
    out = xml_parse(ev.withColumn("payload", payload), "payload",
                    "_type string, u bigint, v double")
    return out.select(
        "event_id", F.col("_type").alias("etype"), "u", "v",
        F.array_join("tags", ",").alias("tags_str"))


def _q_syslog_pri(spark, sf_dir):
    # logstash syslog_pri filter: facility*8+severity arithmetic +
    # literal-array label lookup, codegen only
    from logstash_integration_jdbc_spark.functions.syslog import syslog_pri

    ev = _t(spark, sf_dir, "events")
    out = syslog_pri(
        ev.withColumn("pri", (F.col("event_id") % 200).cast("int")), "pri")
    return out.select(
        "event_id", "pri", "syslog_facility_code", "syslog_severity_code",
        "syslog_facility", "syslog_severity")


def _q_uuid_stamp(spark, sf_dir):
    # logstash uuid filter, idempotent form: RFC 4122 v3 (md5
    # name-based) so retries/reruns mint identical ids
    from logstash_integration_jdbc_spark.functions.ids import stamp_uuid

    ev = _t(spark, sf_dir, "events")
    return stamp_uuid(ev, "event_id").select("event_id", "uuid")


def _q_clone_fanout(spark, sf_dir):
    # logstash clone filter: original + one copy per label from ONE
    # explode over a literal array (single source scan), label in
    # `type` and appended to tags
    from logstash_integration_jdbc_spark.operators.eventops import (
        clone_events,
    )

    ev = _t(spark, sf_dir, "events").filter(F.col("event_id") < 2000)
    out = clone_events(ev, ["audit", "archive"])
    return out.select(
        "event_id", "type", F.array_join("tags", ",").alias("tags_str"))


def _q_multiline(spark, sf_dir):
    # logstash multiline codec, columnar: running-sum event ordinals +
    # one (source, ordinal) gather; events-as-lines per user, 'signup'
    # starting each logical event, leading lines orphaned
    from logstash_integration_jdbc_spark.operators.multiline import (
        multiline_assemble,
    )

    ev = _t(spark, sf_dir, "events")
    out = multiline_assemble(
        ev, F.col("event_type") == "signup",
        group_cols=("user_id",), order_cols=("event_id",),
        text_col="props")
    return out.select(
        "user_id", "event_no", F.md5("message").alias("msg_md5"),
        "n_lines", "first_line", "last_line",
        F.col("orphaned").cast("int").alias("orph"))


def _q_date_parse(spark, sf_dir):
    # logstash date filter: first-matching-format wins via a coalesce
    # chain of try_to_timestamp branches (one codegen'd projection)
    from logstash_integration_jdbc_spark.functions.timezone import parse_date

    ev = _t(spark, sf_dir, "events")
    raw = F.when(F.col("event_id") % 2 == 0,
                 F.date_format("ts", "yyyy-MM-dd HH:mm:ss")) \
           .otherwise(F.date_format("ts", "MM/dd/yyyy HH:mm:ss"))
    out = parse_date(ev.withColumn("raw", raw), "raw",
                     ["yyyy-MM-dd HH:mm:ss", "MM/dd/yyyy HH:mm:ss"])
    return out.select(
        "event_id", "raw",
        F.date_format("parsed_ts", "yyyy-MM-dd HH:mm:ss").alias("parsed_s"),
        F.array_join("tags", ",").alias("tags_str"))


def _q_elapsed_pairs(spark, sf_dir):
    # logstash elapsed filter: click→purchase pairing per user, one
    # id exchange (window + groupBy share the partitioning), batch-max
    # expiry broadcast as a scalar
    from logstash_integration_jdbc_spark.operators.throttle import elapsed

    ev = _t(spark, sf_dir, "events")
    out = elapsed(ev, F.col("event_type") == "click",
                  F.col("event_type") == "purchase", "user_id",
                  timeout="1 day")
    return out.select(
        "user_id",
        F.date_format("start_ts", "yyyy-MM-dd HH:mm:ss.SSSSSS").alias("start_s"),
        F.date_format("end_ts", "yyyy-MM-dd HH:mm:ss.SSSSSS").alias("end_s"),
        F.round("elapsed_s", 6).alias("elapsed6"),
        "status")


def _q_streaming_pairs(spark, sf_dir):
    # §2.7: stream-stream interval join (the elapsed filter on an
    # unbounded stream) — click and purchase events streamed from two
    # sources, paired per user within 1 hour; the range predicate is
    # what bounds the join state. Oracle: the same interval join as
    # plain SQL over the events view.
    import os as _os
    import tempfile as _tf

    from logstash_integration_jdbc_spark.streaming.stream import (
        streaming_pair_events,
    )

    _pin(spark)
    ev = _t(spark, sf_dir, "events")
    base = _tf.mkdtemp(prefix="spairs-q-")
    sdir, edir = _os.path.join(base, "s"), _os.path.join(base, "e")
    ev.filter(F.col("event_type") == "click").select("user_id", "ts") \
        .write.mode("overwrite").parquet(sdir)
    ev.filter(F.col("event_type") == "purchase").select("user_id", "ts") \
        .write.mode("overwrite").parquet(edir)
    schema = "user_id bigint, ts timestamp"
    ss = spark.readStream.schema(schema).parquet(sdir)
    es = spark.readStream.schema(schema).parquet(edir)
    out = streaming_pair_events(ss, es, key_cols=("user_id",),
                                within="1 hour",
                                watermark_delay="1 hour")
    q = (out.writeStream.outputMode("append").format("parquet")
         .option("path", _os.path.join(base, "out"))
         .option("checkpointLocation", _os.path.join(base, "ckpt"))
         .trigger(availableNow=True).start())
    q.awaitTermination()
    got = spark.read.parquet(_os.path.join(base, "out"))
    return got.select(
        "user_id",
        F.date_format("start_ts", "yyyy-MM-dd HH:mm:ss.SSSSSS").alias("start_s"),
        F.date_format("end_ts", "yyyy-MM-dd HH:mm:ss.SSSSSS").alias("end_s"),
        F.round("elapsed_s", 6).alias("elapsed6"))


def _q_mutate_fields(spark, sf_dir):
    # logstash mutate filter: rename/case/gsub/copy/convert/replace
    # (sprintf interpolation)/remove — one codegen'd projection
    from logstash_integration_jdbc_spark.operators.mutate import Mutate

    cust = _t(spark, sf_dir, "customer")
    out = Mutate([
        ("rename", "c_name", "name"),
        ("uppercase", "name"),
        ("gsub", "name", "#", "-"),
        ("copy", "c_mktsegment", "seg"),
        ("lowercase", "seg"),
        ("replace", "label", "cust-%{c_custkey}/%{seg}"),
        ("remove", "c_acctbal", "c_nationkey", "c_mktsegment"),
    ]).apply(cust)
    return out.select(F.col("c_custkey").cast("long").alias("ck"),
                      "name", "seg", "label")


def _q_semantic_dedup(spark, sf_dir):
    # SemDeDup (arXiv:2303.09540) over the corpus ∪ its perturbed
    # companion (the embedding_near_dup construction: cosine(v, v') ≈
    # 0.94-0.97 vs a 0.51 background max — threshold 0.9 sits in a wide
    # gap, so fp association order can't flip a pair). 8 clusters,
    # smallest-id seed centroids, no Lloyd (the Lloyd twin is already
    # exercised by ann_ivf_lloyd_topk); survivors + their cluster.
    from logstash_integration_jdbc_spark.operators.dedup import semantic_dedup

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
    return semantic_dedup(both, n_clusters=8, threshold=0.9).select(
        "vec_id", "centroid_id")


def _q_dedup_lines(spark, sf_dir):
    # RefinedWeb-style line-wise corpus dedup, made non-vacuous on the
    # single-line corpus by chunking every doc into 8-word lines first —
    # the corpus's exact/near-duplicate docs then share whole lines,
    # which the operator must delete from EVERY member (a fully-
    # duplicated doc collapses to the empty string but keeps its row).
    # sha256 of the rewritten text compares byte-exact with the replay.
    from logstash_integration_jdbc_spark.operators.dedup import dedup_lines

    docs = _t(spark, sf_dir, "documents")
    words = F.split(F.col("text"), " ", -1)
    n_lines = F.greatest(
        F.ceil(F.size(words) / F.lit(8.0)).cast("int"), F.lit(1))
    lines = F.transform(
        F.sequence(F.lit(0), n_lines - 1),
        lambda i: F.array_join(F.slice(words, i * 8 + 1, 8), " "),
    )
    docs2 = docs.select("doc_id", F.array_join(lines, "\n").alias("text"))
    return dedup_lines(docs2).select(
        "doc_id", F.sha2("text", 256).alias("text_sha"), "n_lines_removed")


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


def _q_dedup_ngram_jaccard(spark, sf_dir):
    # bigram (n=2) variant of the shingle pipeline: same LSH pruning
    # (64 hashes / 16 bands), exact bigram jaccard verified per pair.
    # Bigram jaccard of a near-dup pair dominates its trigram jaccard, so
    # the ≥0.9 corpus pairs keep the ≈4e-8 miss bound vs the O(n²) oracle.
    from logstash_integration_jdbc_spark.operators.dedup import ngram_jaccard_pairs

    docs = _t(spark, sf_dir, "documents")
    pairs = ngram_jaccard_pairs(docs, threshold=0.8, n_shingle=2)
    return pairs.select("id_a", "id_b", F.round("jaccard", 6).alias("jac"))


def _q_simhash(spark, sf_dir):
    # pandas-UDF FNV/simhash — not expressible portably in SQL → rows-only
    from logstash_integration_jdbc_spark.operators.dedup import simhash_near_dups

    docs = _t(spark, sf_dir, "documents")
    both = docs.unionByName(docs.withColumn("doc_id", F.col("doc_id") + 1_000_000))
    return simhash_near_dups(both, max_hamming=3)


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


def _q_ann_quantized_topk(spark, sf_dir):
    # int8-quantized brute cosine: per-vector symmetric scale, scoring
    # the tinyint arrays (scale cancels in cosine); oracle replays the
    # quantization arithmetic in SQL (round = ties-away-from-zero in
    # BOTH engines: BigDecimal HALF_UP / DuckDB round)
    from logstash_integration_jdbc_spark.operators.similarity import (
        cosine_topk_quantized,
        quantize_embeddings,
    )

    emb = _t(spark, sf_dir, "embeddings").withColumn(
        "embedding", F.col("embedding").cast("array<double>"))
    qemb = quantize_embeddings(emb)
    queries = (qemb.filter(F.col("vec_id") < 5)
               .selectExpr("vec_id as query_id", "q_vec"))
    return cosine_topk_quantized(qemb, queries, k=10).select(
        "query_id", "vec_id", F.round("cosine", 4).alias("cos4"))


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


def _q_ann_ivf_topk(spark, sf_dir):
    # IVF probe search — deterministic (centroids = 8 smallest vec_ids,
    # 4 probes); the DuckDB oracle replicates assignment+probing exactly
    from logstash_integration_jdbc_spark.operators.similarity import ivf_topk

    emb = _t(spark, sf_dir, "embeddings").withColumn(
        "embedding", F.col("embedding").cast("array<double>")
    )
    queries = emb.filter(F.col("vec_id") < 5).selectExpr("vec_id as query_id", "embedding")
    return ivf_topk(emb, queries, k=10, n_centroids=8, n_probe=4).select(
        "query_id", "vec_id", F.round("cosine", 4).alias("cos4")
    )


def _q_ann_ivf_lloyd_topk(spark, sf_dir):
    # IVF with 2 Lloyd refinement iterations (VERDICT r3 ask): the
    # oracle recomputes the refined centroids with an INDEPENDENT
    # numpy Lloyd twin (assign = cosine argmax, tie → smallest id;
    # update = element-wise raw-vector mean) and replays assignment +
    # probing + exact ranking in SQL over those literal centroids.
    from logstash_integration_jdbc_spark.operators.similarity import ivf_topk

    emb = _t(spark, sf_dir, "embeddings").withColumn(
        "embedding", F.col("embedding").cast("array<double>")
    )
    queries = emb.filter(F.col("vec_id") < 5).selectExpr("vec_id as query_id", "embedding")
    return ivf_topk(emb, queries, k=10, n_centroids=8, n_probe=4,
                    kmeans_iters=2).select(
        "query_id", "vec_id", F.round("cosine", 4).alias("cos4")
    )


def _q_ann_lsh_topk(spark, sf_dir):
    # sign-LSH blocked approximate top-k; the oracle replicates the
    # 16-bit hyperplane sketch + 4-bit-block candidate join + exact
    # cosine ranking with the same literal plane coefficients.
    from logstash_integration_jdbc_spark.operators.similarity import lsh_topk

    emb = _t(spark, sf_dir, "embeddings").withColumn(
        "embedding", F.col("embedding").cast("array<double>")
    )
    queries = emb.filter(F.col("vec_id") < 5).selectExpr("vec_id as query_id", "embedding")
    return lsh_topk(emb, queries, k=10).select(
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


def _q_streaming_dedup(spark, sf_dir):
    # §2.7: watermark-bounded ingest dedup — the generated transcript
    # batch delivered TWICE (at-least-once upstream); the deduped
    # stream's per-role counts must equal the single-delivery counts
    # (oracle: distinct-key SQL over the same generated input).
    import os as _os
    import tempfile as _tf

    from logstash_integration_jdbc_spark.sources.generator import gen_transcripts
    from logstash_integration_jdbc_spark.streaming.stream import streaming_dedup

    _pin(spark)
    base = _tf.mkdtemp(prefix="sdedup-q-")
    src = _os.path.join(base, "src")
    _write_pipeline_input(spark)
    tr = gen_transcripts(spark, n_rows=5000, seed=42)
    tr.write.mode("overwrite").parquet(src)
    tr.write.mode("append").parquet(src)  # duplicate delivery
    stream = spark.readStream.schema(tr.schema).parquet(src)
    out = streaming_dedup(stream, key_cols=("conv_id", "turn_idx"),
                          watermark_delay="1 hour")
    q = (
        out.writeStream.outputMode("append").format("parquet")
        .option("path", _os.path.join(base, "out"))
        .option("checkpointLocation", _os.path.join(base, "ckpt"))
        .trigger(availableNow=True).start()
    )
    q.awaitTermination()
    got = spark.read.parquet(_os.path.join(base, "out"))
    return got.groupBy("role").agg(F.count(F.lit(1)).alias("n"))


def _q_streaming_counts(spark, sf_dir):
    # S8/§2.7: Structured Streaming availableNow run of the full
    # parse→enrich→route pipeline (Spark checkpoint ≡ sql_last_value);
    # returns per-sink counts of the committed sinks. Oracle: SQL
    # reimplementation of the routing over the same generated input.
    import os as _os
    import tempfile as _tf

    from logstash_integration_jdbc_spark.operators.lookup import Lookup, LookupProcessor
    from logstash_integration_jdbc_spark.operators.router import Route, Router
    from logstash_integration_jdbc_spark.sources.generator import (
        gen_tool_dim,
        gen_transcripts,
    )
    from logstash_integration_jdbc_spark.streaming.stream import run_streaming_pipeline

    _pin(spark)
    base = _tf.mkdtemp(prefix="stream-q-")
    src = _os.path.join(base, "src")
    _write_pipeline_input(spark)
    gen_transcripts(spark, n_rows=5000, seed=42).write.mode("overwrite").parquet(src)
    lk = Lookup(
        id="tool_info", dim=gen_tool_dim(spark),
        on=[("tool", "=", "tool")], parameters={"tool": "[tool_call]"},
        select=["tool_name"],
        default_hash={"tool_name": "unknown"},
        tag_on_default_use=["_default"],
    )
    router = Router(
        routes=[Route("parse_miss", ~F.col("parse_ok")),
                Route("matched", F.col("parse_ok"))],
        default_sink="failed",
    )
    run_streaming_pipeline(
        spark, src, LookupProcessor([lk]), router,
        _os.path.join(base, "out"), _os.path.join(base, "ckpt"),
    )
    sinks = spark.read.parquet(_os.path.join(base, "out", "sinks"))
    return sinks.groupBy("sink").agg(F.count(F.lit(1)).alias("n"))


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


def _url_variant_exprs(d):
    """Deterministic synthetic URL from a doc_id — Spark-expression
    form, mirrored value-for-value by ``_url_variant_py``. Covers mixed
    case, default/non-default ports, trailing slashes, empty paths,
    tracking params, unsorted params, and fragments."""
    scheme = F.when(d % 2 == 0, F.lit("HTTP")).otherwise(F.lit("https"))
    host = F.concat(F.lit("Example"), (d % 7).cast("string"), F.lit(".COM"))
    port = F.element_at(
        F.array(F.lit(""), F.lit(":80"), F.lit(":443"), F.lit(":8080")),
        (d % 4 + 1).cast("int"))
    path = F.when(d % 11 == 0, F.lit("")).otherwise(
        F.concat(F.lit("/p"), (d % 5).cast("string"),
                 F.when(d % 3 == 0, F.lit("/")).otherwise(F.lit(""))))
    query = F.element_at(
        F.array(F.lit(""), F.lit("?b=2&utm_source=x&a=1"),
                F.lit("?z=9&fbclid=1&y=1&x="), F.lit("?q=1")),
        (d % 9 % 4 + 1).cast("int"))
    frag = F.when(d % 5 == 0, F.lit("#sec")).otherwise(F.lit(""))
    return F.concat(scheme, F.lit("://"), host, port, path, query, frag)


def _url_variant_py(did: int) -> str:
    scheme = "HTTP" if did % 2 == 0 else "https"
    host = f"Example{did % 7}.COM"
    port = ["", ":80", ":443", ":8080"][did % 4]
    path = "" if did % 11 == 0 else (
        f"/p{did % 5}" + ("/" if did % 3 == 0 else ""))
    query = ["", "?b=2&utm_source=x&a=1",
             "?z=9&fbclid=1&y=1&x=", "?q=1"][did % 9 % 4]
    frag = "#sec" if did % 5 == 0 else ""
    return f"{scheme}://{host}{port}{path}{query}{frag}"


def _q_url_canonical(spark, sf_dir):
    # URL canonicalization (web-dedup primitive): messy synthetic URLs
    # derived from doc_id (every rule exercised) canonicalized by the
    # pure-expression operator; the oracle recanonicalizes the same
    # URLs with the independent urllib twin. Case/port/params/
    # trailing-slash spellings collapse, so identical variant tuples
    # dedup to one canonical string (n_dups > 1 for repeated combos).
    from logstash_integration_jdbc_spark.functions.url import canonicalize_url

    d = F.col("doc_id")
    docs = _t(spark, sf_dir, "documents").select(
        "doc_id", _url_variant_exprs(d).alias("url"))
    canon = docs.select("doc_id", canonicalize_url(F.col("url")).alias("canon"))
    return canon.where(d % 20 == 3).orderBy("doc_id")


def _q_hard_negatives(spark, sf_dir):
    # hard-negative mining for contrastive training: per query the 10
    # nearest different-label vectors (self + positives excluded
    # map-side BEFORE the top-k). Oracle = the ann_cosine_topk SQL
    # with the label gate added.
    from logstash_integration_jdbc_spark.operators.similarity import (
        hard_negatives,
    )

    emb = _t(spark, sf_dir, "embeddings").withColumn(
        "embedding", F.col("embedding").cast("array<double>"))
    qs = emb.filter(F.col("vec_id") < 5).selectExpr(
        "vec_id as query_id", "embedding", "label")
    return hard_negatives(emb, qs, k=10).select(
        "query_id", "vec_id", F.round("cosine", 4).alias("cos4"), "rank")


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
        "streaming_counts": _q_streaming_counts,
        "streaming_dedup": _q_streaming_dedup,
        "transcript_pipeline": _q_transcript_pipeline,
        "s2_incremental_scan": _q_incremental_scan,
        "j1_streaming_lookup": _q_streaming_lookup,
        "grok_parse": _q_grok_parse,
        "dedup_minhash": _q_dedup_minhash,
        "dissect_parse": _q_dissect_parse,
        "kv_parse": _q_kv_parse,
        "json_parse": _q_json_parse,
        "csv_parse": _q_csv_parse,
        "mutate_fields": _q_mutate_fields,
        "date_parse": _q_date_parse,
        "translate_lookup": _q_translate,
        "useragent_parse": _q_useragent,
        "syslog_pri": _q_syslog_pri,
        "multiline_fold": _q_multiline,
        "split_events": _q_split_events,
        "geoip_enrich": _q_geoip,
        "cidr_label": _q_cidr_label,
        "throttle_rate": _q_throttle_rate,
        "dedup_components": _q_dedup_components,
        "gopher_rules": _q_gopher_rules,
        "c4_rules": _q_c4_rules,
        "dedup_lines": _q_dedup_lines,
        "dedup_semantic": _q_semantic_dedup,
        "bpe_encode": _q_bpe_encode,
        "text_bm25_topk": _q_bm25_topk,
        "url_canonical": _q_url_canonical,
        "hard_negatives": _q_hard_negatives,
        "zorder_key": _q_zorder_key,
        "j2_static_lookup": _q_static_lookup,
        "r4_router_counts": _q_router_counts,
        "elapsed_pairs": _q_elapsed_pairs,
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
        "dedup_simhash": _q_simhash,
        "dedup_substring": _q_dedup_substring,
        "text_token_count": _q_token_count,
        "text_quality": _q_quality,
        "text_langid": _q_langid,
        "text_redact_pii": _q_redact_pii,
        "contamination_check": _q_contamination,
        "ann_ivf_topk": _q_ann_ivf_topk,
        "ann_ivf_lloyd_topk": _q_ann_ivf_lloyd_topk,
        "ann_lsh_topk": _q_ann_lsh_topk,
        "embedding_near_dup": _q_embedding_near_dup,
        "dedup_ngram_jaccard": _q_dedup_ngram_jaccard,
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
        "dedup_incremental": _q_dedup_incremental,
        "normalize_unicode": _q_normalize_unicode,
        "anomaly_counts": _q_anomaly_counts,
        "xml_parse": _q_xml_parse,
        "uuid_stamp": _q_uuid_stamp,
        "metrics_rates": _q_metrics_rates,
        "json_encode_event": _q_json_encode,
        "range_gate": _q_range_gate,
        "text_zlib_ratio": _q_zlib_ratio,
        "bytes_parse": _q_bytes_parse,
        "tld_extract": _q_tld_extract,
        "clone_fanout": _q_clone_fanout,
        "hybrid_rrf_topk": _q_hybrid_rrf,
        "streaming_pairs": _q_streaming_pairs,
        "ann_quantized_topk": _q_ann_quantized_topk,
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


def _py_simhash(text: str) -> int:
    """Independent simhash twin of operators.dedup._simhash_udf."""
    import numpy as np

    from logstash_integration_jdbc_spark.functions.xxhash import (
        spark_ws_tokens,
        xxh64_str,
    )

    hs = [xxh64_str(t) & ((1 << 64) - 1) for t in spark_ws_tokens(text)]
    if not hs:
        return 0
    arr = np.array(hs, dtype=np.uint64)
    bits = ((arr[:, None] >> np.arange(64, dtype=np.uint64)) & 1).astype(np.int32) * 2 - 1
    acc = bits.sum(axis=0)
    val = 0
    for p in range(64):
        if acc[p] > 0:
            val |= 1 << p
    return val - (1 << 64) if val >= (1 << 63) else val


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


def _simhash_oracle_values() -> str:
    """Expected (id_a, id_b, hamming ≤ 3) pairs over the doubled corpus,
    via pure-Python simhash + numpy O(n²) popcount (exact: pigeonhole
    guarantees the 4×16-bit blocking finds every pair at hamming ≤ 3)."""
    import numpy as np

    docs = _read_docs()
    both = docs + [(i + 1_000_000, t) for i, t in docs]
    sims = {}
    by_text: dict[str, int] = {}
    for did, text in both:
        if text not in by_text:
            by_text[text] = _py_simhash(text)
        sims[did] = by_text[text]
    ids = np.array(sorted(sims), dtype=np.int64)
    vals = np.array([sims[i] for i in ids], dtype=np.int64).view(np.uint64)
    x = vals[:, None] ^ vals[None, :]
    pop = np.zeros(x.shape, dtype=np.int32)
    lut = np.array([bin(i).count("1") for i in range(256)], dtype=np.int32)
    for shift in range(0, 64, 8):
        pop += lut[((x >> np.uint64(shift)) & np.uint64(0xFF)).astype(np.int64)]
    iu = np.triu_indices(len(ids), k=1)
    rows = [(int(ids[i]), int(ids[j]), int(pop[i, j]))
            for i, j in zip(*iu) if pop[i, j] <= 3]
    return "SELECT * FROM (VALUES " + ", ".join(
        f"(CAST({a} AS BIGINT), CAST({b} AS BIGINT), CAST({h} AS INT))"
        for a, b, h in rows
    ) + ") t(id_a, id_b, hamming)"


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

    q["contamination_check"] = r"""
        WITH tok AS (
            SELECT doc_id, regexp_split_to_array(trim(lower(text)), '\s+') AS w, text
            FROM documents
        ), sh3 AS (
            SELECT doc_id,
                list_distinct(
                    CASE WHEN len(w) >= 3
                         THEN list_transform(range(1, len(w) - 1),
                             i -> w[i] || ' ' || w[i+1] || ' ' || w[i+2])
                         ELSE [text] END
                ) AS s
            FROM tok
        )
        SELECT c.doc_id AS corpus_id, b.doc_id AS bench_id,
               CAST(len(list_intersect(c.s, b.s)) AS BIGINT) AS n_overlap
        FROM sh3 c JOIN sh3 b
          ON b.doc_id % 20 = 0 AND c.doc_id <> b.doc_id
        WHERE len(list_intersect(c.s, b.s)) >= 2
    """
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
    q["streaming_counts"] = f"""
        SELECT CASE WHEN regexp_matches(text, '{_parse_re}')
                    THEN 'matched' ELSE 'parse_miss' END AS sink,
               count(*) AS n
        FROM read_parquet('{_PIPELINE_ORACLE_DIR}/transcripts.parquet/*.parquet')
        GROUP BY 1
    """
    q["streaming_dedup"] = f"""
        SELECT role, count(*) AS n FROM (
            SELECT DISTINCT conv_id, turn_idx, role
            FROM read_parquet('{_PIPELINE_ORACLE_DIR}/transcripts.parquet/*.parquet')
        ) GROUP BY role
    """
    q["dedup_simhash"] = _value_oracle("simhash", _simhash_oracle_values)
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
    q["dedup_ngram_jaccard"] = """
        WITH tok2 AS (
            SELECT doc_id, regexp_split_to_array(trim(lower(text)), '\\s+') AS w, text
            FROM documents
        ), sh2 AS (
            SELECT doc_id,
                list_distinct(
                    CASE WHEN len(w) >= 2
                         THEN list_transform(range(1, len(w)),
                                             i -> w[i] || ' ' || w[i+1])
                         ELSE [text] END
                ) AS s
            FROM tok2
        )
        SELECT a.doc_id AS id_a, b.doc_id AS id_b,
               round(CAST(len(list_intersect(a.s, b.s)) AS DOUBLE)
                     / len(list_distinct(list_concat(a.s, b.s))), 6) AS jac
        FROM sh2 a JOIN sh2 b ON a.doc_id < b.doc_id
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
    q["ann_quantized_topk"] = """
        WITH e AS (
            SELECT vec_id, list_transform(embedding, x -> CAST(x AS DOUBLE)) AS v
            FROM embeddings
        ), sc AS (
            SELECT vec_id, v,
                   CASE WHEN amax > 0 THEN amax / 127.0 ELSE 1.0 END AS s
            FROM (SELECT vec_id, v,
                         list_max(list_transform(v, x -> abs(x))) AS amax
                  FROM e)
        ), qv AS (
            SELECT vec_id, list_transform(v, x -> round(x / s)) AS q
            FROM sc
        ), qs AS (
            SELECT vec_id AS query_id, q AS qq FROM qv WHERE vec_id < 5
        ), scored AS (
            SELECT s.query_id, c.vec_id,
                   list_sum(list_transform(range(1, len(c.q) + 1), i -> c.q[i] * s.qq[i]))
                   / (sqrt(list_sum(list_transform(c.q, x -> x * x)))
                      * sqrt(list_sum(list_transform(s.qq, x -> x * x)))) AS cosine
            FROM qv c CROSS JOIN qs s WHERE c.vec_id <> s.query_id
        )
        SELECT query_id, vec_id, round(cosine, 4) AS cos4 FROM (
            SELECT *, row_number() OVER (PARTITION BY query_id
                                         ORDER BY cosine DESC, vec_id ASC) AS rn
            FROM scored
        ) WHERE rn <= 10
    """
    q["ann_ivf_topk"] = """
        WITH e AS (
            SELECT vec_id, list_transform(embedding, x -> CAST(x AS DOUBLE)) AS v
            FROM embeddings
        ), cents AS (
            SELECT vec_id AS centroid_id, v AS cv FROM e
            ORDER BY vec_id LIMIT 8
        ), assigned AS (
            SELECT vec_id, v, centroid_id FROM (
                SELECT e.vec_id, e.v, c.centroid_id,
                       row_number() OVER (PARTITION BY e.vec_id ORDER BY
                           list_sum(list_transform(range(1, len(e.v) + 1), i -> e.v[i] * c.cv[i]))
                           / (sqrt(list_sum(list_transform(e.v, x -> x * x)))
                              * sqrt(list_sum(list_transform(c.cv, x -> x * x)))) DESC,
                           c.centroid_id ASC) AS rn
                FROM e CROSS JOIN cents c
            ) WHERE rn = 1
        ), qs AS (
            SELECT vec_id AS query_id, v AS qv FROM e WHERE vec_id < 5
        ), probes AS (
            SELECT query_id, centroid_id, qv FROM (
                SELECT q.query_id, c.centroid_id, q.qv,
                       row_number() OVER (PARTITION BY q.query_id ORDER BY
                           list_sum(list_transform(range(1, len(q.qv) + 1), i -> q.qv[i] * c.cv[i]))
                           / (sqrt(list_sum(list_transform(q.qv, x -> x * x)))
                              * sqrt(list_sum(list_transform(c.cv, x -> x * x)))) DESC,
                           c.centroid_id ASC) AS rn
                FROM qs q CROSS JOIN cents c
            ) WHERE rn <= 4
        ), scored AS (
            SELECT p.query_id, a.vec_id,
                   list_sum(list_transform(range(1, len(a.v) + 1), i -> a.v[i] * p.qv[i]))
                   / (sqrt(list_sum(list_transform(a.v, x -> x * x)))
                      * sqrt(list_sum(list_transform(p.qv, x -> x * x)))) AS cosine
            FROM assigned a JOIN probes p ON a.centroid_id = p.centroid_id
            WHERE a.vec_id <> p.query_id
        )
        SELECT query_id, vec_id, round(cosine, 4) AS cos4 FROM (
            SELECT *, row_number() OVER (PARTITION BY query_id
                                         ORDER BY cosine DESC, vec_id ASC) AS rn
            FROM scored
        ) WHERE rn <= 10
    """
    # Lloyd-refined IVF: centroids recomputed by an independent numpy
    # Lloyd twin, inlined as literals; the rest of the SQL is the same
    # assignment/probe/rank replay as ann_ivf_topk.
    def _build_ivf_lloyd_sql() -> str:
        import duckdb as _dk
        import numpy as _np3

        rows = _dk.sql(
            "SELECT vec_id, list_transform(embedding, x -> CAST(x AS DOUBLE)) "
            f"FROM read_parquet('{_ORACLE_SF_DIR}/embeddings.parquet') "
            "ORDER BY vec_id"
        ).fetchall()
        ids = [r[0] for r in rows]
        V = _np3.array([r[1] for r in rows], dtype=_np3.float64)
        C = V[:8].copy()
        for _ in range(2):
            sims = (V @ C.T) / (
                _np3.linalg.norm(V, axis=1, keepdims=True)
                * _np3.linalg.norm(C, axis=1)[None, :])
            best = _np3.argmax(sims, axis=1)  # first max ≡ smallest id
            C = _np3.array([
                V[best == c].mean(axis=0) if (best == c).any() else C[c]
                for c in range(8)
            ])
        cl = ", ".join(
            "({}, [{}])".format(ids[c], ", ".join(repr(float(x)) for x in C[c]))
            for c in range(8)
        )
        return """
        WITH e AS (
            SELECT vec_id, list_transform(embedding, x -> CAST(x AS DOUBLE)) AS v
            FROM embeddings
        ), cents AS (
            SELECT centroid_id, cv FROM (VALUES {CL}) t(centroid_id, cv)
        ), assigned AS (
            SELECT vec_id, v, centroid_id FROM (
                SELECT e.vec_id, e.v, c.centroid_id,
                       row_number() OVER (PARTITION BY e.vec_id ORDER BY
                           list_sum(list_transform(range(1, len(e.v) + 1), i -> e.v[i] * c.cv[i]))
                           / (sqrt(list_sum(list_transform(e.v, x -> x * x)))
                              * sqrt(list_sum(list_transform(c.cv, x -> x * x)))) DESC,
                           c.centroid_id ASC) AS rn
                FROM e CROSS JOIN cents c
            ) WHERE rn = 1
        ), qs AS (
            SELECT vec_id AS query_id, v AS qv FROM e WHERE vec_id < 5
        ), probes AS (
            SELECT query_id, centroid_id, qv FROM (
                SELECT q.query_id, c.centroid_id, q.qv,
                       row_number() OVER (PARTITION BY q.query_id ORDER BY
                           list_sum(list_transform(range(1, len(q.qv) + 1), i -> q.qv[i] * c.cv[i]))
                           / (sqrt(list_sum(list_transform(q.qv, x -> x * x)))
                              * sqrt(list_sum(list_transform(c.cv, x -> x * x)))) DESC,
                           c.centroid_id ASC) AS rn
                FROM qs q CROSS JOIN cents c
            ) WHERE rn <= 4
        ), scored AS (
            SELECT p.query_id, a.vec_id,
                   list_sum(list_transform(range(1, len(a.v) + 1), i -> a.v[i] * p.qv[i]))
                   / (sqrt(list_sum(list_transform(a.v, x -> x * x)))
                      * sqrt(list_sum(list_transform(p.qv, x -> x * x)))) AS cosine
            FROM assigned a JOIN probes p ON a.centroid_id = p.centroid_id
            WHERE a.vec_id <> p.query_id
        )
        SELECT query_id, vec_id, round(cosine, 4) AS cos4 FROM (
            SELECT *, row_number() OVER (PARTITION BY query_id
                                         ORDER BY cosine DESC, vec_id ASC) AS rn
            FROM scored
        ) WHERE rn <= 10
        """.replace("{CL}", cl)

    q["ann_ivf_lloyd_topk"] = _value_oracle("ann_ivf_lloyd_topk",
                                            _build_ivf_lloyd_sql)

    # ANN LSH oracle: the 16-bit sketch rebuilt in SQL from the same
    # deterministic plane coefficients (similarity._plane_coeff).
    from logstash_integration_jdbc_spark.operators.similarity import _plane_coeff

    def _sk_expr(vcol: str) -> str:
        bits = []
        for i in range(16):
            coefs = "[" + ", ".join(repr(_plane_coeff(i, j)) for j in range(64)) + "]"
            dot = (f"list_sum(list_transform(range(1, len({vcol}) + 1), "
                   f"j -> {vcol}[j] * ({coefs})[j]))")
            bits.append(f"(CASE WHEN {dot} > 0 THEN {1 << i} ELSE 0 END)")
        return " + ".join(bits)

    _blk = " OR ".join(
        f"(((c.sketch >> {b * 4}) & 15) = ((q.sketch >> {b * 4}) & 15))"
        for b in range(4)
    )
    q["ann_lsh_topk"] = f"""
        WITH e AS (
            SELECT vec_id, list_transform(embedding, x -> CAST(x AS DOUBLE)) AS v
            FROM embeddings
        ), sk AS (
            SELECT vec_id, v, {_sk_expr('v')} AS sketch FROM e
        ), qs AS (
            SELECT vec_id AS query_id, v AS qv, sketch FROM sk WHERE vec_id < 5
        ), cand AS (
            SELECT q.query_id, c.vec_id,
                   list_sum(list_transform(range(1, len(c.v) + 1), i -> c.v[i] * q.qv[i]))
                   / (sqrt(list_sum(list_transform(c.v, x -> x * x)))
                      * sqrt(list_sum(list_transform(q.qv, x -> x * x)))) AS cosine
            FROM sk c JOIN qs q ON ({_blk}) AND c.vec_id <> q.query_id
        )
        SELECT query_id, vec_id, round(cosine, 4) AS cos4 FROM (
            SELECT *, row_number() OVER (PARTITION BY query_id
                                         ORDER BY cosine DESC, vec_id ASC) AS rn
            FROM cand
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
    # Incremental dedup oracle: exact trigram-shingle jaccard across
    # the batch (doc_id%5=0) × history (doc_id%5≠0) cut.
    q["dedup_incremental"] = f"""
        WITH {_SHINGLES_CTE}
        SELECT a.doc_id AS new_id, b.doc_id AS index_id,
               round(CAST(len(list_intersect(a.s, b.s)) AS DOUBLE)
                     / len(list_distinct(list_concat(a.s, b.s))), 6) AS jac
        FROM sh a JOIN sh b
          ON a.doc_id % 5 = 0 AND b.doc_id % 5 <> 0
        WHERE CAST(len(list_intersect(a.s, b.s)) AS DOUBLE)
              / len(list_distinct(list_concat(a.s, b.s))) >= 0.8
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

    # SemDeDup replay: corpus ∪ perturbed companion, assignment by
    # cosine argmax over the 8 smallest-id seed centroids (ties →
    # smallest centroid_id, same as the Spark struct-argmax), then the
    # smaller-id-neighbor drop rule confined to clusters.
    _dot = ("list_sum(list_transform(range(1, len({a}) + 1), "
            "i -> {a}[i] * {b}[i]))")
    _cos = (_dot + " / (sqrt(list_sum(list_transform({a}, x -> x * x)))"
            " * sqrt(list_sum(list_transform({b}, x -> x * x))))")
    q["dedup_semantic"] = f"""
        WITH e AS (
            SELECT vec_id, list_transform(embedding, x -> CAST(x AS DOUBLE)) AS v
            FROM embeddings
        ), u AS (
            SELECT vec_id, v FROM e
            UNION ALL
            SELECT vec_id + 100000 AS vec_id,
                   list_transform(range(1, len(v) + 1),
                       i -> v[i] * (CASE WHEN (i - 1) % 2 = 0
                                         THEN 1.35 ELSE 0.65 END)) AS v
            FROM e
        ), cents AS (
            SELECT vec_id AS centroid_id, v AS cv FROM u
            ORDER BY vec_id LIMIT 8
        ), assigned AS (
            SELECT vec_id, v, centroid_id FROM (
                SELECT u.vec_id, u.v, c.centroid_id,
                       row_number() OVER (PARTITION BY u.vec_id ORDER BY
                           {_cos.format(a='u.v', b='c.cv')} DESC,
                           c.centroid_id ASC) AS rn
                FROM u CROSS JOIN cents c
            ) WHERE rn = 1
        ), dropped AS (
            SELECT DISTINCT a.vec_id
            FROM assigned a JOIN assigned b
              ON a.centroid_id = b.centroid_id AND b.vec_id < a.vec_id
            WHERE {_cos.format(a='a.v', b='b.v')} >= 0.9
        )
        SELECT a.vec_id, a.centroid_id FROM assigned a
        WHERE a.vec_id NOT IN (SELECT vec_id FROM dropped)
    """

    # Line-wise dedup replay: same 8-word chunk view, then duplicated
    # lines (>= 2 distinct docs, length >= 1) deleted from every doc and
    # the remainder rejoined in order; sha256 compares byte-exact.
    q["dedup_lines"] = """
        WITH w AS (
            SELECT doc_id, string_split(text, ' ') AS ws FROM documents
        ), d2 AS (
            SELECT doc_id, array_to_string(
                list_transform(
                    range(0, greatest(CAST(ceil(len(ws) / 8.0) AS INT), 1)),
                    i -> array_to_string(ws[i*8+1 : i*8+8], ' ')),
                chr(10)) AS text
            FROM w
        ), lines AS (
            SELECT doc_id,
                   unnest(range(0, len(string_split(text, chr(10))))) AS pos,
                   unnest(string_split(text, chr(10))) AS line
            FROM d2
        ), dups AS (
            SELECT line FROM lines WHERE length(line) >= 1
            GROUP BY line HAVING count(DISTINCT doc_id) >= 2
        ), kept AS (
            SELECT l.doc_id, l.pos, l.line FROM lines l
            WHERE length(l.line) < 1
               OR l.line NOT IN (SELECT line FROM dups)
        ), rb AS (
            SELECT doc_id, string_agg(line, chr(10) ORDER BY pos) AS text,
                   count(*) AS n_kept
            FROM kept GROUP BY doc_id
        ), tot AS (
            SELECT doc_id, count(*) AS n_lines FROM lines GROUP BY doc_id
        )
        SELECT d2.doc_id,
               sha256(coalesce(rb.text, '')) AS text_sha,
               CAST(tot.n_lines - coalesce(rb.n_kept, 0) AS BIGINT)
                   AS n_lines_removed
        FROM d2
        LEFT JOIN rb USING (doc_id)
        JOIN tot USING (doc_id)
    """
    q["dissect_parse"] = """
        SELECT event_id,
               CASE WHEN event_type <> 'error' THEN event_id END AS eid,
               CASE WHEN event_type <> 'error' THEN event_type END AS etype,
               CASE WHEN event_type <> 'error' THEN user_id END AS uid,
               CASE WHEN event_type <> 'error' THEN 1 ELSE 0 END AS ok,
               CASE WHEN event_type <> 'error' THEN ''
                    ELSE '_dissectfailure' END AS tags_str
        FROM events
    """
    q["kv_parse"] = """
        SELECT event_id, event_type AS p_type,
               CAST(user_id AS VARCHAR) AS p_user, 2 AS n_keys
        FROM events
    """
    q["json_parse"] = """
        SELECT event_id,
               CAST(json_extract_string(props, 'k') AS INTEGER) AS k,
               '' AS tags_str
        FROM events
    """
    q["csv_parse"] = """
        SELECT c_custkey, c_custkey AS ck,
               concat(c_mktsegment, ',', c_name) AS seg_name,
               c_nationkey AS nk, '' AS tags_str
        FROM customer
    """
    q["throttle_rate"] = """
        SELECT event_id,
               CASE WHEN row_number() OVER (
                        PARTITION BY user_id, date_trunc('day', ts)
                        ORDER BY ts, event_id) > 20
                    THEN 1 ELSE 0 END AS throttled
        FROM events
    """
    q["anomaly_counts"] = """
        WITH c AS (
            SELECT event_type, date_trunc('hour', ts) AS bucket,
                   count(*) AS n
            FROM events GROUP BY 1, 2
        ), w AS (
            SELECT event_type, bucket, n,
                   count(*) OVER win AS prior_n,
                   avg(n) OVER win AS mean_n,
                   stddev_samp(n) OVER win AS sd_n
            FROM c
            WINDOW win AS (PARTITION BY event_type ORDER BY bucket
                           ROWS BETWEEN 24 PRECEDING AND 1 PRECEDING)
        )
        SELECT event_type, strftime(bucket, '%Y-%m-%d %H') AS bucket_s, n,
               CASE WHEN prior_n >= 6 THEN round(mean_n, 4) END AS mean4,
               CASE WHEN prior_n >= 6
                         AND greatest(sd_n, sqrt(mean_n)) > 0
                    THEN round((n - mean_n) / greatest(sd_n, sqrt(mean_n)), 4)
                    END AS z4,
               CASE WHEN prior_n >= 6
                         AND greatest(sd_n, sqrt(mean_n)) > 0
                         AND abs((n - mean_n) / greatest(sd_n, sqrt(mean_n))) > 3.0
                    THEN 1 ELSE 0 END AS anom
        FROM w
    """
    q["cidr_label"] = """
        WITH b AS (
            SELECT event_id,
                   (user_id * 2654435761) % 4294967296 AS ipl
            FROM events
        )
        SELECT event_id,
               concat((ipl // 16777216) % 256, '.', (ipl // 65536) % 256,
                      '.', (ipl // 256) % 256, '.', ipl % 256) AS ip,
               CASE WHEN ipl BETWEEN 169869312 AND 171966463 THEN 'ten-32'
                    WHEN ipl BETWEEN 167772160 AND 184549375 THEN 'ten'
                    WHEN ipl BETWEEN 0 AND 1073741823 THEN 'low'
                    WHEN ipl >= 2147483648 THEN 'high'
                    END AS network
        FROM b
    """
    q["multiline_fold"] = """
        WITH l AS (
            SELECT user_id, event_id, props,
                   CAST(sum(CASE WHEN event_type = 'signup' THEN 1 ELSE 0 END)
                       OVER (PARTITION BY user_id ORDER BY event_id)
                       AS BIGINT) AS event_no
            FROM events
        )
        SELECT user_id, event_no,
               md5(string_agg(props, chr(10) ORDER BY event_id)) AS msg_md5,
               count(*) AS n_lines,
               min(event_id) AS first_line, max(event_id) AS last_line,
               CASE WHEN event_no = 0 THEN 1 ELSE 0 END AS orph
        FROM l GROUP BY user_id, event_no
    """
    q["bytes_parse"] = """
        WITH b AS (
            SELECT event_id, value, CAST(event_id % 6 AS INT) AS u
            FROM events
        )
        SELECT event_id,
               CASE u WHEN 0 THEN round(value, 4)
                      WHEN 1 THEN round(value * 1024, 4)
                      WHEN 2 THEN round(value * 1048576, 4)
                      WHEN 3 THEN round(value * 1073741824, 4)
                      WHEN 4 THEN round(value * 1099511627776, 4)
                      END AS nbytes,
               CASE WHEN u = 5 THEN '_bytesparsefailure' ELSE '' END
                   AS tags_str
        FROM b
    """
    q["tld_extract"] = """
        WITH b AS (
            SELECT event_id,
                   'h' || (user_id % 50) AS hn,
                   (['example.com','test.co.uk','data.org','localhost'])
                       [CAST(event_id % 4 AS INT) + 1] AS suf
            FROM events
        )
        SELECT event_id, hn || '.' || suf AS host,
               CASE suf WHEN 'example.com' THEN 'com'
                        WHEN 'test.co.uk' THEN 'co.uk'
                        WHEN 'data.org' THEN 'org'
                        ELSE 'localhost' END AS tld_tld,
               CASE suf WHEN 'localhost' THEN hn || '.localhost'
                        ELSE suf END AS tld_domain,
               CASE suf WHEN 'localhost' THEN NULL ELSE hn END
                   AS tld_subdomain
        FROM b
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
    q["json_encode_event"] = """
        SELECT event_id,
               to_json(struct_pack(event_id := event_id,
                                   event_type := event_type,
                                   user_id := user_id)) AS j
        FROM events
    """
    q["range_gate"] = """
        SELECT event_id,
               CASE WHEN value BETWEEN 1.0 AND 8.0
                         AND length(props) BETWEEN 1 AND 12
                    THEN 1 ELSE 0 END AS ok,
               CASE WHEN value BETWEEN 1.0 AND 8.0
                         AND length(props) BETWEEN 1 AND 12
                    THEN '' ELSE '_rangeviolation' END AS tags_str
        FROM events
    """
    q["metrics_rates"] = """
        WITH c AS (
            SELECT event_type,
                   CAST(epoch(date_trunc('hour', ts)) AS BIGINT) AS bucket_ts,
                   count(*) AS n
            FROM events GROUP BY 1, 2
        )
        SELECT event_type, bucket_ts, n,
               round(sum(n) OVER (PARTITION BY event_type ORDER BY bucket_ts
                   RANGE BETWEEN 0 PRECEDING AND CURRENT ROW) * 1.0
                   / 3600, 6) AS rate_3600s,
               round(sum(n) OVER (PARTITION BY event_type ORDER BY bucket_ts
                   RANGE BETWEEN 18000 PRECEDING AND CURRENT ROW) * 1.0
                   / 21600, 6) AS rate_21600s,
               round(sum(n) OVER (PARTITION BY event_type ORDER BY bucket_ts
                   RANGE BETWEEN 82800 PRECEDING AND CURRENT ROW) * 1.0
                   / 86400, 6) AS rate_86400s
        FROM c
    """
    q["geoip_enrich"] = """
        WITH b AS (
            SELECT event_id,
                   (user_id * 2654435761) % 4294967296 AS ipl
            FROM events
        )
        SELECT event_id,
               concat((ipl // 16777216) % 256, '.', (ipl // 65536) % 256,
                      '.', (ipl // 256) % 256, '.', ipl % 256) AS ip,
               CASE WHEN ipl % 16777216 < 8388608
                    THEN 'C' || ((ipl // 16777216) % 32) END AS country,
               CASE WHEN ipl % 16777216 < 8388608
                    THEN 'city' || (ipl // 16777216) END AS city
        FROM b
    """
    q["translate_lookup"] = """
        SELECT event_id, event_type,
               CASE event_type
                    WHEN 'click' THEN 'interaction'
                    WHEN 'view' THEN 'interaction'
                    WHEN 'purchase' THEN 'conversion'
                    WHEN 'error' THEN 'fault'
                    ELSE 'other' END AS label
        FROM events
    """
    _ua_rows = ", ".join(
        "({}, '{}', {}, '{}', '{}')".format(
            i, fam, "NULL" if major is None else f"'{major}'", osn, dev)
        for i, (fam, major, osn, dev) in enumerate(_UA_EXPECT))
    q["useragent_parse"] = f"""
        WITH exp(idx, name, major, os_name, device) AS (VALUES {_ua_rows})
        SELECT e.event_id, x.name, x.major, x.os_name, x.device
        FROM events e JOIN exp x ON e.event_id % {len(_UA_EXPECT)} = x.idx
    """
    q["xml_parse"] = """
        SELECT event_id,
               CASE WHEN event_id % 97 = 0 THEN NULL
                    ELSE event_type END AS etype,
               CASE WHEN event_id % 97 = 0 THEN NULL ELSE user_id END AS u,
               CASE WHEN event_id % 97 = 0 THEN NULL ELSE value END AS v,
               CASE WHEN event_id % 97 = 0 THEN '_xmlparsefailure'
                    ELSE '' END AS tags_str
        FROM events
    """
    from logstash_integration_jdbc_spark.functions.syslog import (
        FACILITY_LABELS,
        SEVERITY_LABELS,
    )

    _fac = ", ".join(f"'{x}'" for x in FACILITY_LABELS)
    _sev = ", ".join(f"'{x}'" for x in SEVERITY_LABELS)
    q["syslog_pri"] = f"""
        WITH b AS (
            SELECT event_id, CAST(event_id % 200 AS INT) AS pri FROM events
        )
        SELECT event_id, pri,
               CASE WHEN pri < 192 THEN pri // 8 END AS syslog_facility_code,
               CASE WHEN pri < 192 THEN pri % 8 END AS syslog_severity_code,
               CASE WHEN pri < 192
                    THEN ([{_fac}])[pri // 8 + 1] END AS syslog_facility,
               CASE WHEN pri < 192
                    THEN ([{_sev}])[pri % 8 + 1] END AS syslog_severity
        FROM b
    """
    q["uuid_stamp"] = """
        WITH h AS (
            SELECT event_id, md5(CAST(event_id AS VARCHAR)) AS h FROM events
        )
        SELECT event_id,
               substr(h, 1, 8) || '-' || substr(h, 9, 4) || '-3' ||
               substr(h, 14, 3) || '-' ||
               (['8','9','a','b'])[
                   ((instr('0123456789abcdef', substr(h, 17, 1)) - 1) % 4) + 1
               ] || substr(h, 18, 3) || '-' || substr(h, 21, 12) AS uuid
        FROM h
    """
    q["streaming_pairs"] = """
        SELECT s.user_id,
               strftime(s.ts, '%Y-%m-%d %H:%M:%S.%f') AS start_s,
               strftime(e.ts, '%Y-%m-%d %H:%M:%S.%f') AS end_s,
               round(date_diff('microsecond', s.ts, e.ts) / 1000000.0, 6)
                   AS elapsed6
        FROM (SELECT user_id, ts FROM events WHERE event_type = 'click') s
        JOIN (SELECT user_id, ts FROM events WHERE event_type = 'purchase') e
          ON s.user_id = e.user_id
         AND e.ts >= s.ts AND e.ts <= s.ts + INTERVAL 1 HOUR
    """
    q["clone_fanout"] = """
        WITH e AS (SELECT event_id FROM events WHERE event_id < 2000)
        SELECT event_id, NULL AS type, '' AS tags_str FROM e
        UNION ALL
        SELECT event_id, 'audit', 'audit' FROM e
        UNION ALL
        SELECT event_id, 'archive', 'archive' FROM e
    """
    q["split_events"] = """
        WITH d AS (
            SELECT doc_id, string_split(text, ' ') AS toks
            FROM documents WHERE doc_id < 500
        )
        SELECT doc_id, u.pos - 1 AS token_pos, u.tok AS token
        FROM (SELECT doc_id, unnest(toks) AS tok,
                     generate_subscripts(toks, 1) AS pos FROM d) u
    """
    q["date_parse"] = """
        SELECT event_id,
               CASE WHEN event_id % 2 = 0
                    THEN strftime(ts, '%Y-%m-%d %H:%M:%S')
                    ELSE strftime(ts, '%m/%d/%Y %H:%M:%S') END AS raw,
               strftime(date_trunc('second', ts),
                        '%Y-%m-%d %H:%M:%S') AS parsed_s,
               '' AS tags_str
        FROM events
    """
    q["elapsed_pairs"] = """
        WITH st AS (
            SELECT user_id, min(ts) AS start_ts FROM events
            WHERE event_type = 'click' GROUP BY 1
        ), ea AS (
            SELECT user_id, min(ts) AS end_any FROM events
            WHERE event_type = 'purchase' GROUP BY 1
        ), ef AS (
            SELECT e.user_id, min(e.ts) AS end_after
            FROM events e JOIN st USING (user_id)
            WHERE e.event_type = 'purchase' AND e.ts >= st.start_ts
            GROUP BY 1
        ), base AS (
            SELECT i.user_id, st.start_ts,
                   coalesce(ef.end_after,
                            CASE WHEN st.start_ts IS NULL
                                 THEN ea.end_any END) AS end_ts
            FROM (SELECT DISTINCT user_id FROM events) i
            LEFT JOIN st USING (user_id)
            LEFT JOIN ea USING (user_id)
            LEFT JOIN ef USING (user_id)
        )
        SELECT user_id,
               strftime(start_ts, '%Y-%m-%d %H:%M:%S.%f') AS start_s,
               strftime(end_ts, '%Y-%m-%d %H:%M:%S.%f') AS end_s,
               CASE WHEN start_ts IS NOT NULL THEN
                    round(date_diff('microsecond', start_ts, end_ts)
                          / 1000000.0, 6) END AS elapsed6,
               CASE WHEN start_ts IS NULL AND end_ts IS NULL THEN NULL
                    WHEN start_ts IS NULL THEN 'end_only'
                    WHEN end_ts IS NULL AND
                         (SELECT max(ts) FROM events)
                             > start_ts + INTERVAL 1 DAY THEN 'expired'
                    WHEN end_ts IS NULL THEN 'start_only'
                    ELSE 'matched' END AS status
        FROM base
        WHERE start_ts IS NOT NULL OR end_ts IS NOT NULL
    """
    q["mutate_fields"] = """
        SELECT c_custkey AS ck,
               replace(upper(c_name), '#', '-') AS name,
               lower(c_mktsegment) AS seg,
               concat('cust-', c_custkey, '/', lower(c_mktsegment)) AS label
        FROM customer
    """
    # url_canonical: same synthetic URLs rebuilt + canonicalized by the
    # independent urllib twin (functions/url.canonicalize_url_py).
    def _build_url_canonical_sql() -> str:
        import duckdb as _dk

        from logstash_integration_jdbc_spark.functions.url import (
            canonicalize_url_py,
        )

        ids = [r[0] for r in _dk.sql(
            f"SELECT doc_id FROM "
            f"read_parquet('{_ORACLE_SF_DIR}/documents.parquet') "
            "WHERE doc_id % 20 = 3 ORDER BY doc_id").fetchall()]
        vals = [
            f"({did}, '{canonicalize_url_py(_url_variant_py(did))}')"
            for did in ids
        ]
        return ("SELECT * FROM (VALUES " + ", ".join(vals)
                + ") t(doc_id, canon)")

    q["url_canonical"] = _value_oracle(
        "url_canonical", _build_url_canonical_sql)

    q["hard_negatives"] = """
        WITH e AS (
            SELECT vec_id, label,
                   list_transform(embedding, x -> CAST(x AS DOUBLE)) AS v
            FROM embeddings
        ), qs AS (
            SELECT vec_id AS query_id, label AS qlabel, v AS qv
            FROM e WHERE vec_id < 5
        ), scored AS (
            SELECT q.query_id, e.vec_id,
                   list_sum(list_transform(range(1, len(e.v) + 1), i -> e.v[i] * q.qv[i]))
                   / (sqrt(list_sum(list_transform(e.v, x -> x * x)))
                      * sqrt(list_sum(list_transform(q.qv, x -> x * x)))) AS cosine
            FROM e CROSS JOIN qs q
            WHERE e.vec_id <> q.query_id AND e.label <> q.qlabel
        )
        SELECT query_id, vec_id, round(cosine, 4) AS cos4,
               CAST(rn AS INT) AS rank FROM (
            SELECT *, row_number() OVER (PARTITION BY query_id
                                         ORDER BY cosine DESC, vec_id ASC) AS rn
            FROM scored
        ) WHERE rn <= 10
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
