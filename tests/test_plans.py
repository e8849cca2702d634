"""Physical-plan quality gates — the 100 TB checklist as assertions.

These tests pin the *plan shape*, not results: predicate pushdown into
the parquet scan, column pruning, broadcast joins for dimensions, no
Python evaluation in the JVM fast paths. A regression here is a silent
10-100× slowdown at scale long before it's a correctness bug.
"""

from __future__ import annotations

from pyspark.sql import functions as F

from logstash_integration_jdbc_spark.functions.parse import parse_tool_calls
from logstash_integration_jdbc_spark.operators.lookup import Lookup
from logstash_integration_jdbc_spark.sources.scan import incremental_scan


def plan_of(df) -> str:
    return df._jdf.queryExecution().executedPlan().toString()


def test_incremental_scan_pushes_predicate(spark, fixture_dir):
    df = spark.read.parquet(f"{fixture_dir}/transcripts.parquet")
    scanned = incremental_scan(df, "ts", "2024-01-01 00:30:00")
    plan = plan_of(scanned)
    assert "PushedFilters" in plan
    # the tracking predicate must reach the scan, not sit in a Filter only
    pushed = plan.split("PushedFilters:")[1].split("]")[0]
    assert "GreaterThan(ts" in pushed


def test_projection_prunes_scan_columns(spark, fixture_dir):
    df = spark.read.parquet(f"{fixture_dir}/transcripts.parquet")
    plan = plan_of(df.select("conv_id", "ts"))
    read_schema = plan.split("ReadSchema:")[1].splitlines()[0]
    assert "text" not in read_schema and "tool" not in read_schema


def test_equi_lookup_is_broadcast_hash_join_map_only(spark, fixture_dir, tool_dim):
    fact = parse_tool_calls(spark.read.parquet(f"{fixture_dir}/transcripts.parquet"))
    lk = Lookup(
        id="tool_info", dim=tool_dim,
        on=[("tool", "=", "tool")], parameters={"tool": "[tool_call]"},
        select=["tool_name"],
    )
    plan = plan_of(lk.apply(fact))
    assert "BroadcastHashJoin" in plan
    # the FACT side must not shuffle: no Exchange hashpartitioning on the
    # streamed side (only the broadcast exchange of the dim aggregate)
    streamed_side = plan.split("BroadcastHashJoin")[1]
    assert "Exchange hashpartitioning" not in plan.split("BroadcastExchange")[0]


def test_parse_and_enrich_have_no_python_eval(spark, fixture_dir, tool_dim):
    fact = parse_tool_calls(spark.read.parquet(f"{fixture_dir}/transcripts.parquet"))
    lk = Lookup(
        id="tool_info", dim=tool_dim,
        on=[("tool", "=", "tool")], parameters={"tool": "[tool_call]"},
        select=["tool_name"],
    )
    plan = plan_of(lk.apply(fact))
    assert "EvalPython" not in plan  # no per-row or arrow Python in hot path


def test_whole_stage_codegen_covers_parse(spark, fixture_dir):
    df = parse_tool_calls(spark.read.parquet(f"{fixture_dir}/transcripts.parquet"))
    plan = plan_of(df)
    # executedPlan toString marks codegen stages with "*(n)"
    assert "WholeStageCodegen" in plan or "*(1)" in plan


def test_hourly_counts_partial_aggregation(spark, fixture_dir):
    from logstash_integration_jdbc_spark.operators.aggregate import hourly_counts

    df = spark.read.parquet(f"{fixture_dir}/transcripts.parquet")
    plan = plan_of(hourly_counts(df))
    # map-side partial agg before the exchange: two HashAggregate nodes
    assert plan.count("HashAggregate") >= 2
    assert "partial_count" in plan


def test_minhash_signature_stays_jvm_side(spark):
    from logstash_integration_jdbc_spark.operators.dedup import (
        minhash_signature,
        shingle_hashes,
    )

    df = spark.createDataFrame([("a b c d e",)], "text string")
    sig = df.select(minhash_signature(shingle_hashes(F.col("text")), 16).alias("s"))
    assert "EvalPython" not in plan_of(sig)


def test_asof_join_single_exchange_no_python(spark, fixture_dir):
    from logstash_integration_jdbc_spark.operators.asof import asof_join

    tr = spark.read.parquet(f"{fixture_dir}/transcripts.parquet")
    left = tr.select("conv_id", "ts", "turn_idx")
    right = tr.select("conv_id", "ts", F.col("tool").alias("state"))
    plan = plan_of(asof_join(left, right, on="ts", by="conv_id"))
    # union + window fill: ONE key exchange for the window sort, no join
    # node at all, nothing in Python
    assert "EvalPython" not in plan
    assert plan.count("Exchange hashpartitioning") == 1
    assert "Join" not in plan.replace("asof_join", "")


def test_topk_is_two_phase_no_global_query_window(spark, sf_dir):
    """Per-query top-k must pre-rank within (query_id, partition) before
    the final per-query window — a single global window funnels the whole
    corpus's scores for a query into one task (VERDICT r1 #4)."""
    from logstash_integration_jdbc_spark.operators.similarity import cosine_topk

    emb = spark.read.parquet(f"{sf_dir('sf0.001')}/embeddings.parquet").withColumn(
        "embedding", F.col("embedding").cast("array<double>")
    )
    queries = emb.filter(F.col("vec_id") < 3).selectExpr(
        "vec_id as query_id", "embedding"
    )
    plan = plan_of(cosine_topk(emb, queries, k=5))
    # phase-1 window keyed by (query_id, spark_partition_id): the only
    # exchanges hashing on query_id alone are the tiny phase-2 merge
    assert "SPARK_PARTITION_ID" in plan.upper()
    assert plan.count("Window") >= 2


def test_exact_cosine_pairs_is_tiled_not_collected(spark, sf_dir):
    """The exact embedding path must run as grouped-map GEMM tiles —
    no collect_list packing corpus/B vectors into single rows (VERDICT
    r2 'What's wrong' #2), and the tile count must scale parallelism."""
    from logstash_integration_jdbc_spark.operators.dedup import exact_cosine_pairs

    emb = spark.read.parquet(f"{sf_dir('sf0.001')}/embeddings.parquet").withColumn(
        "embedding", F.col("embedding").cast("array<double>")
    ).select("vec_id", "embedding")
    plan = plan_of(exact_cosine_pairs(emb, min_cosine=0.95, n_blocks=4))
    assert "collect_list" not in plan
    assert "FlatMapGroupsInPandas" in plan          # applyInPandas kernel
    # candidate generation feeds a grouped exchange on the tile pair key
    assert "Exchange hashpartitioning(__lo" in plan


def test_redact_and_split_are_map_only_jvm(spark, sf_dir):
    from logstash_integration_jdbc_spark.operators.textstats import redact_pii

    docs = spark.read.parquet(f"{sf_dir('sf0.001')}/documents.parquet")
    red = redact_pii(docs)
    plan = plan_of(red)
    assert "EvalPython" not in plan and "Exchange" not in plan


def test_chunk_documents_is_map_only_jvm(spark, sf_dir):
    from logstash_integration_jdbc_spark.operators.relevance import (
        chunk_documents,
    )

    docs = spark.read.parquet(f"{sf_dir('sf0.001')}/documents.parquet")
    plan = plan_of(chunk_documents(docs, chunk_size=64, overlap=16))
    # sequence/explode/slice are all Catalyst generators — no shuffle,
    # no Python; chunk rows inherit the scan's partitioning
    assert "EvalPython" not in plan and "Exchange" not in plan
    assert "Generate explode" in plan


def test_bm25_broadcasts_stats_and_prunes_postings(spark, sf_dir):
    from logstash_integration_jdbc_spark.operators.relevance import bm25_topk

    docs = spark.read.parquet(f"{sf_dir('sf0.001')}/documents.parquet")
    plan = plan_of(bm25_topk(docs, ["spark", "join"], k=5))
    # term stats and the corpus one-row aggregate join broadcast —
    # the only hash exchanges key the pruned postings aggregation and
    # the final per-doc score aggregation
    assert plan.count("BroadcastExchange") >= 2
    assert "EvalPython" not in plan
    # query-vocab pruning sits below the postings exchange: the IN
    # filter must appear, and the final top-k is a TakeOrdered, not a
    # global Sort
    assert "term#" in plan and "TakeOrderedAndProject" in plan


def test_tf_idf_broadcasts_term_stats(spark, sf_dir):
    from logstash_integration_jdbc_spark.operators.relevance import tf_idf

    docs = spark.read.parquet(f"{sf_dir('sf0.001')}/documents.parquet")
    plan = plan_of(tf_idf(docs))
    assert plan.count("BroadcastExchange") >= 2
    assert "EvalPython" not in plan


def test_perplexity_no_python_eval(spark, sf_dir):
    from logstash_integration_jdbc_spark.operators.lm import perplexity

    docs = spark.read.parquet(f"{sf_dir('sf0.001')}/documents.parquet")
    plan = plan_of(perplexity(docs))
    # bigram emission/model/scoring are all Catalyst; only the vocab
    # one-row aggregate broadcasts — the model tables join shuffled
    assert "EvalPython" not in plan
    assert "BroadcastExchange" in plan


def test_bpe_word_counts_single_exchange(spark):
    from logstash_integration_jdbc_spark.operators.bpe import word_counts

    df = spark.createDataFrame([(0, "a b c")], "doc_id int, text string")
    plan = plan_of(word_counts(df))
    assert plan.count("Exchange") == 1  # one word-key shuffle, no Python
    assert "EvalPython" not in plan


def test_bpe_encode_is_one_arrow_pass(spark):
    from logstash_integration_jdbc_spark.operators import bpe

    df = spark.createDataFrame([(0, "a b a")], "doc_id int, text string")
    plan = plan_of(bpe.bpe_encode(df, [("a", "</w>")]))
    # exactly one Arrow-batched python stage, zero shuffles
    assert plan.count("ArrowEvalPython") == 1
    assert "Exchange" not in plan
    assert "BatchEvalPython" not in plan  # never row-at-a-time


def test_rrf_fuse_single_aggregate_over_union(spark):
    from logstash_integration_jdbc_spark.operators.relevance import rrf_fuse

    a = spark.createDataFrame([(1, 1)], "doc_id int, rank int")
    b = spark.createDataFrame([(1, 2)], "doc_id int, rank int")
    plan = plan_of(rrf_fuse([a, b], k=5))
    # union + one id-key aggregate + the k-row TakeOrdered — no joins
    assert "Join" not in plan
    assert "TakeOrdered" in plan
