"""Similarity search: brute-force top-k exactness vs numpy, sign sketches."""

from __future__ import annotations

import numpy as np
import pytest

from logstash_integration_jdbc_spark.operators.similarity import cosine_topk


@pytest.fixture(scope="module")
def emb(spark, sf_dir):
    return spark.read.parquet(f"{sf_dir('sf0.001')}/embeddings.parquet").cache()


@pytest.fixture(scope="module")
def queries(emb):
    return (emb.limit(5)
            .selectExpr("vec_id as query_id", "embedding"))


def numpy_topk(emb_rows, q_rows, k):
    M = np.array([r.embedding for r in emb_rows], dtype=np.float64)
    ids = np.array([r.vec_id for r in emb_rows])
    Mn = M / np.linalg.norm(M, axis=1, keepdims=True)
    out = {}
    for q in q_rows:
        qv = np.array(q.embedding, dtype=np.float64)
        qv = qv / np.linalg.norm(qv)
        sims = Mn @ qv
        mask = ids != q.query_id
        order = sorted(zip(-sims[mask], ids[mask]))
        out[q.query_id] = [int(i) for _, i in order[:k]]
    return out


def test_brute_force_matches_numpy(spark, emb, queries):
    got_rows = cosine_topk(emb, queries, k=5).collect()
    got = {}
    for r in sorted(got_rows, key=lambda r: (r.query_id, r.rank)):
        got.setdefault(r.query_id, []).append(r.vec_id)
    exp = numpy_topk(emb.collect(), queries.collect(), 5)
    assert got == exp


def test_topk_rank_is_dense_and_ordered(emb, queries):
    rows = cosine_topk(emb, queries, k=3).collect()
    by_q = {}
    for r in sorted(rows, key=lambda r: (r.query_id, r.rank)):
        by_q.setdefault(r.query_id, []).append(r)
    for q, rs in by_q.items():
        assert [r.rank for r in rs] == [1, 2, 3]
        assert rs[0].cosine >= rs[1].cosine >= rs[2].cosine


def test_sketch_udf_matches_expression_form(spark, sf_dir):
    """The numpy-matmul sketch UDF must equal the expression-form sketch
    bit-for-bit (same deterministic hyperplanes) at 16 bits and at the
    64 bits ``embedding_near_dups`` uses, where bit 63 is the sign bit.
    The fixture vectors are 64-d, the expression form's limit."""
    from pyspark.sql import functions as F

    from logstash_integration_jdbc_spark.operators.similarity import (
        hyperplane_sketch,
        hyperplane_sketch_udf,
    )

    emb = spark.read.parquet(f"{sf_dir('sf0.001')}/embeddings.parquet").withColumn(
        "embedding", F.col("embedding").cast("array<double>")
    ).limit(64)
    widths = (16, 64)
    rows = emb.select(*[
        c for bits in widths for c in (
            hyperplane_sketch(F.col("embedding"), bits).alias(f"expr_{bits}"),
            hyperplane_sketch_udf(bits)(F.col("embedding")).alias(f"udf_{bits}"),
        )
    ]).collect()
    assert len(rows) == 64
    for bits in widths:
        assert [r[f"expr_{bits}"] for r in rows] == [r[f"udf_{bits}"] for r in rows]
    # a 64-bit sketch with bit 63 set is a negative bigint
    assert any(r["udf_64"] < 0 for r in rows)
