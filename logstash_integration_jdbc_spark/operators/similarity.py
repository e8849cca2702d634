"""Similarity search over embedding columns (array<float>).

Exact top-k: brute-force cosine — a broadcast of the (small) query set
against the (huge) corpus, scored with ``zip_with``/``aggregate``
expressions (JVM, codegen) and reduced with a two-phase per-query
top-k window. Sign-LSH sketches (random-hyperplane bits) serve the
near-duplicate blocking in ``dedup.embedding_near_dups``.

Everything is deterministic: hyperplanes come from fixed hash
coefficients.
"""

from __future__ import annotations

import functools

import pandas as pd
from pyspark.sql import Column, DataFrame, Window
from pyspark.sql import functions as F
from pyspark.sql.functions import pandas_udf


def dot_expr(a: Column, b: Column) -> Column:
    return F.aggregate(
        F.zip_with(a, b, lambda x, y: x * y),
        F.lit(0.0),
        lambda acc, x: acc + x,
    )


def norm_expr(a: Column) -> Column:
    return F.sqrt(F.aggregate(a, F.lit(0.0), lambda acc, x: acc + x * x))


def cosine_expr(a: Column, b: Column) -> Column:
    return dot_expr(a, b) / (norm_expr(a) * norm_expr(b))


def _topk_per_query(scored: DataFrame, query_id: str, corpus_id: str, k: int) -> DataFrame:
    """Two-phase per-query top-k over a (query_id, corpus_id, cosine) frame.

    A single ``Window.partitionBy(query_id)`` funnels every score for a
    query into ONE task — with a 100 TB corpus and a handful of queries
    that is a single-task sort of billions of rows. Phase 1 ranks within
    ``(query_id, spark_partition_id())`` so every task sorts only its own
    slice and keeps ≤ k; phase 2 ranks the ≤ k×partitions survivors —
    a tiny exchange. Identical results to the single-window form
    (top-k of a union = top-k of per-part top-ks).
    """
    order = [F.desc("cosine"), F.asc(corpus_id)]
    wl = Window.partitionBy(query_id, "__pid").orderBy(*order)
    local = (
        scored.withColumn("__pid", F.spark_partition_id())
        .withColumn("__lrank", F.row_number().over(wl))
        .filter(F.col("__lrank") <= k)
        .drop("__pid", "__lrank")
    )
    w = Window.partitionBy(query_id).orderBy(*order)
    return local.withColumn("rank", F.row_number().over(w)).filter(F.col("rank") <= k)


def cosine_topk(
    corpus: DataFrame,
    queries: DataFrame,
    k: int = 10,
    corpus_id: str = "vec_id",
    query_id: str = "query_id",
    vec_col: str = "embedding",
) -> DataFrame:
    """Exact top-k by cosine for every query (brute force baseline).

    corpus × broadcast(queries) — map-only scoring over the corpus, then
    a two-phase per-query top-k. Excludes self-matches when ids collide.
    Returns (query_id, vec_id, cosine, rank).
    """
    q = queries.select(
        F.col(query_id), F.col(vec_col).alias("__qvec")
    )
    scored = corpus.select(F.col(corpus_id), F.col(vec_col)).crossJoin(F.broadcast(q))
    scored = scored.select(
        query_id,
        corpus_id,
        cosine_expr(F.col(vec_col), F.col("__qvec")).alias("cosine"),
    ).filter(F.col(corpus_id) != F.col(query_id))
    return _topk_per_query(scored, query_id, corpus_id, k)


# -- sign-LSH ----------------------------------------------------------------

def _plane_coeff(bit: int, dim_idx: int) -> float:
    """Deterministic pseudo-gaussian hyperplane coefficient in [-1, 1]."""
    x = (bit * 1_000_003 + dim_idx * 7919 + 12345) * 6364136223846793005 % (1 << 63)
    return (x % 2_000_001) / 1_000_000.0 - 1.0


def hyperplane_sketch(vec: Column, bits: int = 16) -> Column:
    """bits-wide sign sketch as a bigint (random-hyperplane LSH).

    sign(v·p_i) per deterministic plane p_i; bit i set iff positive.
    Pure expressions — the per-plane dot product is a zip_with over a
    literal coefficient array. The plane literal has 64 coefficients, so
    vectors of up to 64 dimensions are supported. Bits are shifted into
    a bigint and OR-ed, so bit 63 (the sign bit) is reachable.
    """
    one = F.lit(1).cast("bigint")
    out = F.lit(0).cast("bigint")
    for i in range(bits):
        plane = F.array(*[F.lit(_plane_coeff(i, j)) for j in range(64)])
        d = F.aggregate(
            F.zip_with(vec, F.slice(plane, 1, F.size(vec)), lambda x, y: x * y),
            F.lit(0.0),
            lambda acc, x: acc + x,
        )
        out = out.bitwiseOR(F.when(d > 0, F.shiftleft(one, i)).otherwise(0))
    return out


@functools.lru_cache(maxsize=None)
def hyperplane_sketch_udf(bits: int = 64):
    """Arrow pandas UDF computing the SAME sign sketch as
    ``hyperplane_sketch`` for any width up to 64, via one numpy matmul.

    The batch's vectors stack into an (n × d) matrix multiplied against
    the deterministic (d × bits) plane matrix (same ``_plane_coeff``
    coefficients as the expression form) — BLAS does the work, no
    per-row Python. This is the production path: the expression form
    builds ``bits`` interpreted zip_with/aggregate trees, fine for 16
    bits, pathological for 64.
    """
    import numpy as np

    planes: dict[int, "np.ndarray"] = {}

    def plane_matrix(dim: int) -> "np.ndarray":
        if dim not in planes:
            planes[dim] = np.array(
                [[_plane_coeff(i, j) for i in range(bits)] for j in range(dim)],
                dtype=np.float64,
            )
        return planes[dim]

    @pandas_udf("long")
    def _sketch(vs: pd.Series) -> pd.Series:
        n = len(vs)
        if n == 0:
            return pd.Series([], dtype="int64")
        mat = np.stack([np.asarray(v, dtype=np.float64) for v in vs])
        dots = mat @ plane_matrix(mat.shape[1])
        sign_bits = (dots > 0).astype(np.uint64)
        out = np.zeros(n, dtype=np.uint64)
        for i in range(bits):
            out |= sign_bits[:, i] << np.uint64(i)
        return pd.Series(out.view(np.int64))

    return _sketch
