"""Similarity search over embedding columns (array<float>).

Baseline: brute-force cosine top-k — a broadcast of the (small) query
set against the (huge) corpus, scored with ``zip_with``/``aggregate``
expressions (JVM, codegen) and reduced with a per-query top-k window.
Scale path: IVF — corpus pre-assigned to its nearest centroid
(one-time map pass), queries probe only the ``n_probe`` nearest
centroid buckets → the scan touches n_probe/n_centroids of the data.
Memory path: per-vector int8 scalar quantization, scored without
dequantizing. Sign-LSH sketches serve the near-dup variant
(dedup.embedding_near_dups); ``hard_negatives`` mines different-label
near misses.

Everything is deterministic: centroids are chosen by id, hyperplanes by
fixed hash coefficients.
"""

from __future__ import annotations

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
    literal coefficient array.
    """
    out = F.lit(0).cast("bigint")
    for i in range(bits):
        # coefficient array literal per plane; element_at is 1-based
        plane = F.array(*[F.lit(_plane_coeff(i, j)) for j in range(64)])
        d = F.aggregate(
            F.zip_with(vec, F.slice(plane, 1, F.size(vec)), lambda x, y: x * y),
            F.lit(0.0),
            lambda acc, x: acc + x,
        )
        out = out + F.when(d > 0, F.lit(1 << i).cast("bigint")).otherwise(F.lit(0))
    return out


_SKETCH_UDFS: dict[int, object] = {}


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
    if bits in _SKETCH_UDFS:
        return _SKETCH_UDFS[bits]

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

    _SKETCH_UDFS[bits] = _sketch
    return _sketch


def lsh_topk(
    corpus: DataFrame,
    queries: DataFrame,
    k: int = 10,
    bits: int = 16,
    corpus_id: str = "vec_id",
    query_id: str = "query_id",
    vec_col: str = "embedding",
) -> DataFrame:
    """Approximate top-k: candidates share ≥1 of 4 sketch chunks.

    The 16-bit sketch splits into 4 nibbles-of-4-bits blocks; a corpus row
    is a candidate for a query iff some block matches (pigeonhole over
    small angular distance). Exact cosine ranks the candidates.

    The candidate pair set is deduped as BARE (query_id, corpus_id)
    pairs — a pair can match in up to 4 blocks, and the dedup exchange
    must not carry two embedding vectors per duplicate (at 768-d float
    that is ~6 KB of dead weight per row through the shuffle). Vectors
    re-attach afterwards: corpus side by join on corpus_id, query side
    by broadcast (the query set is small by contract).
    """
    def id_blocks(df: DataFrame, idc: str) -> DataFrame:
        sk = hyperplane_sketch(F.col(vec_col), bits)
        return df.select(F.col(idc), sk.alias("__sk")).select(
            idc,
            F.posexplode(F.array(*[
                F.shiftright(F.col("__sk"), b * 4).bitwiseAND(F.lit(0xF))
                for b in range(bits // 4)
            ])).alias("__blk", "__val"),
        )

    pairs = (
        id_blocks(corpus, corpus_id)
        .join(F.broadcast(id_blocks(queries, query_id)), ["__blk", "__val"])
        .filter(F.col(corpus_id) != F.col(query_id))
        .select(query_id, corpus_id)
        .dropDuplicates([query_id, corpus_id])
    )
    scored = (
        pairs.join(corpus.select(F.col(corpus_id), F.col(vec_col)), corpus_id)
        .join(F.broadcast(queries.select(F.col(query_id),
                                         F.col(vec_col).alias("__qvec"))), query_id)
        .select(
            query_id, corpus_id,
            cosine_expr(F.col(vec_col), F.col("__qvec")).alias("cosine"),
        )
    )
    return _topk_per_query(scored, query_id, corpus_id, k)


# -- IVF ----------------------------------------------------------------------

def _centroid_sims(vec_col: Column, cents: list[tuple[int, list[float]]]) -> Column:
    """array<struct<sim,centroid_id>> of cosine(vec, c) per literal centroid.

    The centroid set is collected to the driver (tiny by definition) and
    inlined as literal arrays, so per-row scoring is a pure map-side
    projection — zero join, zero shuffle. Centroid norms are constants;
    the row norm is computed once and reused across centroids.
    """
    row_norm = norm_expr(vec_col)
    sims = []
    for cid, cvec in cents:
        cnorm = _seq_norm(cvec)
        lit_vec = F.array(*[F.lit(float(x)) for x in cvec])
        sims.append(F.struct(
            (dot_expr(vec_col, lit_vec) / (row_norm * F.lit(cnorm))).alias("sim"),
            F.lit(cid).alias("centroid_id"),
        ))
    return F.array(*sims)


def _seq_norm(vec: list[float]) -> float:
    """Sequential-sum L2 norm — same association order as norm_expr /
    DuckDB list_sum, so driver-side constants stay bit-identical."""
    acc = 0.0
    for x in vec:
        acc = acc + float(x) * float(x)
    return acc ** 0.5


def _collect_centroids(corpus: DataFrame, n_centroids: int,
                       corpus_id: str, vec_col: str) -> list[tuple[int, list[float]]]:
    rows = (
        corpus.orderBy(corpus_id).limit(n_centroids)
        .select(F.col(corpus_id).alias("centroid_id"), F.col(vec_col).alias("cvec"))
        .collect()
    )
    return [(r["centroid_id"], list(r["cvec"])) for r in rows]


def _lloyd_refine(corpus: DataFrame, cents: list[tuple[int, list[float]]],
                  corpus_id: str, vec_col: str,
                  iters: int) -> list[tuple[int, list[float]]]:
    """``iters`` Lloyd steps: assign (map-side literal argmax) → per-
    cluster element-wise mean → collect the (n_centroids × dim)-row
    aggregate → new literal centroids. Each iteration is ONE small
    shuffle (posexplode → groupBy(centroid, pos) partial-avg); the
    collect is n_centroids·dim rows — driver-tiny by definition. Empty
    clusters keep their previous centroid; centroid ids are stable."""
    for _ in range(iters):
        best = F.array_max(F.transform(
            _centroid_sims(F.col(vec_col), cents),
            lambda s: F.struct(
                s["sim"].alias("sim"),
                (-s["centroid_id"]).alias("__negid"),
                s["centroid_id"].alias("centroid_id"),
            ),
        ))
        # two selects: a generator (posexplode) alongside the argmax
        # lambda in ONE select trips analyzer lambda-field resolution
        rows = (
            corpus.select(best["centroid_id"].alias("__c"),
                          F.col(vec_col).alias("__v"))
            .select("__c", F.posexplode("__v").alias("__p", "__x"))
            .groupBy("__c", "__p")
            .agg(F.avg("__x").alias("__m"))
            .collect()
        )
        means: dict[int, dict[int, float]] = {}
        for r in rows:
            means.setdefault(r["__c"], {})[r["__p"]] = r["__m"]
        cents = [
            (cid, [means[cid][p] for p in range(len(vec))])
            if cid in means else (cid, vec)
            for cid, vec in cents
        ]
    return cents


def _assign_expr(vec_col: str, cents: list[tuple[int, list[float]]]) -> Column:
    """Map-side nearest-centroid assignment: argmax cosine over the
    literal centroid array via array_max on (sim, -centroid_id) structs
    — ties break to the smallest centroid_id, no shuffle, no crossJoin."""
    best = F.array_max(F.transform(
        _centroid_sims(F.col(vec_col), cents),
        lambda s: F.struct(
            s["sim"].alias("sim"),
            (-s["centroid_id"]).alias("__negid"),
            s["centroid_id"].alias("centroid_id"),
        ),
    ))
    return best["centroid_id"]


def ivf_index(corpus: DataFrame, n_centroids: int = 16,
              corpus_id: str = "vec_id", vec_col: str = "embedding",
              _cents: list[tuple[int, list[float]]] | None = None,
              kmeans_iters: int = 0) -> tuple[DataFrame, DataFrame]:
    """Assign each corpus vector to its nearest centroid (one map pass).

    Centroids: the vectors with the n_centroids smallest ids —
    deterministic; ``kmeans_iters`` > 0 refines them with that many
    Lloyd steps (assign → element-wise cluster mean → re-broadcast; see
    ``_lloyd_refine``) before the final assignment, which balances
    buckets on clustered corpora. Assignment is a map-side argmax over
    the literal centroid array — ``array_max`` on (sim, -centroid_id)
    structs — NOT a crossJoin + per-row window, which would shuffle
    |corpus|×n_centroids rows just to take an argmax. Ties break to the
    smallest centroid_id. Returns (assigned_corpus, centroids).
    """
    cents = _cents if _cents is not None else _collect_centroids(
        corpus, n_centroids, corpus_id, vec_col)
    if kmeans_iters:
        cents = _lloyd_refine(corpus, cents, corpus_id, vec_col, kmeans_iters)
    spark = corpus.sparkSession
    centroids = spark.createDataFrame(
        [(cid, cvec) for cid, cvec in cents],
        f"centroid_id long, __cvec {dict(corpus.dtypes)[vec_col]}",
    )
    assigned = corpus.select(
        F.col(corpus_id), F.col(vec_col),
        _assign_expr(vec_col, cents).alias("centroid_id"),
    )
    return assigned, centroids


def ivf_topk(
    corpus: DataFrame,
    queries: DataFrame,
    k: int = 10,
    n_centroids: int = 16,
    n_probe: int = 4,
    corpus_id: str = "vec_id",
    query_id: str = "query_id",
    vec_col: str = "embedding",
    kmeans_iters: int = 0,
) -> DataFrame:
    """IVF search: probe the n_probe nearest centroid buckets per query.

    At scale the assigned corpus is written bucketed/partitioned by
    centroid_id so a probe prunes partitions; here the join on
    centroid_id expresses the same pruning. Probe selection is the same
    map-side literal-centroid scoring as assignment (sort the per-query
    sim array, slice n_probe) — no crossJoin, no window.
    ``kmeans_iters`` refines the centroids first (``_lloyd_refine``);
    probes then use the refined set, keeping probe and assignment
    consistent.
    """
    cents = _collect_centroids(corpus, n_centroids, corpus_id, vec_col)
    if kmeans_iters:
        cents = _lloyd_refine(corpus, cents, corpus_id, vec_col, kmeans_iters)
    assigned, _ = ivf_index(corpus, n_centroids, corpus_id, vec_col, _cents=cents)
    q = queries.select(F.col(query_id), F.col(vec_col).alias("__qvec"))
    # sort by (-sim, centroid_id) ascending ≡ sim DESC, centroid_id ASC
    probe_arr = F.slice(
        F.sort_array(F.transform(
            _centroid_sims(F.col("__qvec"), cents),
            lambda s: F.struct((-s["sim"]).alias("negsim"),
                               s["centroid_id"].alias("centroid_id")),
        )),
        1, n_probe,
    )
    probes = q.select(
        query_id, "__qvec",
        F.explode(probe_arr).alias("__p"),
    ).select(query_id, "__qvec", F.col("__p.centroid_id").alias("centroid_id"))
    cand = assigned.join(F.broadcast(probes), "centroid_id").filter(
        F.col(corpus_id) != F.col(query_id)
    )
    scored = cand.select(
        query_id, corpus_id,
        cosine_expr(F.col(vec_col), F.col("__qvec")).alias("cosine"),
    )
    return _topk_per_query(scored, query_id, corpus_id, k)


# -- int8 scalar quantization -------------------------------------------------

def quantize_embeddings(df: DataFrame, vec_col: str = "embedding",
                        out_col: str = "q_vec",
                        scale_col: str = "q_scale") -> DataFrame:
    """Per-vector symmetric int8 quantization: ``q = round(v / scale)``
    with ``scale = max(|v|) / 127`` — the standard ANN memory path
    (4× smaller than float32, 8× than float64 in the shuffle and in
    executor cache; at 10^9 vectors the index fits where floats
    don't). Pure Catalyst (``transform``/``array_max``); cosine over
    the quantized vectors needs NO dequantization because the
    per-vector scale cancels in the ratio.

    An all-zero vector keeps scale 1.0 (quantizes to zeros) rather
    than dividing by zero.
    """
    v = F.col(vec_col)
    amax = F.array_max(F.transform(v, lambda x: F.abs(x)))
    scale = F.when(amax > 0, amax / F.lit(127.0)).otherwise(F.lit(1.0))
    out = df.withColumn(scale_col, scale.cast("double"))
    return out.withColumn(
        out_col,
        F.transform(v, lambda x: F.round(x / F.col(scale_col))
                    .cast("tinyint")))


def cosine_topk_quantized(corpus_q: DataFrame, queries_q: DataFrame,
                          k: int = 10, corpus_id: str = "vec_id",
                          query_id: str = "query_id",
                          q_col: str = "q_vec") -> DataFrame:
    """Brute-force cosine top-k over int8-quantized vectors — the same
    broadcast + two-phase top-k plan as ``cosine_topk``, scoring the
    tinyint arrays directly (scales cancel in cosine, so the only
    error is the ±0.5-step rounding noise, ~1e-2 on unit vectors)."""
    q = queries_q.select(F.col(query_id), F.col(q_col).alias("__qq"))
    scored = (corpus_q.select(F.col(corpus_id), F.col(q_col))
              .crossJoin(F.broadcast(q)))
    a = F.transform(F.col(q_col), lambda x: x.cast("double"))
    b = F.transform(F.col("__qq"), lambda x: x.cast("double"))
    scored = scored.select(
        query_id, corpus_id,
        cosine_expr(a, b).alias("cosine"),
    ).filter(F.col(corpus_id) != F.col(query_id))
    return _topk_per_query(scored, query_id, corpus_id, k)


def hard_negatives(
    corpus: DataFrame,
    queries: DataFrame,
    k: int = 10,
    corpus_id: str = "vec_id",
    query_id: str = "query_id",
    vec_col: str = "embedding",
    label_col: str = "label",
) -> DataFrame:
    """Hard-negative mining for retrieval / embedding-model training:
    for each query, the ``k`` most-similar corpus items with a
    DIFFERENT label — the near-miss negatives a contrastive loss
    learns most from (random negatives are trivially separable).

    Same scale shape as ``cosine_topk`` (broadcast queries, map-only
    scoring, two-phase per-query top-k) with the positive/self
    exclusion applied MAP-SIDE before any ranking: rows sharing the
    query's label never enter the top-k exchange, so the selection
    cost is paid only by candidate negatives. Swap the brute-force
    scoring for the IVF/LSH candidate generators when the corpus
    outgrows exact scan — the label gate composes unchanged.

    Returns (query_id, vec_id, cosine, rank) — rank 1 is the hardest
    negative.
    """
    q = queries.select(
        F.col(query_id),
        F.col(vec_col).alias("__qvec"),
        F.col(label_col).alias("__qlabel"),
    )
    scored = corpus.select(
        F.col(corpus_id), F.col(vec_col), F.col(label_col)
    ).crossJoin(F.broadcast(q))
    scored = scored.filter(
        (F.col(label_col) != F.col("__qlabel"))
        & (F.col(corpus_id) != F.col(query_id))
    ).select(
        query_id,
        corpus_id,
        cosine_expr(F.col(vec_col), F.col("__qvec")).alias("cosine"),
    )
    return _topk_per_query(scored, query_id, corpus_id, k)
