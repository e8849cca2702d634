"""Deduplication operators: exact, MinHash+LSH, substring, embedding."""

from __future__ import annotations

import pytest
from pyspark.sql import functions as F

from logstash_integration_jdbc_spark.operators.dedup import (
    dup_groups,
    embedding_near_dups,
    exact_dedup,
    minhash_lsh_candidates,
)

BASE = ("the quick brown fox jumps over the lazy dog and then runs far away "
        "into the deep green forest to find some food for the long winter")


@pytest.fixture()
def docs(spark):
    near = BASE.replace("green", "blue")  # one-word change → high jaccard
    rows = [
        (0, BASE), (1, BASE),             # exact dups
        (2, near),                         # near dup of 0/1
        (3, "completely different text about spark query planning and shuffles"),
        (4, "yet another unrelated document mentioning broadcast joins only"),
    ]
    return spark.createDataFrame(rows, "doc_id bigint, text string")


def test_exact_dedup_keeps_min_id(docs):
    kept = exact_dedup(docs)
    assert sorted(r.doc_id for r in kept.collect()) == [0, 2, 3, 4]
    groups = dup_groups(docs).collect()
    assert len(groups) == 1 and groups[0].rep_id == 0 and groups[0].n_dups == 2


def test_minhash_finds_exact_and_near(docs):
    pairs = {(r.id_a, r.id_b): r.jaccard for r in minhash_lsh_candidates(docs).collect()}
    assert pairs[(0, 1)] == 1.0
    assert (0, 2) in pairs and 0.5 < pairs[(0, 2)] < 1.0
    # unrelated docs must not pair with the near-dup cluster
    assert (0, 3) not in pairs and (3, 4) not in pairs


def test_minhash_leaves_no_cache_entries(docs, spark):
    """ADVICE r4: the candidate-pair materialization must not accumulate
    CacheManager entries across calls (persist() entries are never
    GC-reclaimed; localCheckpoint blocks are ContextCleaner-owned)."""
    spark.catalog.clearCache()
    for _ in range(2):
        minhash_lsh_candidates(docs).collect()
    assert spark._jsparkSession.sharedState().cacheManager().isEmpty()


def test_minhash_jaccard_matches_python_oracle(docs):
    def shingles(t, n=3):
        w = t.lower().split()
        return {" ".join(w[i:i + n]) for i in range(len(w) - n + 1)}

    a, c = shingles(BASE), shingles(BASE.replace("green", "blue"))
    expected = len(a & c) / len(a | c)
    got = {(r.id_a, r.id_b): r.jaccard for r in minhash_lsh_candidates(docs).collect()}
    assert got[(0, 2)] == pytest.approx(expected)


def test_embedding_near_dups(spark):
    v = [1.0] * 8 + [0.0] * 8
    near = [1.0] * 8 + [0.01] * 8
    ortho = [0.0] * 8 + [1.0] * 8
    df = spark.createDataFrame(
        [(0, v), (1, near), (2, ortho)], "vec_id bigint, embedding array<float>"
    )
    pairs = {(r.id_a, r.id_b): r.cosine for r in
             embedding_near_dups(df, min_cosine=0.95).collect()}
    assert (0, 1) in pairs and pairs[(0, 1)] > 0.99
    assert (0, 2) not in pairs and (1, 2) not in pairs


def test_dedup_on_real_documents(spark, sf_dir):
    docs = spark.read.parquet(f"{sf_dir('sf0.001')}/documents.parquet")
    # duplicate the table with shifted ids → every doc has one exact dup
    shifted = docs.withColumn("doc_id", F.col("doc_id") + 1_000_000)
    both = docs.unionByName(shifted)
    kept = exact_dedup(both)
    assert kept.count() == docs.count()
    assert kept.agg(F.max("doc_id")).first()[0] < 1_000_000  # min-id wins


def test_signature_udf_matches_expression_form(spark, sf_dir):
    """The Arrow-UDF signature must equal the pure-expression reference."""
    from logstash_integration_jdbc_spark.operators.dedup import (
        minhash_signature,
        minhash_signature_udf,
        shingle_hashes,
    )

    docs = spark.read.parquet(f"{sf_dir('sf0.001')}/documents.parquet").limit(50)
    base = docs.select("doc_id", shingle_hashes(F.col("text")).alias("sh"))
    both = base.select(
        "doc_id",
        minhash_signature(F.col("sh"), 16).alias("expr_sig"),
        minhash_signature_udf(16)(F.col("sh")).alias("udf_sig"),
    ).collect()
    assert len(both) == 50
    for r in both:
        assert r.expr_sig == list(r.udf_sig)


def test_signature_udf_null_and_empty_rows(spark):
    """Null/empty shingle arrays → [null]*n, same as the expression form;
    the empty segment must not alias the next row's hashes (reduceat)."""
    from logstash_integration_jdbc_spark.operators.dedup import (
        minhash_signature,
        minhash_signature_udf,
    )

    df = spark.createDataFrame(
        [(1, [5, 9]), (2, []), (3, None), (4, [7]), (5, [])],
        "id int, sh array<bigint>",
    ).repartition(1)
    rows = df.select(
        "id",
        minhash_signature(F.col("sh"), 8).alias("expr_sig"),
        minhash_signature_udf(8)(F.col("sh")).alias("udf_sig"),
    ).collect()
    assert len(rows) == 5
    for r in rows:
        expr = list(r.expr_sig) if r.expr_sig is not None else None
        udf = list(r.udf_sig) if r.udf_sig is not None else None
        assert expr == udf, r.id


def test_embedding_near_dup_recall_on_true_near_pairs(spark, sf_dir):
    """Recall bound on genuinely-near (NOT identical) pairs: perturb the
    real embeddings (even dims ×1.35, odd ×0.65 → cosine ≈ 0.94-0.96) and
    compare against the exact numpy O(n²) answer. Round-1's full-sketch-
    equality blocking kept only ~18% of 0.95-pairs; the multi-probe chunk
    blocking must achieve ≥0.95 recall (in practice 1.0 on this corpus)."""
    import numpy as np

    from logstash_integration_jdbc_spark.operators.dedup import embedding_near_dups

    emb = spark.read.parquet(f"{sf_dir('sf0.001')}/embeddings.parquet").withColumn(
        "embedding", F.col("embedding").cast("array<double>")
    ).select("vec_id", "embedding")
    pert = emb.select(
        (F.col("vec_id") + 100_000).alias("vec_id"),
        F.transform(
            "embedding",
            lambda x, i: x * F.when(i % 2 == 0, F.lit(1.35)).otherwise(F.lit(0.65)),
        ).alias("embedding"),
    )
    both = emb.unionByName(pert)
    got = {(r.id_a, r.id_b) for r in
           embedding_near_dups(both, min_cosine=0.95).collect()}

    rows = sorted(both.collect(), key=lambda r: r.vec_id)
    ids = np.array([r.vec_id for r in rows])
    M = np.array([r.embedding for r in rows])
    Mn = M / np.linalg.norm(M, axis=1, keepdims=True)
    cos = Mn @ Mn.T
    iu = np.triu_indices(len(ids), k=1)
    want = {(int(ids[i]), int(ids[j]))
            for i, j in zip(*iu) if cos[i, j] >= 0.95 - 1e-9}
    # no false positives beyond float-boundary pairs, recall >= 0.95
    boundary = {(int(ids[i]), int(ids[j]))
                for i, j in zip(*iu) if abs(cos[i, j] - 0.95) < 1e-9}
    assert not (got - want - boundary)
    assert want, "fixture must contain true near-dup pairs"
    recall = len(got & want) / len(want)
    assert recall >= 0.95, f"recall {recall:.3f} on {len(want)} true pairs"


def test_exact_cosine_pairs_equals_numpy(spark, sf_dir):
    """Block-GEMM exact pairs must equal the numpy O(n²) answer exactly
    (not just recall-bounded like the LSH-probe variant)."""
    import numpy as np

    from logstash_integration_jdbc_spark.operators.dedup import exact_cosine_pairs

    emb = spark.read.parquet(f"{sf_dir('sf0.001')}/embeddings.parquet").withColumn(
        "embedding", F.col("embedding").cast("array<double>")
    ).select("vec_id", "embedding")
    pert = emb.select(
        (F.col("vec_id") + 100_000).alias("vec_id"),
        F.transform(
            "embedding",
            lambda x, i: x * F.when(i % 2 == 0, F.lit(1.35)).otherwise(F.lit(0.65)),
        ).alias("embedding"),
    )
    both = emb.unionByName(pert)
    got = {(r.id_a, r.id_b) for r in exact_cosine_pairs(both, min_cosine=0.95).collect()}

    rows = sorted(both.collect(), key=lambda r: r.vec_id)
    ids = np.array([r.vec_id for r in rows])
    M = np.array([r.embedding for r in rows])
    Mn = M / np.linalg.norm(M, axis=1, keepdims=True)
    cos = Mn @ Mn.T
    iu = np.triu_indices(len(ids), k=1)
    strict = {(int(ids[i]), int(ids[j]))
              for i, j in zip(*iu) if cos[i, j] >= 0.95 + 1e-9}
    loose = {(int(ids[i]), int(ids[j]))
             for i, j in zip(*iu) if cos[i, j] >= 0.95 - 1e-9}
    assert strict <= got <= loose  # boundary pairs decided by exact expr


def test_tile_count_bounds_tile_memory():
    from logstash_integration_jdbc_spark.operators.dedup import _tile_count

    assert _tile_count(100, 8192) == 1
    assert _tile_count(8192, 8192) == 1
    assert _tile_count(8193, 8192) == 2
    assert _tile_count(1_000_000, 8192) == 123
    assert _tile_count(0, 8192) == 1
    # at 1M×768-d float64, 123 blocks → ≤ ~2*8192*768*8B ≈ 100 MB per
    # kernel group — executor-safe regardless of corpus size
    # parallelism floor: a small corpus must still fan out enough
    # tile-pair groups to keep the cluster busy (B(B+1)/2 >= P)...
    assert _tile_count(10_000, 8192, min_parallelism=32) == 8
    # ...but the memory bound wins when it is already larger
    assert _tile_count(1_000_000, 8192, min_parallelism=32) == 123
    # and B never exceeds the row count (one-row tiles at minimum)
    assert _tile_count(5, 8192, min_parallelism=32) == 5


def test_exact_cosine_pairs_small_tiles_identical(spark, sf_dir):
    """Forcing many tiny tiles (tile-pair replication path under real
    multi-block traffic) must not change the exact answer."""
    from logstash_integration_jdbc_spark.operators.dedup import exact_cosine_pairs

    emb = spark.read.parquet(f"{sf_dir('sf0.001')}/embeddings.parquet").withColumn(
        "embedding", F.col("embedding").cast("array<double>")
    ).select("vec_id", "embedding")
    pert = emb.select(
        (F.col("vec_id") + 100_000).alias("vec_id"),
        F.transform(
            "embedding",
            lambda x, i: x * F.when(i % 2 == 0, F.lit(1.35)).otherwise(F.lit(0.65)),
        ).alias("embedding"),
    )
    both = emb.unionByName(pert)
    base = {(r.id_a, r.id_b, round(r.cosine, 12)) for r in
            exact_cosine_pairs(both, min_cosine=0.95, n_blocks=1).collect()}
    tiled = {(r.id_a, r.id_b, round(r.cosine, 12)) for r in
             exact_cosine_pairs(both, min_cosine=0.95,
                                target_tile_rows=40).collect()}
    assert tiled == base and base


def test_exact_dedup_normalized_collapses_reformatted_copies(spark):
    from logstash_integration_jdbc_spark.operators.dedup import (
        exact_dedup,
        exact_dedup_normalized,
    )

    df = spark.createDataFrame(
        [(1, "Hello,   World!"), (2, "hello world"), (3, "HELLO WORLD."),
         (4, "goodbye world"), (5, "hello worlds")],
        "doc_id long, text string",
    )
    plain = {r.doc_id for r in exact_dedup(df).collect()}
    norm = {r.doc_id for r in exact_dedup_normalized(df).collect()}
    assert plain == {1, 2, 3, 4, 5}   # byte-distinct → sha2 keeps all
    assert norm == {1, 4, 5}          # 1≡2≡3 under normalization, min id wins


def test_gram_hashes_preserve_shingle_set_relations(spark, sf_dir):
    """The staged token/gram hash form must induce the same shingle-SET
    structure as the reference shingle_hashes: equal set sizes per doc
    and equal pairwise intersection sizes (what jaccard consumes)."""
    from itertools import combinations

    from logstash_integration_jdbc_spark.operators.dedup import (
        gram_hashes,
        shingle_hashes,
        token_hashes,
    )

    docs = spark.read.parquet(f"{sf_dir('sf0.001')}/documents.parquet").limit(30)
    ref = {r.doc_id: set(r.s) for r in docs.select(
        "doc_id", shingle_hashes(F.col("text")).alias("s")).collect()}
    fast = {r.doc_id: set(r.s) for r in docs.select(
        "doc_id", "text", token_hashes(F.col("text")).alias("th"))
        .select("doc_id", gram_hashes(F.col("th"), F.col("text")).alias("s"))
        .collect()}
    assert set(ref) == set(fast)
    for d in ref:
        assert len(ref[d]) == len(fast[d])
    for a, b in combinations(sorted(ref), 2):
        assert len(ref[a] & ref[b]) == len(fast[a] & fast[b])


def test_minhash_band_buckets_shape(docs):
    from logstash_integration_jdbc_spark.operators.dedup import (
        minhash_band_buckets,
    )

    bk = minhash_band_buckets(docs, num_hashes=64, bands=16)
    assert bk.columns == ["doc_id", "__band", "__bucket"]
    n_docs = docs.count()
    assert bk.count() == n_docs * 16
    # exact duplicates share every band bucket
    rows = bk.filter(F.col("doc_id").isin(0, 1)).collect()
    by_band: dict = {}
    for r in rows:
        by_band.setdefault(r["__band"], set()).add(r["__bucket"])
    assert all(len(v) == 1 for v in by_band.values())


def test_dedup_components_chains_and_cliques(spark):
    from logstash_integration_jdbc_spark.operators.dedup import (
        dedup_components,
    )

    pairs = spark.createDataFrame(
        [(1, 2), (2, 3),            # chain → component 1
         (10, 11), (10, 12), (11, 12),  # clique → component 10
         (20, 21)],                 # pair → component 20
        "id_a bigint, id_b bigint",
    )
    comps = {r.id: r.component for r in dedup_components(pairs).collect()}
    assert comps == {1: 1, 2: 1, 3: 1, 10: 10, 11: 10, 12: 10, 20: 20, 21: 20}


def test_dedup_components_convergence_guard(spark):
    import pytest as _pytest

    from logstash_integration_jdbc_spark.operators.dedup import (
        dedup_components,
    )

    chain = spark.createDataFrame(
        [(i, i + 1) for i in range(12)], "id_a bigint, id_b bigint")
    with _pytest.raises(RuntimeError, match="converge"):
        dedup_components(chain, max_iter=3)
    comps = {r.id: r.component for r in
             dedup_components(chain, max_iter=15).collect()}
    assert set(comps.values()) == {0} and len(comps) == 13


def test_keep_representatives_end_to_end(spark):
    from logstash_integration_jdbc_spark.operators.dedup import (
        keep_representatives,
        minhash_lsh_candidates,
    )

    docs = spark.createDataFrame(
        [(1, "the quick brown fox jumps over the lazy dog today ok"),
         (2, "the quick brown fox jumps over the lazy dog today ok"),
         (3, "the quick brown fox jumps over the lazy dog today eh"),
         (9, "completely different text with no shared shingles at all")],
        "doc_id bigint, text string",
    )
    pairs = minhash_lsh_candidates(docs).filter(F.col("jaccard") >= 0.7)
    kept = sorted(r.doc_id for r in
                  keep_representatives(docs, pairs).collect())
    # 1,2,3 form one near-dup component → min id 1 survives; 9 untouched
    assert kept == [1, 9]


# -- exact-substring duplication ------------------------------------------

def test_substring_pairs_winnowing_guarantee(spark):
    """A shared exact run of >= min_tokens+window-1 tokens MUST pair;
    documents with no shared min_tokens-run must not."""
    from logstash_integration_jdbc_spark.operators.dedup import (
        substring_dup_pairs,
    )

    run = " ".join(f"tok{i}" for i in range(13))  # 13 = 10 + 4 - 1
    docs = spark.createDataFrame(
        [(1, f"alpha beta {run} gamma"),
         (2, f"{run} delta epsilon zeta"),
         (3, "totally different words " + " ".join(f"x{i}" for i in range(20))),
         (4, "short doc")],
        "doc_id bigint, text string",
    )
    got = {(r.id_a, r.id_b) for r in
           substring_dup_pairs(docs, min_tokens=10, window=4).collect()}
    assert (1, 2) in got
    assert all(3 not in p and 4 not in p for p in got)


def test_substring_pairs_matches_python_twin(spark):
    """Operator output equals an independent pure-Python winnowing
    replay (xxh64 long-chain twin verified against Spark separately)."""
    from logstash_integration_jdbc_spark.functions.xxhash import (
        spark_ws_tokens,
        spark_xxhash64_longs,
        xxh64_str,
    )
    from logstash_integration_jdbc_spark.operators.dedup import (
        substring_dup_pairs,
    )

    L, W = 5, 3
    texts = {
        1: "a b c d e f g h i j",
        2: "z z a b c d e f g h q",      # shares run "a..h" (8 >= L+W-1)
        3: "a b c d e q r s t u",        # shares only a 5-run with 1
        4: "one two three four",          # < L tokens: no grams
        5: "m n o p q r s",
    }

    def anchors(text):
        th = [xxh64_str(t) for t in spark_ws_tokens(text)]
        if len(th) < L:
            return set()
        g = [spark_xxhash64_longs(th[i:i + L]) for i in range(len(th) - L + 1)]
        if len(g) < W:
            return {min(g)}
        return {min(g[j:j + W]) for j in range(len(g) - W + 1)}

    expected = {}
    ids = sorted(texts)
    for i, a in enumerate(ids):
        for b in ids[i + 1:]:
            n = len(anchors(texts[a]) & anchors(texts[b]))
            if n:
                expected[(a, b)] = n
    df = spark.createDataFrame(list(texts.items()), "doc_id bigint, text string")
    got = {(r.id_a, r.id_b): r.n_shared_anchors for r in
           substring_dup_pairs(df, min_tokens=L, window=W).collect()}
    assert got == expected and (1, 2) in got


def test_winnow_anchor_density(spark):
    """Anchors per doc ~ 2/(window+1) of gram positions — the exchange
    volume claim in the docstring."""
    import random

    from logstash_integration_jdbc_spark.operators.dedup import winnow_anchors

    rng = random.Random(9)
    text = " ".join(str(rng.randrange(10**6)) for _ in range(500))
    df = spark.createDataFrame([(1, text)], "doc_id bigint, text string")
    n = winnow_anchors(df, min_tokens=10, window=8).count()
    grams = 500 - 9
    assert 0.1 < n / grams < 0.4  # theory: 2/9 ≈ 0.22


def test_substring_pairs_validation(spark):
    import pytest as _pytest

    from logstash_integration_jdbc_spark.operators.dedup import winnow_anchors

    df = spark.createDataFrame([(1, "x")], "doc_id bigint, text string")
    with _pytest.raises(ValueError):
        winnow_anchors(df, min_tokens=1)
    with _pytest.raises(ValueError):
        winnow_anchors(df, window=0)


def test_band_bucket_is_numeric_hash_of_band_slice(docs, spark):
    """r6 optimization pin: the band bucket is xxhash64 over the band's
    signature values as BIGINTs (no string concat). Equal band slices
    must keep hashing equal, and the value must match the JVM xxhash64
    of the same longs."""
    from logstash_integration_jdbc_spark.operators.dedup import (
        _shingled,
        _texts,
        minhash_band_buckets,
        minhash_signature_udf,
    )

    sig = (_shingled(_texts(docs, "doc_id", "text"), "doc_id", "text", 3)
           .withColumn("__sig", minhash_signature_udf(64)(F.col("__sh")))
           .select("doc_id", "__sig"))
    expected = sig.select(
        "doc_id",
        *[F.xxhash64(*[F.col("__sig")[b * 4 + r] for r in range(4)]).alias(f"b{b}")
          for b in range(16)]).collect()
    got = {(r["doc_id"], r["__band"]): r["__bucket"]
           for r in minhash_band_buckets(docs, num_hashes=64, bands=16).collect()}
    for row in expected:
        for b in range(16):
            assert got[(row["doc_id"], b)] == row[f"b{b}"]


def test_spread_skips_repartition_when_already_parallel(spark):
    from logstash_integration_jdbc_spark.operators.skew import spread

    n = spark.sparkContext.defaultParallelism
    wide = spark.range(0, 10000, numPartitions=n).select(
        F.col("id").alias("doc_id"), F.lit("t").alias("text"))
    narrow = spark.range(0, 10000, numPartitions=1).select(
        F.col("id").alias("doc_id"), F.lit("t").alias("text"))
    assert "Exchange" not in spread(wide, "doc_id")._jdf.queryExecution(
    ).executedPlan().toString()
    assert spread(narrow, "doc_id").rdd.getNumPartitions() == n


def test_band_bucket_udf_evaluated_once(docs, spark):
    # guide §4.4 regression pin: the fused bucket UDF must appear as
    # exactly ONE ArrowEvalPython node — the optimizer once duplicated
    # it below the spread exchange with the shingle pipeline inlined
    # (O(words²) interpreted evaluation, 5× slower at 1M docs).
    from logstash_integration_jdbc_spark.operators.dedup import (
        minhash_band_buckets,
    )

    plan = minhash_band_buckets(docs, num_hashes=64, bands=16)._jdf \
        .queryExecution().executedPlan().toString()
    assert plan.count("ArrowEvalPython") == 1


def test_winnow_kernel_matches_window_reference(spark, sf_dir):
    # r6: winnow_anchors moved to a fused Arrow kernel; it must produce
    # exactly the window/sort reference's (id, anchor) set — including
    # short docs (no grams), few-gram docs (single min), dup anchors.
    from logstash_integration_jdbc_spark.operators.dedup import (
        winnow_anchors,
        winnow_anchors_expr,
    )

    docs = spark.read.parquet(f"{sf_dir('sf0.01')}/documents.parquet")
    texts = [(200001, "short doc"), (200002, " ".join(["tok"] * 10)),
             (200003, " ".join(f"w{i}" for i in range(11))),
             (200004, " ".join(f"w{i % 3}" for i in range(40))),
             (200005, None), (200006, "")]
    extra = spark.createDataFrame(texts, "doc_id long, text string")
    both = docs.select("doc_id", "text").unionByName(extra)

    def anchors(fn, df, **kw):
        return {(r["doc_id"], r["__anchor"]) for r in fn(df, **kw).collect()}

    got = anchors(winnow_anchors, both)
    assert got == anchors(winnow_anchors_expr, both) and len(got) > 0
    # window > min_tokens: adjacent docs with 1..window-1 grams share a
    # kernel batch, and each one's single anchor must come from its own
    # grams, never from the next doc's
    short = spark.createDataFrame(
        [(i, f"p{i} q{i}" if i % 3 else f"a{i} b{i} c{i}") for i in range(40)]
        + [(40, None), (41, "")], "doc_id long, text string")
    got = anchors(winnow_anchors, short, min_tokens=2, window=4)
    assert got == anchors(winnow_anchors_expr, short, min_tokens=2, window=4)
    assert len(got) == 40
