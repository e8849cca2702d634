"""Deduplication operators: exact, MinHash+LSH, SimHash, embedding."""

from __future__ import annotations

import pytest
from pyspark.sql import functions as F

from logstash_integration_jdbc_spark.operators.dedup import (
    dup_groups,
    embedding_near_dups,
    exact_dedup,
    minhash_lsh_candidates,
    ngram_jaccard_pairs,
    simhash,
    simhash_near_dups,
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


def test_ngram_jaccard_threshold(docs):
    hits = ngram_jaccard_pairs(docs, threshold=0.99)
    assert {(r.id_a, r.id_b) for r in hits.collect()} == {(0, 1)}


def test_simhash_identical_and_near(docs):
    sh = {r.doc_id: r.simhash for r in simhash(docs).collect()}
    assert sh[0] == sh[1]
    pairs = {(r.id_a, r.id_b): r.hamming for r in
             simhash_near_dups(docs, max_hamming=10).collect()}
    assert pairs[(0, 1)] == 0
    assert (0, 2) in pairs and 0 < pairs[(0, 2)] <= 10
    assert (3, 4) not in pairs


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


def test_dedup_on_real_documents(spark):
    docs = spark.read.parquet("/root/testdata/sf0.001/documents.parquet")
    # duplicate the table with shifted ids → every doc has one exact dup
    shifted = docs.withColumn("doc_id", F.col("doc_id") + 1_000_000)
    both = docs.unionByName(shifted)
    kept = exact_dedup(both)
    assert kept.count() == docs.count()
    assert kept.agg(F.max("doc_id")).first()[0] < 1_000_000  # min-id wins


def test_signature_udf_matches_expression_form(spark):
    """The Arrow-UDF signature must equal the pure-expression reference."""
    from logstash_integration_jdbc_spark.operators.dedup import (
        minhash_signature,
        minhash_signature_udf,
        shingle_hashes,
    )

    docs = spark.read.parquet("/root/testdata/sf0.001/documents.parquet").limit(50)
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


def test_embedding_near_dup_recall_on_true_near_pairs(spark):
    """Recall bound on genuinely-near (NOT identical) pairs: perturb the
    real embeddings (even dims ×1.35, odd ×0.65 → cosine ≈ 0.94-0.96) and
    compare against the exact numpy O(n²) answer. Round-1's full-sketch-
    equality blocking kept only ~18% of 0.95-pairs; the multi-probe chunk
    blocking must achieve ≥0.95 recall (in practice 1.0 on this corpus)."""
    import numpy as np

    from logstash_integration_jdbc_spark.operators.dedup import embedding_near_dups

    emb = spark.read.parquet("/root/testdata/sf0.001/embeddings.parquet").withColumn(
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


def test_exact_cosine_pairs_equals_numpy(spark):
    """Block-GEMM exact pairs must equal the numpy O(n²) answer exactly
    (not just recall-bounded like the LSH-probe variant)."""
    import numpy as np

    from logstash_integration_jdbc_spark.operators.dedup import exact_cosine_pairs

    emb = spark.read.parquet("/root/testdata/sf0.001/embeddings.parquet").withColumn(
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


def test_exact_cosine_pairs_small_tiles_identical(spark):
    """Forcing many tiny tiles (tile-pair replication path under real
    multi-block traffic) must not change the exact answer."""
    from logstash_integration_jdbc_spark.operators.dedup import exact_cosine_pairs

    emb = spark.read.parquet("/root/testdata/sf0.001/embeddings.parquet").withColumn(
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


def test_gram_hashes_preserve_shingle_set_relations(spark):
    """The staged token/gram hash form must induce the same shingle-SET
    structure as the reference shingle_hashes: equal set sizes per doc
    and equal pairwise intersection sizes (what jaccard consumes)."""
    from itertools import combinations

    from logstash_integration_jdbc_spark.operators.dedup import (
        gram_hashes,
        shingle_hashes,
        token_hashes,
    )

    docs = spark.read.parquet("/root/testdata/sf0.001/documents.parquet").limit(30)
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


def test_contamination_pairs(spark):
    from logstash_integration_jdbc_spark.operators.dedup import (
        contamination_pairs,
    )

    corpus = spark.createDataFrame(
        [
            (1, "the quick brown fox jumps over the lazy dog today"),
            (2, "a quick brown fox jumps over the lazy cat instead"),
            (3, "completely different words nothing shared at all here now"),
            (10, "the quick brown fox jumps over the lazy dog today"),
        ],
        "doc_id bigint, text string",
    )
    bench = corpus.filter(F.col("doc_id") == 10)
    got = {(r.corpus_id, r.bench_id): r.n_overlap for r in
           contamination_pairs(corpus, bench, n_shingle=3,
                               min_overlap=2).collect()}
    # doc 1 is identical to bench 10: all 8 trigrams overlap
    assert got[(1, 10)] == 8
    # doc 2 shares the middle trigrams but not 2+; compute: shared
    # trigrams of "quick brown fox jumps over the lazy" region
    assert got[(2, 10)] >= 2
    assert (3, 10) not in got
    assert (10, 10) not in got  # self-pair excluded


def test_contamination_benchmark_broadcast_plan(spark):
    from logstash_integration_jdbc_spark.operators.dedup import (
        contamination_pairs,
    )

    corpus = spark.read.parquet("/root/testdata/sf0.001/documents.parquet")
    bench = corpus.filter(F.col("doc_id") % 50 == 0)
    plan = contamination_pairs(corpus, bench)._jdf.queryExecution().executedPlan().toString()
    assert "BroadcastHashJoin" in plan


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


def test_dedup_against_index_finds_cross_dups(spark):
    from logstash_integration_jdbc_spark.operators.dedup import (
        build_minhash_index,
        dedup_against_index,
        novel_in_batch,
    )

    base = ("the quick brown fox jumps over the lazy dog while the cat "
            "watches from the warm windowsill in the afternoon sun")
    hist_rows = [(i, f"history document number {i} " + base) for i in range(20)]
    # batch: 100 duplicates history doc 3's text exactly; 101 is novel
    batch_rows = [
        (100, "history document number 3 " + base),
        (101, "completely different content about distributed query "
              "engines shuffling partitioned columnar data at scale"),
    ]
    hist = spark.createDataFrame(hist_rows, "doc_id bigint, text string")
    batch = spark.createDataFrame(batch_rows, "doc_id bigint, text string")
    index = build_minhash_index(hist)
    pairs = dedup_against_index(batch, index, hist)
    strong = {(r.new_id, r.index_id) for r in pairs.collect()
              if r.jaccard >= 0.8}
    assert (100, 3) in strong
    assert not any(n == 101 for n, _ in strong)
    exact = [r for r in pairs.collect() if (r.new_id, r.index_id) == (100, 3)]
    assert exact[0].jaccard == 1.0
    # accept set: only the novel doc survives
    kept = novel_in_batch(batch, index, hist, threshold=0.8)
    assert [r.doc_id for r in kept.collect()] == [101]


def test_dedup_against_index_matches_full_lsh(spark):
    # probing batch-vs-index must find exactly the cross pairs the
    # monolithic LSH over the union finds (same banding)
    from logstash_integration_jdbc_spark.operators.dedup import (
        build_minhash_index,
        dedup_against_index,
        minhash_lsh_candidates,
    )

    docs = spark.read.parquet(
        "/root/testdata/sf0.001/documents.parquet").select("doc_id", "text")
    batch = docs.where(F.col("doc_id") % 5 == 0)
    hist = docs.where(F.col("doc_id") % 5 != 0)
    got = {(r.new_id, r.index_id)
           for r in dedup_against_index(
               batch, build_minhash_index(hist), hist).collect()
           if r.jaccard >= 0.8}
    full = minhash_lsh_candidates(docs).where(F.col("jaccard") >= 0.8)
    want = set()
    for r in full.collect():
        a_new, b_new = r.id_a % 5 == 0, r.id_b % 5 == 0
        if a_new and not b_new:
            want.add((r.id_a, r.id_b))
        elif b_new and not a_new:
            want.add((r.id_b, r.id_a))
    assert got == want


# -- line-level corpus dedup ---------------------------------------------

def _line_docs(spark):
    rows = [
        (1, "COOKIE BANNER\nalpha unique one\nNAV FOOTER"),
        (2, "COOKIE BANNER\nbeta unique two\nNAV FOOTER"),
        (3, "COOKIE BANNER\ngamma unique three"),
        (4, "delta all original\nepsilon also original"),
        (5, "COOKIE BANNER\nNAV FOOTER"),
    ]
    return spark.createDataFrame(rows, "doc_id long, text string")


def test_dedup_lines_removes_boilerplate_everywhere(spark):
    from logstash_integration_jdbc_spark.operators.dedup import dedup_lines

    out = {r["doc_id"]: r for r in dedup_lines(_line_docs(spark)).collect()}
    assert out[1]["text"] == "alpha unique one"
    assert out[2]["text"] == "beta unique two"
    assert out[3]["text"] == "gamma unique three"
    assert out[4]["text"] == "delta all original\nepsilon also original"
    # fully-boilerplate doc survives as an empty string, not a dropped row
    assert out[5]["text"] == ""
    assert [out[i]["n_lines_removed"] for i in (1, 2, 3, 4, 5)] == [2, 2, 1, 0, 2]


def test_dedup_lines_min_dup_docs_threshold(spark):
    from logstash_integration_jdbc_spark.operators.dedup import dedup_lines

    # NAV FOOTER appears in 3 docs, COOKIE BANNER in 4: at min_dup_docs=4
    # only the banner goes
    out = {r["doc_id"]: r["text"]
           for r in dedup_lines(_line_docs(spark), min_dup_docs=4).collect()}
    assert out[1] == "alpha unique one\nNAV FOOTER"
    assert out[5] == "NAV FOOTER"


def test_dedup_lines_short_line_exemption(spark):
    from logstash_integration_jdbc_spark.operators.dedup import dedup_lines

    rows = [(1, "ok\nlong shared boilerplate line"),
            (2, "ok\nlong shared boilerplate line"),
            (3, "ok\nunique text")]
    df = spark.createDataFrame(rows, "doc_id long, text string")
    out = {r["doc_id"]: r["text"]
           for r in dedup_lines(df, min_line_chars=5).collect()}
    # "ok" is shared by all three but under min_line_chars → kept
    assert out[1] == "ok"
    assert out[3] == "ok\nunique text"


def test_dedup_lines_preserves_order_and_empty_lines(spark):
    from logstash_integration_jdbc_spark.operators.dedup import dedup_lines

    rows = [(1, "a unique\n\nSHARED LINE\nz tail"),
            (2, "SHARED LINE\nother body")]
    df = spark.createDataFrame(rows, "doc_id long, text string")
    out = {r["doc_id"]: r["text"] for r in dedup_lines(df).collect()}
    # empty line (below min_line_chars=1) is preserved in place
    assert out[1] == "a unique\n\nz tail"
    assert out[2] == "other body"


def test_duplicated_lines_counts_distinct_docs(spark):
    from logstash_integration_jdbc_spark.operators.dedup import duplicated_lines

    # the repeated line within ONE doc must not count as cross-doc dup
    rows = [(1, "same line\nsame line"), (2, "other")]
    df = spark.createDataFrame(rows, "doc_id long, text string")
    assert duplicated_lines(df).count() == 0


def test_dedup_lines_custom_delimiter(spark):
    from logstash_integration_jdbc_spark.operators.dedup import dedup_lines

    rows = [(1, "shared seg | mine"), (2, "shared seg | yours")]
    df = spark.createDataFrame(rows, "doc_id long, text string")
    out = {r["doc_id"]: r["text"]
           for r in dedup_lines(df, delimiter=" | ").collect()}
    assert out[1] == "mine" and out[2] == "yours"


# -- semantic dedup (SemDeDup) -------------------------------------------

def _sem_vectors():
    import numpy as np

    rng = np.random.RandomState(11)
    base = rng.randn(20, 16)
    rows = [(i, base[i].tolist()) for i in range(20)]
    # near-copies of vectors 3 and 7 (tiny additive noise → cosine ≈ 1)
    for j, src in ((100, 3), (101, 7), (102, 3)):
        rows.append((j, (base[src] + 0.01 * rng.randn(16)).tolist()))
    return rows


def test_semantic_dedup_drops_higher_id_twins(spark):
    from logstash_integration_jdbc_spark.operators.dedup import semantic_dedup

    df = spark.createDataFrame(_sem_vectors(),
                               "vec_id long, embedding array<double>")
    out = semantic_dedup(df, n_clusters=4, threshold=0.95)
    kept = {r["vec_id"] for r in out.collect()}
    # all originals survive (mutual cosines are low); every near-copy
    # has a smaller-id twin in its cluster → dropped
    assert set(range(20)) <= kept
    assert kept.isdisjoint({100, 101, 102})
    assert "centroid_id" in out.columns


def test_semantic_dedup_matches_numpy_rule(spark):
    import numpy as np

    from logstash_integration_jdbc_spark.operators.dedup import semantic_dedup

    rows = _sem_vectors()
    df = spark.createDataFrame(rows, "vec_id long, embedding array<double>")
    out = semantic_dedup(df, n_clusters=4, threshold=0.95, kmeans_iters=1)
    got = {(r["vec_id"], r["centroid_id"]) for r in out.collect()}

    # independent twin: assignment by cosine argmax over the same
    # deterministic centroids (4 smallest ids + 1 Lloyd step), then the
    # smaller-id-neighbor drop rule per cluster
    ids = [r[0] for r in rows]
    V = np.array([r[1] for r in rows], dtype=np.float64)
    Vn = V / np.linalg.norm(V, axis=1, keepdims=True)
    C = V[:4].copy()
    for _ in range(1):
        sims = Vn @ (C / np.linalg.norm(C, axis=1, keepdims=True)).T
        best = np.argmax(sims, axis=1)
        C = np.array([V[best == c].mean(axis=0) if (best == c).any()
                      else C[c] for c in range(4)])
    sims = Vn @ (C / np.linalg.norm(C, axis=1, keepdims=True)).T
    best = np.argmax(sims, axis=1)
    S = Vn @ Vn.T
    want = set()
    for i, vid in enumerate(ids):
        drop = any(S[i, j] >= 0.95 and ids[j] < vid
                   for j in range(len(ids)) if best[j] == best[i])
        if not drop:
            want.add((vid, ids[best[i]]))
    assert got == want


def test_semantic_dedup_cluster_guard(spark):
    import pytest as _pytest

    from logstash_integration_jdbc_spark.operators.dedup import semantic_dedup

    df = spark.createDataFrame(_sem_vectors(),
                               "vec_id long, embedding array<double>")
    with _pytest.raises(Exception, match="max_cluster_rows"):
        semantic_dedup(df, n_clusters=1, max_cluster_rows=5).collect()


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


def test_winnow_kernel_matches_window_reference(spark):
    # r6: winnow_anchors moved to a fused Arrow kernel; it must produce
    # exactly the window/sort reference's (id, anchor) set — including
    # short docs (no grams), few-gram docs (single min), dup anchors.
    from logstash_integration_jdbc_spark.operators.dedup import (
        winnow_anchors,
        winnow_anchors_expr,
    )

    docs = spark.read.parquet("/root/testdata/sf0.01/documents.parquet")
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
