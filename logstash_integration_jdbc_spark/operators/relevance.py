"""Corpus relevance scoring and document chunking for training-data
curation: TF-IDF weights, BM25 keyword retrieval, global term
statistics, and overlapping token-window chunking.

Everything is pure Catalyst expressions — tokenize/explode/groupBy/
join — with no Python in the hot path. Scale shape:

- ``tf_idf`` / ``bm25_topk``: one explode (map-side, fused with the
  scan), one ``groupBy(doc, term)`` with map-side partial aggregation,
  one ``groupBy(term)`` for document frequency (cardinality = vocab,
  orders of magnitude below corpus rows), and a broadcast join of the
  per-term stats back onto postings. Corpus size N and average doc
  length arrive via a broadcast single-row aggregate — the plan stays
  fully lazy, nothing collects on the driver.
- ``bm25_topk`` additionally prunes postings to the query's terms
  BEFORE the groupBy (predicate pushed below the exchange), so the
  shuffle carries only postings matching the query vocabulary — at
  100 TB the exchange is proportional to matching postings, not corpus.
- ``chunk_documents``: map-only — ``sequence``/``posexplode``/``slice``
  per row, no shuffle at all; chunk output partitioning inherits the
  scan's.

Reference provenance: the reference has no retrieval surface (it is a
JDBC ingest plugin); these are the corpus-side operators that sit
between ingest (``sources/scan.py``) and dedup (``operators/dedup.py``)
— keyword-driven subset selection, quality-by-relevance filtering, and
fixed-token-window chunking.
"""

from __future__ import annotations

from pyspark.sql import DataFrame
from pyspark.sql import functions as F

from .textstats import tokens_expr

__all__ = [
    "postings",
    "term_stats",
    "tf_idf",
    "bm25_topk",
    "top_terms",
    "chunk_documents",
    "add_rank",
    "rrf_fuse",
]


def postings(df: DataFrame, id_col: str = "doc_id",
             text_col: str = "text") -> DataFrame:
    """(id, term, tf, dl) postings list for the whitespace tokenizer.

    One explode + one combiner-friendly groupBy; ``dl`` (doc length in
    tokens) rides along via ``first`` so no second scan is needed.
    """
    toks = tokens_expr(F.col(text_col))
    exploded = df.select(
        F.col(id_col), F.size(toks).alias("dl"),
        F.explode(toks).alias("term"),
    )
    return (exploded.groupBy(id_col, "term")
            .agg(F.count(F.lit(1)).alias("tf"), F.first("dl").alias("dl")))


def term_stats(post: DataFrame, id_col: str = "doc_id") -> DataFrame:
    """Per-term document frequency over a postings list."""
    return post.groupBy("term").agg(
        F.countDistinct(id_col).alias("df"))


def tf_idf(df: DataFrame, id_col: str = "doc_id",
           text_col: str = "text") -> DataFrame:
    """Classic ln-smoothed TF-IDF weight per (doc, term).

    ``idf = ln((1 + N) / (1 + df)) + 1`` (sklearn's smooth variant),
    ``weight = tf * idf``. N arrives as a broadcast one-row aggregate;
    term stats broadcast onto the postings (vocab ≪ corpus).
    """
    post = postings(df, id_col, text_col)
    n_docs = df.select(F.count(F.lit(1)).alias("n_docs"))
    stats = term_stats(post, id_col)
    return (post
            .join(F.broadcast(stats), "term")
            .crossJoin(F.broadcast(n_docs))
            .select(
                F.col(id_col), F.col("term"), F.col("tf"), F.col("df"),
                (F.col("tf") *
                 (F.log((1.0 + F.col("n_docs")) / (1.0 + F.col("df"))) + 1.0)
                 ).alias("weight")))


def bm25_topk(df: DataFrame, query_terms: list[str], k: int = 10,
              k1: float = 1.2, b: float = 0.75, id_col: str = "doc_id",
              text_col: str = "text", round_to: int | None = 6,
              ) -> DataFrame:
    """Top-k documents for a bag-of-terms query under Okapi BM25.

    ``idf(t) = ln(1 + (N - df + 0.5) / (df + 0.5))`` (the standard
    non-negative variant); per-term contribution
    ``idf * tf*(k1+1) / (tf + k1*(1 - b + b*dl/avgdl))``.

    Plan: postings are filtered to ``query_terms`` BEFORE the
    (doc, term) aggregation, so the exchange carries only matching
    postings. df/N/avgdl are computed over the FULL corpus (one
    scan via the shared tokenize, vocab-sized and one-row aggregates,
    both broadcast). Ranking rounds the score first (stable across
    engines/libm) and breaks ties on the id; the final top-k is a
    global sort of the per-doc scores — at scale Spark executes it as
    a TakeOrdered over partial per-partition top-k, no full sort.
    """
    if not query_terms:
        raise ValueError("bm25_topk: query_terms must be non-empty")
    toks = tokens_expr(F.col(text_col))
    exploded = df.select(
        F.col(id_col), F.size(toks).alias("dl"), F.explode(toks).alias("term"))
    # Full-corpus stats (df over all terms restricted to query vocab is
    # identical to df computed per query term — filter first, it's cheaper).
    q = [t.lower() for t in query_terms]
    matched = exploded.where(F.col("term").isin(q))
    post = (matched.groupBy(id_col, "term")
            .agg(F.count(F.lit(1)).alias("tf"), F.first("dl").alias("dl")))
    stats = post.groupBy("term").agg(F.countDistinct(id_col).alias("df"))
    corpus = df.select(
        F.count(F.lit(1)).alias("n_docs"),
        F.avg(F.size(tokens_expr(F.col(text_col)))).alias("avgdl"))
    idf = F.log(1.0 + (F.col("n_docs") - F.col("df") + 0.5)
                / (F.col("df") + 0.5))
    denom = F.col("tf") + k1 * (1.0 - b + b * F.col("dl") / F.col("avgdl"))
    contrib = idf * (F.col("tf") * (k1 + 1.0)) / denom
    scored = (post
              .join(F.broadcast(stats), "term")
              .crossJoin(F.broadcast(corpus))
              .groupBy(id_col)
              .agg(F.sum(contrib).alias("score")))
    score = (F.round(F.col("score"), round_to)
             if round_to is not None else F.col("score"))
    out = scored.select(F.col(id_col), score.alias("score"))
    return (out.orderBy(F.col("score").desc(), F.col(id_col)).limit(k))


def top_terms(df: DataFrame, k: int = 20, id_col: str = "doc_id",
              text_col: str = "text", min_len: int = 1) -> DataFrame:
    """Global heavy hitters: top-k terms by total occurrences.

    One explode + one term-key groupBy (map-side combined); the top-k
    is a TakeOrdered, never a full sort. ``min_len`` drops sub-length
    noise tokens. Ties break lexicographically for determinism.
    """
    toks = tokens_expr(F.col(text_col))
    return (df.select(F.explode(toks).alias("term"))
            .where(F.length("term") >= min_len)
            .groupBy("term")
            .agg(F.count(F.lit(1)).alias("n"))
            .orderBy(F.col("n").desc(), F.col("term"))
            .limit(k))


def chunk_documents(df: DataFrame, chunk_size: int, overlap: int = 0,
                    id_col: str = "doc_id", text_col: str = "text",
                    ) -> DataFrame:
    """Split each document into overlapping ``chunk_size``-token
    windows (stride ``chunk_size - overlap``), the standard pre-packing
    transform for long-document training corpora.

    Output: (id, chunk_idx, chunk_tokens, chunk_text). Map-only — the
    start offsets come from ``sequence``, windows from ``slice``; no
    shuffle, no UDF, chunk rows inherit the scan's partitioning. A
    trailing window that would only replay the previous chunk's
    overlap is not emitted (last start ≤ n_tokens - overlap - 1);
    every document emits at least the [0, chunk_size) chunk.
    """
    if chunk_size <= 0:
        raise ValueError("chunk_documents: chunk_size must be positive")
    if not 0 <= overlap < chunk_size:
        raise ValueError(
            "chunk_documents: need 0 <= overlap < chunk_size, got "
            f"overlap={overlap} chunk_size={chunk_size}")
    step = chunk_size - overlap
    toks = tokens_expr(F.col(text_col))
    with_starts = df.select(
        F.col(id_col), toks.alias("_toks"),
        F.sequence(
            F.lit(0),
            F.greatest(F.size(toks) - overlap - 1, F.lit(0)),
            F.lit(step)).alias("_starts"))
    chunk = F.slice(F.col("_toks"), F.col("_start") + 1, chunk_size)
    return (with_starts
            .select(F.col(id_col), F.col("_toks"),
                    F.explode("_starts").alias("_start"))
            .select(
                F.col(id_col),
                (F.col("_start") / step).cast("int").alias("chunk_idx"),
                F.size(chunk).alias("chunk_tokens"),
                F.array_join(chunk, " ").alias("chunk_text")))


def add_rank(df: DataFrame, score_col: str = "score",
             id_col: str = "doc_id", out_col: str = "rank") -> DataFrame:
    """1-based rank by descending score, id ascending on ties.

    Meant for ALREADY-BOUNDED top-k lists (the outputs of ``bm25_topk``
    / ``similarity.cosine_topk``): the global window is a single-task
    sort of k rows, which is the correct plan at that size. Ranking a
    corpus-sized frame should go through the two-phase per-partition
    top-k in ``similarity._topk_per_query`` instead — keep inputs
    k-sized.
    """
    from pyspark.sql import Window

    w = Window.orderBy(F.col(score_col).desc(), F.col(id_col).asc())
    return df.withColumn(out_col, F.row_number().over(w))


def rrf_fuse(lists: list[DataFrame], k: int = 10, c: int = 60,
             id_col: str = "doc_id", rank_col: str = "rank",
             round_to: int | None = 6) -> DataFrame:
    """Reciprocal-rank fusion (Cormack & Clarke & Buettcher, SIGIR'09):
    ``rrf(d) = Σ_lists 1 / (c + rank_list(d))`` — the standard way to
    merge a keyword (BM25) list with a dense (cosine) list without
    score calibration; ``c=60`` is the paper's constant.

    Input lists each carry (id, rank). Plan: one UNION of the k-bounded
    lists + one groupBy(id) — both tiny by construction (inputs are
    top-k outputs), so fusion adds no corpus-scale work regardless of
    corpus size. Output: (id, rrf_score, n_lists), ties broken on id.
    """
    if not lists:
        raise ValueError("rrf_fuse: need at least one ranked list")
    parts = [d.select(F.col(id_col), F.col(rank_col).cast("int").alias("__r"))
             for d in lists]
    u = parts[0]
    for p in parts[1:]:
        u = u.unionByName(p)
    score = F.sum(1.0 / (F.lit(float(c)) + F.col("__r")))
    fused = (u.groupBy(id_col)
             .agg(score.alias("rrf_score"),
                  F.count(F.lit(1)).alias("n_lists")))
    s = (F.round(F.col("rrf_score"), round_to)
         if round_to is not None else F.col("rrf_score"))
    return (fused.select(F.col(id_col), s.alias("rrf_score"), "n_lists")
            .orderBy(F.col("rrf_score").desc(), F.col(id_col))
            .limit(k))
