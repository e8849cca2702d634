"""Deduplication operators for large-scale training-data pipelines.

Not in the reference (it has no dedup); required first-class components
for the 100 TB training-data story. Exact dedup and shingling are pure
Catalyst expressions (codegen, no Python); the MinHash band and winnow
kernels are numpy-vectorized Arrow pandas UDFs.

Scale design notes:
- exact dedup shuffles on a 256-bit digest of the text, never the text
  itself — shuffle payload is O(rows·32B) regardless of document size;
- MinHash+LSH: shingle sets, signatures and band buckets are computed
  map-side and materialized once; the band-bucket exchange carries
  rows×bands short rows, one-member buckets drop out before the member
  aggregate, and the exact-Jaccard verify joins candidate pairs to the
  materialized shingle sets — the classic near-linear near-dup pipeline
  (Broder minhash + banding as in the Mining of Massive Datasets
  formulation);
- all hash "randomness" is fixed-coefficient universal hashing
  (a_i·h+b_i mod p) so results are deterministic across runs/clusters.
"""

from __future__ import annotations

import functools

import numpy as np
import pandas as pd
from pyspark.sql import Column, DataFrame, Window
from pyspark.sql import functions as F
from pyspark.sql.functions import pandas_udf

from logstash_integration_jdbc_spark.operators.skew import spread

# Mersenne prime 2^31-1: with 31-bit coefficients and 31-bit-folded
# shingle hashes, a·h+b < 2^62 stays exact in BIGINT (no silent wrap).
_P = (1 << 31) - 1


def _perm_coeffs(n: int, seed: int = 7) -> list[tuple[int, int]]:
    """Deterministic (a, b) pairs for n universal hash permutations."""
    coeffs = []
    x = seed
    for _ in range(n):
        x = (x * 6364136223846793005 + 1442695040888963407) % (1 << 63)
        a = (x % (_P - 1)) + 1
        x = (x * 6364136223846793005 + 1442695040888963407) % (1 << 63)
        b = x % _P
        coeffs.append((a, b))
    return coeffs


# -- exact ----------------------------------------------------------------

def exact_dedup(df: DataFrame, text_col: str = "text", id_col: str = "doc_id",
                keep: str = "min") -> DataFrame:
    """Keep one representative row per distinct text (hash-grouped).

    Representative = min (default) or max id — deterministic. Returns the
    full rows of the representatives.
    """
    h = F.sha2(F.col(text_col), 256).alias("__h")
    agg = F.min if keep == "min" else F.max
    reps = df.select(h, F.col(id_col)).groupBy("__h").agg(agg(id_col).alias(id_col))
    return df.join(reps.select(id_col), id_col, "left_semi")


def dup_groups(df: DataFrame, text_col: str = "text", id_col: str = "doc_id") -> DataFrame:
    """Exact-dup clusters: (rep_id, n_dups) for groups with >1 member."""
    return (
        df.select(F.sha2(F.col(text_col), 256).alias("__h"), F.col(id_col))
        .groupBy("__h")
        .agg(F.min(id_col).alias("rep_id"), F.count(F.lit(1)).alias("n_dups"))
        .filter(F.col("n_dups") > 1)
        .drop("__h")
    )


def normalize_text_expr(text: Column) -> Column:
    """Canonical form for near-exact dedup: lowercase, strip punctuation,
    collapse whitespace runs. Catches the trivially-reformatted copies
    (case, smart spacing, trailing punctuation) that exact sha2 dedup
    misses while staying a deterministic map-side expression."""
    t = F.lower(text)
    t = F.regexp_replace(t, r"[^\w\s]", "")
    t = F.regexp_replace(t, r"\s+", " ")
    return F.trim(t)


def exact_dedup_normalized(df: DataFrame, text_col: str = "text",
                           id_col: str = "doc_id", keep: str = "min") -> DataFrame:
    """Keep one representative per NORMALIZED-text group.

    Same digest-grouped plan as ``exact_dedup`` (shuffles 32-byte
    sha2 digests, never text) over ``normalize_text_expr``.
    """
    h = F.sha2(normalize_text_expr(F.col(text_col)), 256).alias("__h")
    agg = F.min if keep == "min" else F.max
    reps = df.select(h, F.col(id_col)).groupBy("__h").agg(agg(id_col).alias(id_col))
    return df.join(reps.select(id_col), id_col, "left_semi")


# -- shingling ------------------------------------------------------------

def shingle_hashes(text_col: Column, n: int = 3) -> Column:
    """Distinct 64-bit hashes of word n-gram shingles (JVM-side).

    words → sliding n-grams (concat_ws of slices) → xxhash64 → distinct.
    Semantic reference form; the minhash pipeline uses the staged
    ``token_hashes`` + ``gram_hashes`` pair below, measured ~8× faster
    (higher-order functions evaluate interpreted, and slice+concat_ws
    re-copies O(n) strings per gram where the staged form combines three
    already-computed int64 token hashes).
    """
    words = F.split(F.trim(F.lower(text_col)), r"\s+")
    k = F.greatest(F.size(words) - F.lit(n - 1), F.lit(0))
    grams = F.transform(
        F.sequence(F.lit(1), k),
        lambda i: F.xxhash64(F.concat_ws(" ", F.slice(words, i, n))),
    )
    # fewer than n words → fall back to hashing the whole text as one shingle
    grams = F.when(k > 0, grams).otherwise(F.array(F.xxhash64(text_col)))
    return F.array_distinct(grams)


def token_hashes(text_col: Column) -> Column:
    """xxhash64 per whitespace token (same tokenization as
    ``shingle_hashes``)."""
    return F.transform(
        F.split(F.trim(F.lower(text_col)), r"\s+"), lambda w: F.xxhash64(w)
    )


def gram_hashes(th_col: Column, text_col: Column, n: int = 3) -> Column:
    """Distinct n-gram shingle hashes from PRE-MATERIALIZED token hashes:
    gram hash = xxhash64 over the n consecutive token hashes.

    Hash values differ from ``shingle_hashes`` (hash-of-hashes vs
    hash-of-string), but every shingle-SET relation (equality, jaccard)
    is preserved modulo 64-bit collisions — which is all minhash/LSH
    consumes. ``th_col`` MUST reference a materialized column (a prior
    select/withColumn), not an inline expression: interpreted
    higher-order evaluation would recompute the token-hash array once
    per element, turning O(words) into O(words²).
    """
    k = F.greatest(F.size(th_col) - F.lit(n - 1), F.lit(0))
    grams = F.transform(
        F.sequence(F.lit(1), k),
        lambda i: F.xxhash64(*[F.element_at(th_col, i + F.lit(j))
                               for j in range(n)]),
    )
    grams = F.when(k > 0, grams).otherwise(F.array(F.xxhash64(text_col)))
    # the SET: the Jaccard verify needs it, and the minhash signature
    # (a min) is the same over the set as over the multiset
    return F.array_distinct(grams)


# -- MinHash + LSH ---------------------------------------------------------

def minhash_signature(shingles: Column, num_hashes: int = 64) -> Column:
    """num_hashes-wide minhash signature as array<bigint> (expression form).

    Each permutation i: min over shingles of (a_i·h + b_i) mod P, with h
    first folded into [0, P). Pure `transform`+`array_min` expressions —
    zero Python, but higher-order functions evaluate *interpreted* (no
    whole-stage codegen), so this form is ~50× slower than the Arrow UDF
    below. Kept as the semantic reference; production path is
    `minhash_signature_udf` (identical output, tested in test_dedup).
    """
    def perm(a: int, b: int):
        return lambda h: (F.pmod(h, F.lit(_P)) * F.lit(a) + F.lit(b)) % F.lit(_P)

    sigs = [
        F.array_min(F.transform(shingles, perm(a, b)))
        for a, b in _perm_coeffs(num_hashes)
    ]
    return F.array(*sigs)


# -- numpy kernel core (shared by the Arrow UDFs below) ---------------------

# XXH64 primes (uint64 wraparound arithmetic throughout)
_X1 = np.uint64(11400714785074694791)
_X2 = np.uint64(14029467366897019727)
_X3 = np.uint64(1609587929392839161)
_X4 = np.uint64(9650029242287828579)
_X5 = np.uint64(2870177450012600261)


def _rotl(x, r: int):
    r = np.uint64(r)
    return (x << r) | (x >> (np.uint64(64) - r))


def _xxh64_long(k, seed):
    """Spark's ``XXH64.hashLong`` vectorized: the XXH64 of each value of
    ``k`` (a LongType, 8 little-endian bytes) under the matching running
    seed of ``seed`` (uint64). Chaining it from seed 42 over several
    columns reproduces ``F.xxhash64(c1, c2, …)`` — parity pinned in
    test_xxhash / test_dedup."""
    with np.errstate(over="ignore"):
        k = k.astype(np.uint64, copy=False)
        h = seed + _X5 + np.uint64(8)
        h = h ^ (_rotl(k * _X2, 31) * _X1)
        h = _rotl(h, 27) * _X1 + _X4
        h ^= h >> np.uint64(33)
        h *= _X2
        h ^= h >> np.uint64(29)
        h *= _X3
        h ^= h >> np.uint64(32)
    return h


def _flatten(batch: pd.Series):
    """Ragged array batch → ``(nz, flat, starts)``: the mask of non-null,
    non-empty rows, those rows concatenated as one int64 vector, and each
    one's start offset in it (``flat``/``starts`` are None when no row is
    non-empty). Empty rows are masked out, not kept as zero-length
    segments: in ``reduceat`` a zero-length segment would alias the next
    row's first value (or raise on a trailing empty row)."""
    lens = np.fromiter((0 if x is None else len(x) for x in batch),
                       dtype=np.int64, count=len(batch))
    nz = lens > 0
    if not nz.any():
        return nz, None, None
    flat = np.concatenate(
        [np.asarray(x, dtype=np.int64) for x in batch if x is not None and len(x)]
    )
    starts = np.zeros(int(nz.sum()), dtype=np.int64)
    np.cumsum(lens[nz][:-1], out=starts[1:])
    return nz, flat, starts


def _scatter(rows, nz, fill) -> pd.Series:
    """Per-row UDF output: the j-th entry of ``rows`` for the j-th
    non-empty row of the batch, ``fill`` for every other row."""
    out = [fill] * len(nz)
    for j, i in enumerate(np.flatnonzero(nz)):
        out[i] = rows[j]
    return pd.Series(out, dtype=object)


def _signatures(flat, starts, A, B):
    """(rows × num_hashes) minhash matrix: for permutation k, the
    segment-min of ``((h mod P)·A[k] + B[k]) mod P`` over each row's
    shingle hashes. h < 2^31 and A[k] < 2^31 keep the product exact in
    int64; memory stays O(total shingles) — one pass per permutation,
    never a (total × num_hashes) matrix."""
    hm = flat % _P  # numpy % matches pmod (non-negative) for positive divisor
    out = np.empty((len(starts), len(A)), dtype=np.int64)
    # NOTE (r6): a Mersenne-fold replacement for `% _P` was benchmarked
    # and REVERTED — the loop is memory-bandwidth bound (3 passes over
    # the flat vector per permutation), so trading one modulo pass for
    # four cheap passes measured ~10% SLOWER. Kept as the minimal-pass
    # form.
    for k in range(len(A)):
        out[:, k] = np.minimum.reduceat((hm * A[k] + B[k]) % _P, starts)
    return out


def _perm_arrays(num_hashes: int):
    coeffs = _perm_coeffs(num_hashes)
    return (np.array([a for a, _ in coeffs], dtype=np.int64),
            np.array([b for _, b in coeffs], dtype=np.int64))


@functools.lru_cache(maxsize=None)
def minhash_signature_udf(num_hashes: int = 64):
    """Arrow pandas UDF computing the SAME signature as
    `minhash_signature`, numpy-vectorized across the whole batch.

    The batch's shingle arrays are flattened once; per permutation k we
    compute (h·a_k + b_k) mod P over the flat vector and segment-min with
    `np.minimum.reduceat` — O(total_shingles) per permutation with no
    Python-level row loop. Null/empty shingle arrays → [null]*num_hashes,
    matching the expression form (array_min over an empty/null
    transform).
    """
    A, B = _perm_arrays(num_hashes)

    @pandas_udf("array<bigint>")
    def _sig(sh: pd.Series) -> pd.Series:
        nz, flat, starts = _flatten(sh)
        rows = _signatures(flat, starts, A, B) if flat is not None else ()
        return _scatter(rows, nz, [None] * num_hashes)

    return _sig


@functools.lru_cache(maxsize=None)
def minhash_band_bucket_udf(num_hashes: int = 64, bands: int = 16):
    """Arrow pandas UDF: shingle-hash array → per-band LSH bucket keys.

    Fuses ``minhash_signature_udf`` with the band hashing (guide §4.1:
    control what crosses the Python boundary): the (rows × num_hashes)
    signature matrix stays numpy-local and only ``bands`` bucket longs
    per doc return over Arrow — ¼ of the bytes at 64/16. The bucket
    value is SPARK-PARITY ``xxhash64`` over the band's signature values
    as BIGINTs — the chained 8-byte XXH64 (running seed from 42) that
    ``F.xxhash64(sig[i], ..., sig[i+r-1])`` computes; parity is pinned
    against the JVM expression in test_dedup. Rows with null/empty
    shingles emit the all-null-input value (the seed, 42) for every
    band, matching the JVM's skip-null fold over an all-null signature.
    """
    A, B = _perm_arrays(num_hashes)
    r = num_hashes // bands

    @pandas_udf("array<bigint>")
    def _buckets(sh: pd.Series) -> pd.Series:
        nz, flat, starts = _flatten(sh)
        rows = ()
        if flat is not None:
            sig = _signatures(flat, starts, A, B)
            rows = np.empty((len(starts), bands), dtype=np.int64)
            for b in range(bands):
                h = np.full(len(starts), 42, dtype=np.uint64)
                for k in range(b * r, (b + 1) * r):
                    h = _xxh64_long(sig[:, k], h)
                rows[:, b] = h.astype(np.int64)
        return _scatter(rows, nz, [42] * bands)

    # Optimizer fence (guide §4.4): without this, the plan duplicates
    # the ArrowEvalPython below the spread exchange with the WHOLE
    # shingle pipeline inlined into the UDF argument — the inlined
    # higher-order form re-evaluates the token-hash array per element
    # (O(words²), the exact trap the gram_hashes docstring documents)
    # and ran 5× slower at 1M docs. The function is semantically
    # deterministic; the flag only blocks re-ordering/duplication.
    return _buckets.asNondeterministic()


def _texts(df: DataFrame, id_col: str, text_col: str) -> DataFrame:
    """Null-safe (id, text) projection, spread across all cores
    (``skew.spread``) — the shingle/signature stages must not run in the
    source's 1-2 file-partitions (measured ~70% slower at sf0.1). The
    spread is decided on ``df``, whose RDD PySpark caches, not on a
    fresh projection; column pruning still moves the projection below
    the exchange."""
    return spread(df, id_col).select(
        F.col(id_col), F.coalesce(F.col(text_col), F.lit("")).alias(text_col))


def _shingled(src: DataFrame, id_col: str, text_col: str,
              n_shingle: int) -> DataFrame:
    """(id, __sh) via the staged token-hash → gram-hash form (~8× faster
    than the reference shingle_hashes; see gram_hashes docstring). The
    intermediate select MATERIALIZES __th — required, not style."""
    return (
        src.select(F.col(id_col), F.col(text_col),
                   token_hashes(F.col(text_col)).alias("__th"))
        .select(F.col(id_col),
                gram_hashes(F.col("__th"), F.col(text_col), n_shingle).alias("__sh"))
    )


def _bucket_pairs(df: DataFrame, keys: list[str], members: Column) -> DataFrame:
    """Ordered member pairs from every bucket of ``df`` grouped by
    ``keys``: the bucket columns plus ``__a`` < ``__b`` for each pair of
    entries of the sorted ``members`` aggregate, over buckets of more
    than one member.

    The shared pair emitter of the LSH-style operators (minhash bands,
    winnow anchors, sketch probes): ONE shuffle on the bucket key, each
    member's signature computed once (vs a self-join evaluating it per
    side), pairs emitted by posexplode + slice-explode of the sorted
    member list. A degenerate bucket of B members (e.g.
    boilerplate docs) yields O(B²) pairs; exact-dedup upstream is the
    intended guard.
    """
    return (
        df.groupBy(*keys)
        .agg(F.sort_array(members).alias("__ms"))
        .filter(F.size("__ms") > 1)
        .select(*keys, F.posexplode("__ms").alias("__i", "__a"), F.col("__ms"))
        .select(*keys, "__a",
                F.explode(F.expr("slice(__ms, __i + 2, size(__ms))")).alias("__b"))
    )


def _band_frame(df: DataFrame, id_col: str, text_col: str, n_shingle: int,
                num_hashes: int, bands: int) -> DataFrame:
    """(id, __sh, __bk): each doc's distinct shingle set and its per-band
    LSH keys, from one shingling pass."""
    # Band key = xxhash64 over the band's signature values as BIGINTs,
    # computed INSIDE the Arrow kernel (minhash_band_bucket_udf): the
    # r5 concat_ws form stringified all num_hashes values and
    # string-hashed per band (measured +3.1 s of the 1M-doc 5.4 s
    # pre-exchange wall); the fused numeric form also returns only
    # ``bands`` longs per doc over Arrow instead of the full signature.
    # Equal band slices still hash equal, so no true candidate is ever
    # lost; hash collisions only ADD candidates, which the
    # exact-jaccard verify filters — downstream ≥-threshold outputs are
    # unchanged (verified vs brute-force jaccard at sf0.01/sf0.1).
    return _shingled(_texts(df, id_col, text_col), id_col, text_col,
                     n_shingle).withColumn(
        "__bk", minhash_band_bucket_udf(num_hashes, bands)(F.col("__sh")))


def _band_rows(frame: DataFrame, id_col: str) -> DataFrame:
    return frame.select(id_col, F.posexplode("__bk").alias("__band", "__bucket"))


def _shared_buckets(df: DataFrame, keys: list[str]) -> DataFrame:
    """``df`` without the rows that are alone in their ``keys`` bucket.

    For ``_bucket_pairs`` inputs whose buckets are nearly all singletons
    (minhash bands, winnow anchors): the window count shares the
    emitter's exchange, and the partial ``collect_list``/``collect_set``
    would otherwise hold every bucket key and fall back to sorting past
    ``spark.sql.objectHashAggregate.sortBased.fallbackThreshold`` keys
    per task — the light/heavy-key split of skewed hash joins. Not for
    the sketch probes, whose (chunk, 8-bit value) buckets are almost
    never singletons, so the window only adds a sort (measured about
    2.5% slower on ``embedding_near_dups_scalable`` at sf0.1, local[4]).
    """
    return (
        df.withColumn("__n", F.count(F.lit(1)).over(Window.partitionBy(*keys)))
        .filter(F.col("__n") > 1)
        .drop("__n")
    )


def minhash_band_buckets(
    df: DataFrame,
    id_col: str = "doc_id",
    text_col: str = "text",
    n_shingle: int = 3,
    num_hashes: int = 64,
    bands: int = 16,
) -> DataFrame:
    """(id, __band, __bucket) LSH band keys — one row per (doc, band).

    Built on the same band frame as ``minhash_lsh_candidates``; public
    so diagnostics (e.g. the bench's bucket-size histogram, the first
    thing to inspect when a corpus degenerates the banding) can reuse
    the exact production lineage.
    """
    return _band_rows(
        _band_frame(df, id_col, text_col, n_shingle, num_hashes, bands), id_col)


def minhash_lsh_candidates(
    df: DataFrame,
    id_col: str = "doc_id",
    text_col: str = "text",
    n_shingle: int = 3,
    num_hashes: int = 64,
    bands: int = 16,
) -> DataFrame:
    """Candidate near-dup pairs (id_a < id_b) via LSH banding.

    bands×rows = num_hashes; a pair is a candidate iff some band's rows
    agree exactly. Returns (id_a, id_b, jaccard) with exact shingle
    jaccard verified (so downstream filters by threshold; no false
    positives survive).
    """
    # Each doc is shingled once, and its shingle set and band keys are
    # materialized once: the bucket→pair exchange reads the band keys
    # and both verify joins read the shingle sets, so nothing upstream
    # (the spread, the interpreted shingling, the Python band kernel)
    # runs twice. localCheckpoint (not persist) because its RDD blocks
    # are reclaimed by the ContextCleaner when the DataFrame is
    # dropped, whereas CacheManager entries from persist() accumulate
    # across calls until an explicit unpersist the lazy API gives
    # callers no natural point to issue.
    docs = _band_frame(df, id_col, text_col, n_shingle, num_hashes,
                       bands).localCheckpoint(eager=True)
    keys = ["__band", "__bucket"]
    cand = (
        _bucket_pairs(_shared_buckets(_band_rows(docs, id_col), keys), keys,
                      F.collect_list(id_col))
        .select(F.col("__a").alias("id_a"), F.col("__b").alias("id_b"))
        .distinct()
    )
    sh = docs.select(id_col, "__sh")
    return (
        cand.join(sh.withColumnsRenamed({id_col: "id_a", "__sh": "__sh_a"}), "id_a")
        .join(sh.withColumnsRenamed({id_col: "id_b", "__sh": "__sh_b"}), "id_b")
        .withColumn(
            "jaccard",
            F.size(F.array_intersect("__sh_a", "__sh_b"))
            / F.size(F.array_union("__sh_a", "__sh_b")),
        )
        .select("id_a", "id_b", "jaccard")
    )


# -- exact-substring duplication (winnowed anchors) ------------------------

@functools.lru_cache(maxsize=None)
def winnow_anchor_udf(min_tokens: int = 10, window: int = 4):
    """Arrow pandas UDF: token-hash array → distinct winnow anchors.

    The fused form of ``winnow_anchors_expr`` (guide §1.2 step 2 /
    §4.2): positional gram hashes are the Spark-parity chained XXH64
    over ``min_tokens`` consecutive token hashes (the exact values
    ``xxhash64(t, lead(t,1), …)`` computes — same vectorized kernel as
    ``minhash_band_bucket_udf``, parity pinned in test_xxhash /
    test_dedup), the winnow minimum is a shifted ``np.minimum`` ladder
    over the batch-flattened gram vector with INT64_MAX sentinels at
    the min_tokens−1 invalid tail positions of each doc (full windows
    never reach past them), the single anchor of a doc with fewer than
    ``window`` grams is the segment-min over that doc alone, and per-doc
    anchors deduplicate with ``np.unique``. Replaces one 40×
    token-exploded sort + three window passes + a dropDuplicates
    exchange with a map-only kernel.
    """
    L, W = min_tokens, window
    _MAX = np.int64(np.iinfo(np.int64).max)

    @pandas_udf("array<bigint>")
    def _anchors(th: pd.Series) -> pd.Series:
        nz, flat, starts = _flatten(th)
        if flat is None:
            return _scatter((), nz, [])
        N = len(flat)
        nzlens = np.diff(starts, append=N)
        # positional gram hashes: chained XXH64 over L consecutive
        # token hashes, one vector pass per chain step (doc tails
        # produce garbage values that the validity mask below discards)
        pad = np.concatenate([flat, np.zeros(L - 1, dtype=np.int64)]).view(np.uint64)
        h = np.full(N, 42, dtype=np.uint64)
        for j in range(L):
            h = _xxh64_long(pad[j:j + N], h)
        # gram validity: token position p of doc d is a gram iff
        # p < gc_d = len_d - L + 1; invalid positions become +inf sentinels
        pos = np.arange(N, dtype=np.int64) - np.repeat(starts, nzlens)
        doc_gc = np.maximum(nzlens - L + 1, 0)
        gc = np.repeat(doc_gc, nzlens)
        ga = np.where(pos < gc, h.astype(np.int64), _MAX)
        # winnow minimum of each W consecutive gram positions
        wpad = np.concatenate([ga, np.full(W - 1, _MAX, dtype=np.int64)])
        m = ga
        for j in range(1, W):
            m = np.minimum(m, wpad[j:j + N])
        # docs with 1..W-1 grams anchor once, on the min of all their
        # grams — taken per doc: with W > L their pos-0 window above
        # runs past the L-1 tail sentinels into the next doc's grams
        short = (doc_gc > 0) & (doc_gc < W)
        if short.any():
            m[starts[short]] = np.minimum.reduceat(ga, starts)[short]
        # anchor positions: full windows, plus the pos-0 window of short docs
        sel = (pos <= gc - W) | (np.repeat(short, nzlens) & (pos == 0))
        ends = starts + nzlens
        rows = [np.unique(m[s:e][sel[s:e]]) for s, e in zip(starts, ends)]
        return _scatter(rows, nz, [])

    # same optimizer fence as minhash_band_bucket_udf (guide §4.4)
    return _anchors.asNondeterministic()


def winnow_anchors(df: DataFrame, id_col: str = "doc_id",
                   text_col: str = "text", min_tokens: int = 10,
                   window: int = 4) -> DataFrame:
    """(id, __anchor) winnowing fingerprints for exact-substring
    detection — kernel form: JVM-side token hashing feeds
    ``winnow_anchor_udf`` (chained-XXH64 gram hashes + shifted-minimum
    winnowing + per-doc dedup, all numpy), whose anchor arrays explode
    to rows. Identical output to ``winnow_anchors_expr`` (pinned by
    test_dedup); the window/sort formulation survives there as the
    semantic reference.

    Guarantee (Schleimer/Wilkerson/Aiken winnowing): two documents
    sharing an exact token run of length ≥ ``min_tokens + window - 1``
    select at least one identical anchor; runs in
    [min_tokens, min_tokens+window-2] may or may not anchor. Anchor
    density is ~2/(window+1) of gram positions, so the pair exchange
    carries a fraction of the corpus token count. Docs shorter than
    ``min_tokens`` tokens have no gram, hence no anchors; docs with
    fewer than ``window`` grams contribute their single minimum gram.
    """
    if min_tokens < 2 or window < 1:
        raise ValueError("min_tokens must be >= 2 and window >= 1")
    return _texts(df, id_col, text_col).select(
        F.col(id_col),
        F.explode(
            winnow_anchor_udf(min_tokens, window)(token_hashes(F.col(text_col)))
        ).alias("__anchor"),
    )


def winnow_anchors_expr(df: DataFrame, id_col: str = "doc_id",
                        text_col: str = "text", min_tokens: int = 10,
                        window: int = 4) -> DataFrame:
    """Window/sort reference formulation of ``winnow_anchors``.

    Plan notes (kept for the record): NO higher-order functions — an
    array formulation (transform over sequence + array_min of slices)
    was measured 40× slower end-to-end because projection collapse
    inlines the gram array into the window transform, re-evaluating the
    whole gram pipeline per window element (186 s → 6 s at 1000 docs).
    Token hashes posexplode once per doc; gram hash =
    ``xxhash64(t, lead(t,1), …, lead(t,L-1))``, winnow min = windowed
    ``min`` over the next ``window`` gram rows; all three window
    functions share one (id, pos) sort whose hash partition comes from
    the id repartition below — unconditional, unlike ``skew.spread``:
    skipping it would make the window sort exchange the token-EXPLODED
    rows, ~40× the text bytes.
    """
    if min_tokens < 2 or window < 1:
        raise ValueError("min_tokens must be >= 2 and window >= 1")
    L, W = min_tokens, window
    src = _texts(df, id_col, text_col).repartition(
        df.sparkSession.sparkContext.defaultParallelism, F.col(id_col))
    toks = src.select(
        F.col(id_col),
        F.posexplode(token_hashes(F.col(text_col))).alias("__pos", "__t"),
    )
    per_doc = Window.partitionBy(id_col)
    by_pos = per_doc.orderBy("__pos")
    leads = [F.col("__t")] + [F.lead("__t", j).over(by_pos)
                              for j in range(1, L)]
    grams = (
        toks
        .withColumn("__gh", F.xxhash64(*leads))
        .withColumn("__n", F.count(F.lit(1)).over(per_doc))
        # token pos 0..n-L are exactly the gram positions (0-based)
        .filter(F.col("__pos") <= F.col("__n") - L)
        .select(id_col, "__pos", "__gh")
    )
    win_min = by_pos.rowsBetween(0, W - 1)
    return (
        grams
        .withColumn("__mn", F.min("__gh").over(win_min))
        .withColumn("__gc", F.count(F.lit(1)).over(per_doc))
        # full windows only; <W grams → the pos-0 window spans them all
        .filter((F.col("__pos") <= F.col("__gc") - W)
                | ((F.col("__gc") < W) & (F.col("__pos") == 0)))
        .select(F.col(id_col), F.col("__mn").alias("__anchor"))
        .dropDuplicates([id_col, "__anchor"])
    )


def substring_dup_pairs(df: DataFrame, id_col: str = "doc_id",
                        text_col: str = "text", min_tokens: int = 10,
                        window: int = 4) -> DataFrame:
    """Document pairs (id_a < id_b, n_shared_anchors) sharing an EXACT
    token run of ≥ min_tokens tokens — the training-data substring-dedup
    primitive (the suffix-array method of Lee et al., "Deduplicating
    Training Data Makes Language Models Better", re-expressed as a
    winnowed gram-anchor join: suffix arrays don't distribute, anchor
    grouping is one bucket shuffle).

    Same bucketed pair-emission plan as minhash banding: group ids per
    anchor, emit ordered pairs per bucket, ONE exchange on the anchor
    key, then count shared anchors per pair. A shared anchor implies an
    identical min_tokens-token sequence modulo xxhash64 collisions
    (~2⁻⁶⁴ per candidate; at 100 TB add a verify join on the anchored
    token slice if bit-exactness is contractual). Degenerate anchors
    (boilerplate runs shared by B docs) emit O(B²) pairs — the same
    guard applies as minhash banding: exact-dedup upstream, and feed
    the pairs to ``dedup_components``/``keep_representatives`` to drop
    all-but-one survivor per cluster.
    """
    anch = winnow_anchors(df, id_col, text_col, min_tokens, window)
    return (
        _bucket_pairs(_shared_buckets(anch, ["__anchor"]), ["__anchor"],
                      F.collect_set(id_col))
        .groupBy(F.col("__a").alias("id_a"), F.col("__b").alias("id_b"))
        .agg(F.count(F.lit(1)).alias("n_shared_anchors"))
    )


# -- embedding near-dup -------------------------------------------------------

def _tile_count(n_rows: int, target_tile_rows: int,
                min_parallelism: int = 1) -> int:
    """Number of hash blocks B so a tile holds ≤ target_tile_rows vectors
    AND the B(B+1)/2 tile-pair groups keep ≥ min_parallelism tasks busy
    (a small corpus with the memory-bound B alone would run 3 GEMM tasks
    on a 32-core cluster). Shuffle volume is n·B, so the floor only
    raises B when the memory bound leaves cores idle — and never past
    the point of one-row tiles."""
    import math

    b_mem = math.ceil(max(n_rows, 1) / max(target_tile_rows, 1))
    # smallest B with B(B+1)/2 >= min_parallelism
    b_par = math.ceil((math.sqrt(8 * max(min_parallelism, 1) + 1) - 1) / 2)
    return max(min(max(b_mem, b_par), max(n_rows, 1)), 1)


def _cosine_verify(cand: DataFrame, df: DataFrame, id_col: str,
                   vec_col: str, min_cosine: float) -> DataFrame:
    """(id_a, id_b, cosine) for the candidate pairs in ``cand`` whose
    exact cosine (sequential JVM expression arithmetic) is ≥ min_cosine.
    Row norms are computed once per ROW and carried into the pair
    verify, so each pair costs one interpreted aggregate (the dot), not
    three — float-identical to dot/(norm(a)·norm(b)) per pair."""
    from logstash_integration_jdbc_spark.operators.similarity import (
        dot_expr,
        norm_expr,
    )

    vecs = df.select(F.col(id_col), F.col(vec_col)).withColumn(
        "__n", norm_expr(F.col(vec_col))
    )
    return (
        cand.join(vecs.withColumnsRenamed(
            {id_col: "id_a", vec_col: "__va", "__n": "__na"}), "id_a")
        .join(vecs.withColumnsRenamed(
            {id_col: "id_b", vec_col: "__vb", "__n": "__nb"}), "id_b")
        .withColumn("cosine",
                    dot_expr(F.col("__va"), F.col("__vb")) / (F.col("__na") * F.col("__nb")))
        .filter(F.col("cosine") >= min_cosine)
        .select("id_a", "id_b", "cosine")
    )


def exact_cosine_pairs(df: DataFrame, id_col: str = "vec_id",
                       vec_col: str = "embedding",
                       min_cosine: float = 0.95,
                       n_blocks: int | None = None,
                       target_tile_rows: int = 8192,
                       n_rows: int | None = None) -> DataFrame:
    """ALL pairs with cosine ≥ min_cosine — exact, tiled block-GEMM.

    Why this exists (measured, sf0.1, local[32]): real embedding corpora
    are clustered — background pairs sit at cosine ≈ 0.7-0.8, where each
    hyperplane sign bit agrees with p ≈ 0.75-0.8 vs 0.9 for a true
    0.95-pair. That thin gap makes exact-recall LSH pruning futile:
    the multi-probe chunk blocking admits ~97% of ALL pairs as
    candidates here, so "LSH + verify" degenerates into all-pairs with
    per-pair interpreted expressions (~9 s). The exact algorithm done
    right is distributed brute force:

    - rows hash into ``B = ceil(n / target_tile_rows)`` blocks, so
      TILE size — not corpus size — bounds every memory unit: no row or
      task ever holds more than ~2·target_tile_rows vectors (the
      round-2 shape collected corpus/16 vectors into ONE row — an
      executor OOM ceiling at sf10+);
    - each row replicates to its B tile-pair groups (lo ≤ hi) — the
      same n·B shuffle volume the cross-join paid, minus the giant rows;
    - an ``applyInPandas`` kernel runs one BLAS matmul per tile pair and
      emits ids with numpy-cosine ≥ min_cosine − 1e-9 (float64 matmul
      error ~1e-15, so no true pair can be lost);
    - survivors (a few hundred) re-verify with the exact sequential
      expression arithmetic, keeping the output bit-identical to a
      sequential-sum oracle.

    Quadratic by nature — at 100 TB pre-cluster the corpus and run this
    within clusters; for high thresholds (≥0.99) on less-clustered data
    ``embedding_near_dups`` prunes genuinely and scales further.

    Tile sizing: when neither ``n_blocks`` nor ``n_rows`` is given, a
    ``df.select(id_col).count()`` derives B — that is an EXTRA full
    action that recomputes the upstream lineage. If ``df`` comes from
    expensive transforms, pass ``n_rows`` (a known/estimated row count;
    B only sizes tiles, so an estimate within ~2× is fine) or persist
    the input around the call.
    """
    if n_blocks is None:
        if n_rows is None:
            n_rows = df.select(id_col).count()
        n_blocks = _tile_count(
            n_rows, target_tile_rows,
            min_parallelism=df.sparkSession.sparkContext.defaultParallelism)
    margin = min_cosine - 1e-9

    # row → B replicas, one per tile pair it participates in; its own
    # block id rides along so the kernel can split the two sides
    proj = df.select(
        F.col(id_col).alias("__id"), F.col(vec_col).alias("__v"),
        F.pmod(F.xxhash64(F.col(id_col)), F.lit(n_blocks)).alias("__b"),
    )
    # single-row-group inputs scan as one task; spread BEFORE the ×B
    # explode so the replication and shuffle write parallelize (and the
    # exchange carries 1/B of the exploded bytes).
    tiles = (
        spread(proj, "__id")
        .withColumn("__j", F.explode(F.sequence(F.lit(0), F.lit(n_blocks - 1))))
        .withColumn("__lo", F.least("__b", "__j"))
        .withColumn("__hi", F.greatest("__b", "__j"))
    )

    def kernel(key, pdf):
        import pandas as pd

        def normed(side):
            ids = side["__id"].to_numpy(dtype=np.int64)
            M = np.stack(side["__v"].map(lambda v: np.asarray(v, dtype=np.float64)))
            with np.errstate(divide="ignore", invalid="ignore"):
                M /= np.linalg.norm(M, axis=1)[:, None]  # zero-norm → nan row,
            return ids, M                                # all comparisons False

        lo, hi = key
        if lo == hi:
            ids_a, A = normed(pdf)
            ids_b, B = ids_a, A
        else:
            a_side = pdf[pdf["__b"] == lo]
            b_side = pdf[pdf["__b"] == hi]
            if a_side.empty or b_side.empty:
                return pd.DataFrame({"id_a": pd.Series(dtype="int64"),
                                     "id_b": pd.Series(dtype="int64")})
            ids_a, A = normed(a_side)
            ids_b, B = normed(b_side)
        # Rows are unit-normalized BEFORE the matmul so the kernel never
        # materializes the tile-sized np.outer(norms) + division (3 full
        # tile² arrays → memory-bandwidth thrash with one task per core;
        # measured 16-41 s/rep tails at 40k vectors), and the matmul runs
        # in row chunks to bound per-task live memory at ~chunk × tile.
        # Float error vs the divide-after form is ~1e-13, absorbed by the
        # 1e-9 margin; survivors are re-verified exactly below, so output
        # is unchanged.
        Bt = np.ascontiguousarray(B.T)
        out_a, out_b = [], []
        step = 2048
        for s in range(0, len(A), step):
            C = A[s:s + step] @ Bt
            ii, jj = np.nonzero(C >= margin)
            ii += s
            if lo == hi:
                keep = ids_a[ii] < ids_b[jj]
                ii, jj = ii[keep], jj[keep]
            out_a.append(np.minimum(ids_a[ii], ids_b[jj]))
            out_b.append(np.maximum(ids_a[ii], ids_b[jj]))
        return pd.DataFrame({
            "id_a": np.concatenate(out_a) if out_a else np.array([], dtype=np.int64),
            "id_b": np.concatenate(out_b) if out_b else np.array([], dtype=np.int64),
        })

    cand = (
        tiles.groupBy("__lo", "__hi")
        .applyInPandas(kernel, schema="id_a bigint, id_b bigint")
    )
    return _cosine_verify(cand, df, id_col, vec_col, min_cosine)


def embedding_near_dups(df: DataFrame, id_col: str = "vec_id",
                        vec_col: str = "embedding",
                        min_cosine: float = 0.95,
                        bits: int = 64, chunk_bits: int = 8) -> DataFrame:
    """Pairs with cosine ≥ min_cosine (exact verify, sketch-blocked).

    Round-1 shape (join on full 16-bit sketch equality) collapsed below
    cosine≈1: a genuine 0.95-pair agrees on each sign bit with
    p ≈ 1-acos(0.95)/π ≈ 0.9, so requiring all 16 equal keeps only
    ≈0.9^16 ≈ 18% of true pairs. Fixed with multi-probe chunk blocking:

    - 64-bit hyperplane sketch (numpy-matmul Arrow UDF, computed ONCE);
    - split into 8 chunks of 8 bits; each row lands in its exact chunk
      bucket AND every hamming-1 flip of it (8 probes per chunk);
    - a pair is a candidate iff some bucket holds one side's exact entry
      and the other side (exact or probe) — i.e. the pair has ≤1 bit
      mismatch in at least one chunk;
    - exact cosine (zip_with/aggregate, JVM) verifies candidates, so no
      false positives survive.

    Miss probability at cosine 0.95: a missed pair needs ≥2 mismatched
    bits in ALL 8 chunks → (1 - (p⁸ + 8(1-p)p⁷))⁸ ≈ 1.5e-6 at p=0.9 —
    exact vs the O(n²) oracle in practice. Candidate volume is the price
    of exactness in the hard 0.95 regime (p=0.9 vs 0.5 per bit is a thin
    gap): ~9/256 per chunk on sketch-uniform pairs. For stricter
    thresholds raise chunk_bits (0.99 → 16); at 100 TB run exact-dedup
    upstream and pre-cluster the corpus so blocks stay small —
    same degenerate-bucket caveat as minhash banding.

    Pair emission groups ids per bucket (one shuffle on the bucket key,
    sketch computed once); vectors re-join only for surviving candidates.
    """
    from logstash_integration_jdbc_spark.operators.similarity import (
        hyperplane_sketch_udf,
    )

    n_chunks = bits // chunk_bits
    mask = (1 << chunk_bits) - 1
    base = spread(df.select(F.col(id_col), F.col(vec_col)), id_col).withColumn(
        "__sk", hyperplane_sketch_udf(bits)(F.col(vec_col)))

    # entry array: per chunk, the exact value + its hamming-1 flips; the
    # full sketch rides along for the first-collision filter below
    entries = []
    for c in range(n_chunks):
        val = F.shiftrightunsigned(F.col("__sk"), c * chunk_bits).bitwiseAND(F.lit(mask))
        entries.append(F.struct(F.lit(c).alias("chunk"), val.alias("val"),
                                F.lit(True).alias("exact")))
        for b in range(chunk_bits):
            entries.append(F.struct(F.lit(c).alias("chunk"),
                                    val.bitwiseXOR(F.lit(1 << b)).alias("val"),
                                    F.lit(False).alias("exact")))
    exploded = base.select(
        F.col(id_col), F.col("__sk"), F.explode(F.array(*entries)).alias("__e")
    ).select(id_col, "__sk", "__e.chunk", "__e.val", "__e.exact")

    # Each qualifying pair is emitted EXACTLY ONCE (no distinct needed):
    # - only when the smaller-id side is the exact entry (a hamming-1
    #   pair otherwise surfaces in both members' exact-value buckets);
    # - only in the FIRST chunk where the pair is within hamming 1 (the
    #   sketches ride along, so earlier-chunk collisions are a cheap
    #   bit_count check instead of a multi-million-row distinct).
    no_prior = (
        "chunk = 0 OR NOT exists(sequence(0, chunk - 1), c -> "
        f"bit_count(shiftrightunsigned(__a.sk ^ __b.sk, CAST(c * {chunk_bits} AS INT))"
        f" & {mask}) <= 1)"
    )
    members = F.collect_list(F.struct(
        F.col(id_col).alias("id"), F.col("exact"), F.col("__sk").alias("sk")))
    cand = (
        _bucket_pairs(exploded, ["chunk", "val"], members)
        .filter(F.col("__a.exact") & F.expr(no_prior))
        .select(F.col("__a.id").alias("id_a"), F.col("__b.id").alias("id_b"))
    )
    return _cosine_verify(cand, df, id_col, vec_col, min_cosine)


def dedup_components(pairs: DataFrame, id_a: str = "id_a",
                     id_b: str = "id_b", max_iter: int = 12) -> DataFrame:
    """Connected components over near-dup PAIRS → (id, component) where
    component = the smallest id reachable from ``id``.

    The missing step between pair emission (minhash/substring/embedding
    near-dup all return pairs) and actually DROPPING duplicates: near-
    dups are transitive in practice (A≈B, B≈C ⇒ keep one of {A,B,C}),
    so the keep-set is one representative per connected component, not
    per pair.

    Algorithm: iterative min-label propagation (the standard large-
    scale CC formulation) — every node starts labeled with itself; each
    round takes the min of its own and its neighbors' labels (one join
    + one groupBy-min per round). Rounds needed = graph diameter;
    near-dup graphs are overwhelmingly tiny cliques and short chains,
    so convergence is typically 2-4 rounds — the loop checks an O(1)
    changed-count aggregate per round and stops early, raising if
    ``max_iter`` rounds don't converge (a pathology worth surfacing,
    not truncating silently). Each round shuffles only (node, label)
    pairs — never text or vectors.
    """
    edges = (
        pairs.select(F.col(id_a).alias("src"), F.col(id_b).alias("dst"))
        .unionByName(
            pairs.select(F.col(id_b).alias("src"), F.col(id_a).alias("dst")))
        .distinct()
        .persist()
    )
    cur = (
        edges.select(F.col("src").alias("id")).distinct()
        .withColumn("component", F.col("id"))
        .localCheckpoint()
    )
    try:
        for _ in range(max_iter):
            neighbor_min = (
                edges.join(cur.select(F.col("id").alias("dst"), "component"),
                           "dst")
                .groupBy("src").agg(F.min("component").alias("__nbr"))
                .withColumnRenamed("src", "id")
            )
            # localCheckpoint (eager) BOTH caches the round's result and
            # TRUNCATES its logical plan — an iterative loop that only
            # persists keeps nesting the plan tree and dies in the
            # analyzer after ~10 rounds (measured: OOM generating the
            # plan string). Checkpointed blocks are reclaimed by the
            # context cleaner once unreferenced.
            nxt = (
                cur.select("id", "component").join(neighbor_min, "id", "left")
                .select(
                    "id",
                    F.least(
                        F.col("component"),
                        F.coalesce(F.col("__nbr"), F.col("component")),
                    ).alias("component"),
                    (F.col("__nbr") < F.col("component")).alias("__chg"),
                )
            ).localCheckpoint()
            changed = nxt.agg(
                F.sum(F.when(F.col("__chg"), 1).otherwise(0))).first()[0]
            cur = nxt.select("id", "component")
            if not changed:
                return cur
        raise RuntimeError(
            f"dedup_components did not converge in {max_iter} rounds — "
            "the pair graph has an unexpectedly long chain; raise max_iter")
    finally:
        edges.unpersist()


def keep_representatives(df: DataFrame, pairs: DataFrame,
                         id_col: str = "doc_id",
                         id_a: str = "id_a", id_b: str = "id_b") -> DataFrame:
    """Drop every near-dup except the min-id representative of its
    connected component: the end-to-end "dedup the corpus" form.
    Rows never mentioned in ``pairs`` pass through untouched (an
    anti-join against the non-representative member set — the only
    full-corpus operation, and it carries bare ids)."""
    comps = dedup_components(pairs, id_a, id_b)
    losers = comps.filter(F.col("id") != F.col("component")).select(
        F.col("id").alias(id_col))
    return df.join(losers, id_col, "left_anti")
