"""Trainable BPE tokenizer (Sennrich et al. 2016, arXiv:1508.07909).

Not in the reference (no tokenizer there); a first-class LLM-pipeline
component: token budgets, sequence packing, and dedup-by-token-span all
want a REAL learned subword vocabulary, not the regex piece estimate
(`textstats.bpe_ish_token_count`). This is the standard byte-pair-
encoding recipe re-expressed for Spark's execution model.

Scale design (how sentencepiece/HF actually train, made distributed):
- the corpus-sized work is ONE ``groupBy(word).count()`` exchange —
  BPE training never needs the documents, only the word-frequency
  table, and natural-language vocabulary grows ~O(corpus^0.5) (Heaps'
  law), so the collected table is MB-scale even at 100 TB of text;
  ``max_vocab_rows`` raises rather than OOMing the driver, and
  ``min_word_count`` bounds it further (hapaxes don't move merges);
- the merge loop itself is inherently sequential (merge k+1 depends on
  k) and runs driver-side over the bounded word-freq dict with
  incremental pair-count maintenance — NOT a Spark job per merge,
  which would be thousands of barrier rounds of pure overhead;
- encoding broadcasts the merge-rank table (``num_merges`` entries)
  and runs as ONE Arrow-batched map pass; words repeat heavily in real
  text, so the kernel memoizes per-word encodings per batch (Zipf
  makes the hit rate ~95%+) and only the cache-miss tail pays the
  greedy merge walk;
- determinism: ties in pair frequency break on the lexicographically
  smallest pair, so the learned merge list — and therefore every
  encoded corpus — is independent of partitioning and cluster size.

Pre-tokenization matches ``textstats.tokens_expr`` (whitespace words of
the lowercased text) so token budgets line up across the suite; each
word ends with the explicit ``</w>`` end-of-word symbol (the original
Sennrich formulation), so "low" as a word and "low" as a prefix learn
different merges.
"""

from __future__ import annotations

from typing import Iterable, Iterator

import pandas as pd
from pyspark.sql import Column, DataFrame, SparkSession
from pyspark.sql import functions as F
from pyspark.sql.types import ArrayType, StringType

from .textstats import tokens_expr

EOW = "</w>"


# ---------------------------------------------------------------------------
# training
# ---------------------------------------------------------------------------

def word_counts(df: DataFrame, text_col: str = "text") -> DataFrame:
    """(word, count) over whitespace-lowercase pre-tokenization — the
    single corpus-sized aggregation BPE training needs."""
    return (
        df.select(F.explode(tokens_expr(F.col(text_col))).alias("word"))
        .groupBy("word").agg(F.count(F.lit(1)).alias("count"))
    )


def _word_symbols(word: str) -> tuple[str, ...]:
    return tuple(word) + (EOW,)


def train_bpe_from_counts(counts: Iterable[tuple[str, int]],
                          num_merges: int) -> list[tuple[str, str]]:
    """The sequential merge loop over a (word, count) table.

    Classic BPE with incremental pair-count maintenance: pair counts
    are built once, then each merge only touches the words that
    contain the merged pair (tracked in an inverted index), so a round
    costs O(affected words), not O(vocab).
    """
    vocab: dict[tuple[str, ...], int] = {}
    for word, n in counts:
        if word:
            vocab[_word_symbols(word)] = vocab.get(_word_symbols(word), 0) + int(n)

    pair_counts: dict[tuple[str, str], int] = {}
    pair_words: dict[tuple[str, str], set[tuple[str, ...]]] = {}
    for syms, n in vocab.items():
        for i in range(len(syms) - 1):
            p = (syms[i], syms[i + 1])
            pair_counts[p] = pair_counts.get(p, 0) + n
            pair_words.setdefault(p, set()).add(syms)

    def _account(syms: tuple[str, ...], n: int) -> None:
        for i in range(len(syms) - 1):
            p = (syms[i], syms[i + 1])
            new = pair_counts.get(p, 0) + n
            if new:
                pair_counts[p] = new
            else:
                pair_counts.pop(p, None)
            if n > 0:
                pair_words.setdefault(p, set()).add(syms)

    def _merge_word(syms: tuple[str, ...], pair: tuple[str, str],
                    joined: str) -> tuple[str, ...]:
        out: list[str] = []
        i = 0
        while i < len(syms):
            if i < len(syms) - 1 and (syms[i], syms[i + 1]) == pair:
                out.append(joined)
                i += 2
            else:
                out.append(syms[i])
                i += 1
        return tuple(out)

    merges: list[tuple[str, str]] = []
    for _ in range(num_merges):
        best = None
        for p, n in pair_counts.items():
            if n <= 0:
                continue
            if best is None or n > best[0] or (n == best[0] and p < best[1]):
                best = (n, p)
        if best is None:
            break
        pair = best[1]
        joined = pair[0] + pair[1]
        merges.append(pair)
        for syms in list(pair_words.get(pair, ())):
            n = vocab.pop(syms, 0)
            if not n:
                continue
            _account(syms, -n)
            new_syms = _merge_word(syms, pair, joined)
            vocab[new_syms] = vocab.get(new_syms, 0) + n
            _account(new_syms, n)
        pair_words.pop(pair, None)
    return merges


def train_bpe(df: DataFrame, num_merges: int, text_col: str = "text",
              min_word_count: int = 1,
              max_vocab_rows: int = 2_000_000) -> list[tuple[str, str]]:
    """Distributed word counting + driver-side merge learning.

    Raises if the (floored) word-frequency table exceeds
    ``max_vocab_rows`` — raise ``min_word_count`` instead of OOMing.
    """
    wc = word_counts(df, text_col)
    if min_word_count > 1:
        wc = wc.where(F.col("count") >= min_word_count)
    n = wc.count()
    if n > max_vocab_rows:
        raise ValueError(
            f"word-frequency table has {n} rows > max_vocab_rows="
            f"{max_vocab_rows}; raise min_word_count (hapaxes never "
            "move merges) or max_vocab_rows")
    rows = wc.collect()
    # sort for a partitioning-independent iteration order (ties in the
    # merge loop already break lexicographically, but dict insertion
    # order should not depend on task scheduling either)
    rows.sort(key=lambda r: r["word"])
    return train_bpe_from_counts(((r["word"], r["count"]) for r in rows),
                                 num_merges)


def merges_df(spark: SparkSession, merges: list[tuple[str, str]]) -> DataFrame:
    """Persistable (rank, left, right) form of a learned merge list."""
    return spark.createDataFrame(
        [(i, a, b) for i, (a, b) in enumerate(merges)],
        "rank int, left string, right string")


def load_merges(df: DataFrame) -> list[tuple[str, str]]:
    rows = df.select("rank", "left", "right").collect()
    rows.sort(key=lambda r: r["rank"])
    return [(r["left"], r["right"]) for r in rows]


# ---------------------------------------------------------------------------
# encoding
# ---------------------------------------------------------------------------

def encode_word(word: str, ranks: dict[tuple[str, str], int]) -> list[str]:
    """Greedy lowest-rank-first merging of one word (the HF/GPT-2
    apply algorithm: earlier-learned merges win, repeatedly)."""
    syms = list(_word_symbols(word))
    while len(syms) > 1:
        best_rank = None
        best_i = -1
        for i in range(len(syms) - 1):
            r = ranks.get((syms[i], syms[i + 1]))
            if r is not None and (best_rank is None or r < best_rank):
                best_rank, best_i = r, i
        if best_rank is None:
            break
        pair = (syms[best_i], syms[best_i + 1])
        joined = pair[0] + pair[1]
        out: list[str] = []
        i = 0
        while i < len(syms):
            if i < len(syms) - 1 and (syms[i], syms[i + 1]) == pair:
                out.append(joined)
                i += 2
            else:
                out.append(syms[i])
                i += 1
        syms = out
    return syms


def encode_text(text: str, ranks: dict[tuple[str, str], int],
                cache: dict[str, list[str]] | None = None) -> list[str]:
    """Tokenization parity matters: this must split words exactly like
    ``tokens_expr`` (Java ``\\s`` is ASCII-only; Python ``str.split``
    also breaks on \\x1c-\\x1f and Unicode spaces) — uses the pinned
    ``spark_ws_tokens`` twin so counts line up with training."""
    from ..functions.xxhash import spark_ws_tokens

    if text is None:
        return []
    out: list[str] = []
    if cache is None:
        cache = {}
    for word in spark_ws_tokens(text):
        if not word:
            continue
        enc = cache.get(word)
        if enc is None:
            enc = encode_word(word, ranks)
            cache[word] = enc
        out.extend(enc)
    return out


def bpe_encode(df: DataFrame, merges: list[tuple[str, str]],
               text_col: str = "text",
               out_col: str = "bpe_tokens") -> DataFrame:
    """Encode a corpus with a learned merge list — one Arrow-batched
    map pass, per-TASK word memoization (iterator form, guide §4.5:
    the cache persists across every batch in a partition; Zipf ⇒ the
    long tail still hits after the first few batches)."""
    ranks = {pair: i for i, pair in enumerate(merges)}

    @F.pandas_udf(ArrayType(StringType()))
    def _encode(batches: Iterator[pd.Series]) -> Iterator[pd.Series]:
        cache: dict[str, list[str]] = {}
        for s in batches:
            yield s.map(lambda t: encode_text(t, ranks, cache))

    return df.withColumn(out_col, _encode(F.col(text_col)))


def bpe_token_count(df: DataFrame, merges: list[tuple[str, str]],
                    text_col: str = "text",
                    out_col: str = "bpe_len") -> DataFrame:
    """Learned-vocabulary token counts.

    Count-only kernel: per word it memoizes len(encode_word(...)) and
    returns one long per row — the token STRINGS are never concatenated
    into per-row arrays nor shipped back over Arrow (guide §4.1: control
    how many bytes cross the boundary). Values are by construction
    size(bpe_encode(...)), pinned by test_bpe."""
    ranks = {pair: i for i, pair in enumerate(merges)}

    @F.pandas_udf("long")
    def _count(batches: Iterator[pd.Series]) -> Iterator[pd.Series]:
        from ..functions.xxhash import spark_ws_tokens

        cache: dict[str, int] = {}

        def doc_len(text) -> int:
            if text is None:
                return 0
            total = 0
            for word in spark_ws_tokens(text):
                if not word:
                    continue
                n = cache.get(word)
                if n is None:
                    n = len(encode_word(word, ranks))
                    cache[word] = n
                total += n
            return total

        for s in batches:
            yield s.map(doc_len)

    return df.withColumn(out_col, _count(F.col(text_col)))
