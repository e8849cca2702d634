"""Text analysis for training-data curation: language-ID, quality
scoring, token counting, document fingerprinting.

All pure Catalyst expressions (split/regexp/aggregate) — zero Python in
the hot path; each scales as a map-only pass over the corpus.
"""

from __future__ import annotations

import functools

from pyspark.sql import Column, DataFrame
from pyspark.sql import functions as F

# Minimal per-language stopword lists for the n-gram/stopword heuristic.
STOPWORDS: dict[str, list[str]] = {
    "en": ["the", "and", "of", "to", "a", "in", "is", "that", "it", "for"],
    "de": ["der", "die", "das", "und", "ist", "nicht", "ein", "zu", "mit", "auf"],
    "fr": ["le", "la", "les", "et", "est", "un", "une", "dans", "pour", "que"],
    "es": ["el", "la", "los", "de", "que", "y", "es", "en", "un", "por"],
}


def tokens_expr(text: Column) -> Column:
    """Whitespace tokens of the lowercased, trimmed text."""
    t = F.split(F.trim(F.lower(text)), r"\s+")
    return F.when(F.trim(text) == "", F.array().cast("array<string>")).otherwise(t)


def token_count(text: Column) -> Column:
    """Whitespace token count (the cheap tokenizer)."""
    return F.size(tokens_expr(text))


def bpe_ish_token_count(text: Column) -> Column:
    """BPE-ish token estimate: count word pieces + digits + punctuation.

    Splits on word/number/punct boundaries with a GPT-2-style regex
    approximation — a deterministic stand-in for a real tokenizer's
    piece count (useful for budget estimation at corpus scale).
    """
    pieces = F.regexp_extract_all(
        F.lower(text), F.lit(r"[a-z]+|[0-9]|[^a-z0-9\s]"), 0
    )
    return F.size(pieces)


def quality_features(df: DataFrame, text_col: str = "text") -> DataFrame:
    """Length / punctuation / stopword / word-length quality signals."""
    text = F.col(text_col)
    toks = tokens_expr(text)
    n_chars = F.length(text)
    n_tokens = F.size(toks)
    n_punct = F.length(text) - F.length(F.regexp_replace(text, r"[^\w\s]", ""))
    en_stop = F.array(*[F.lit(w) for w in STOPWORDS["en"]])
    n_stop = F.size(F.filter(toks, lambda t: F.array_contains(en_stop, t)))
    mean_wl = F.when(n_tokens > 0, (F.length(F.regexp_replace(text, r"\s+", "")) / n_tokens)).otherwise(F.lit(0.0))
    return df.withColumns({
        "n_chars_calc": n_chars.cast("bigint"),
        "n_tokens": n_tokens.cast("bigint"),
        "punct_ratio": F.round(F.when(n_chars > 0, n_punct / n_chars).otherwise(0.0), 6),
        "stopword_ratio": F.round(F.when(n_tokens > 0, n_stop / n_tokens).otherwise(0.0), 6),
        "mean_word_len": F.round(mean_wl, 6),
    })


def quality_score(df: DataFrame, text_col: str = "text",
                  min_tokens: int = 10, max_mean_word_len: float = 12.0) -> DataFrame:
    """Composite 0-1 quality score + keep/drop flag (Gopher-rule-ish).

    Rules (each contributes 0.25): enough tokens, sane mean word length,
    punctuation below 30%, some stopword signal (latin scripts).
    """
    df = quality_features(df, text_col)
    checks = [
        (F.col("n_tokens") >= min_tokens),
        (F.col("mean_word_len") > 1.0) & (F.col("mean_word_len") <= max_mean_word_len),
        (F.col("punct_ratio") < 0.3),
        (F.col("stopword_ratio") > 0.0),
    ]
    score = sum(F.when(c, 0.25).otherwise(0.0) for c in checks)
    return df.withColumn("quality", F.round(score, 2)).withColumn(
        "keep", F.col("quality") >= 0.5
    )


def lang_id(df: DataFrame, text_col: str = "text", out_col: str = "lang_pred") -> DataFrame:
    """Stopword-vote language ID with a CJK-character fast path.

    Per language: fraction of tokens in its stopword list; argmax wins
    (ties broken by language code order). Texts dominated by CJK
    codepoints short-circuit to 'zh'. Map-only, pure expressions.
    """
    text = F.col(text_col)
    toks = tokens_expr(text)
    n_tokens = F.greatest(F.size(toks), F.lit(1))
    cjk = F.length(F.regexp_replace(text, r"[^一-鿿]", ""))
    scores = []
    for lang in sorted(STOPWORDS):
        stop = F.array(*[F.lit(w) for w in STOPWORDS[lang]])
        frac = F.size(F.filter(toks, lambda t: F.array_contains(stop, t))) / n_tokens
        scores.append(F.struct(frac.alias("score"), F.lit(lang).alias("lang")))
    best = F.array_max(F.array(*scores))
    pred = (
        F.when(cjk / F.greatest(F.length(text), F.lit(1)) > 0.25, F.lit("zh"))
        .when(best["score"] > 0, best["lang"])
        .otherwise(F.lit("unknown"))
    )
    return df.withColumn(out_col, pred)


def fingerprint(df: DataFrame, text_col: str = "text",
                out_col: str = "fingerprint") -> Column | DataFrame:
    """Rolling polynomial hash over tokens (order-sensitive 64-bit).

    fp = fold(tokens, acc·1099511628211 ⊕ xxhash64(token)) — a stable
    document identity that survives re-chunking of the file layout but
    (unlike sha2 of raw text) is computed over the normalized token
    stream. Wraps modulo 2^64 (non-ANSI bigint arithmetic).
    """
    toks = tokens_expr(F.col(text_col))
    fp = F.aggregate(
        toks,
        F.lit(-3750763034362895579),  # FNV-1a 64 offset basis as signed
        lambda acc, t: acc * F.lit(1099511628211) + F.xxhash64(t),
    )
    return df.withColumn(out_col, fp)


def repetition_ratio(df: DataFrame, text_col: str = "text", n: int = 2,
                     out_col: str = "rep_ratio") -> DataFrame:
    """Within-document duplicate-n-gram ratio (quality signal).

    rep_ratio = 1 - distinct(n-grams)/total(n-grams) over whitespace
    tokens; 0 for documents with < n tokens. High values flag the
    boilerplate/looping text that dominates low-quality web and
    model-generated corpora (the duplicate-line/-n-gram family of
    Gopher/RefinedWeb filters). Pure expressions, map-only.
    """
    toks = tokens_expr(F.col(text_col))
    k = F.size(toks) - F.lit(n - 1)
    grams = F.transform(
        F.sequence(F.lit(1), F.greatest(k, F.lit(1))),
        lambda i: F.concat_ws(" ", F.slice(toks, i, n)),
    )
    ratio = F.when(
        k > 0,
        F.lit(1.0) - F.size(F.array_distinct(grams)) / k.cast("double"),
    ).otherwise(F.lit(0.0))
    return df.withColumn(out_col, F.round(ratio, 6))


# Ordered (pattern, replacement) pairs for redact_pii. RE2-compatible
# (no lookarounds) so the DuckDB oracle can run the SAME patterns;
# order matters: emails before phones (an email's digits must not be
# phone-matched), card-length digit runs before phones.
PII_PATTERNS: list[tuple[str, str]] = [
    (r"[A-Za-z0-9._%+-]+@[A-Za-z0-9.-]+\.[A-Za-z]{2,}", "<EMAIL>"),
    (r"\b(?:\d{1,3}\.){3}\d{1,3}\b", "<IP>"),
    (r"\b\d{13,19}\b", "<CARD>"),
    # \b AFTER the optional '+': a boundary cannot sit between two
    # non-word chars (space, '+'), so a leading \b would strand the '+'
    (r"\+?\b\d{1,3}[-. ]\d{3}[-. ]\d{3,4}[-. ]\d{4}\b", "<PHONE>"),
]


def redact_pii(df: DataFrame, text_col: str = "text",
               out_col: str = "text_redacted") -> DataFrame:
    """Scrub common PII shapes (emails, IPv4s, card-length digit runs,
    phone-ish numbers) into typed placeholders — the standard hygiene
    pass before a corpus feeds training.

    A chain of JVM ``regexp_replace`` calls (each replaces ALL
    occurrences): map-only, whole-stage-codegen'd, zero Python. The
    pattern list is deliberately RE2-compatible so an independent
    engine (the DuckDB oracle) replays it verbatim; it is a SHAPE
    filter, not a validator (no Luhn check, no liberal phone grammar) —
    precision-tunable by editing PII_PATTERNS.
    """
    col = F.col(text_col)
    for pat, repl in PII_PATTERNS:
        col = F.regexp_replace(col, pat, repl)
    return df.withColumn(out_col, col)


# Gopher stop-word set (Rae et al. 2021, §A1.1): a doc must contain at
# least two DISTINCT of these to pass the stop-word rule.
GOPHER_STOPWORDS: list[str] = [
    "the", "be", "to", "of", "and", "that", "have", "with",
]


def gopher_rules(df: DataFrame, text_col: str = "text",
                 min_words: int = 50, max_words: int = 100_000,
                 min_mean_wl: float = 3.0, max_mean_wl: float = 10.0,
                 max_symbol_ratio: float = 0.1,
                 max_bullet_frac: float = 0.9,
                 max_ellipsis_frac: float = 0.3,
                 min_alpha_frac: float = 0.8,
                 min_stopwords: int = 2) -> DataFrame:
    """The Gopher document-quality rules (Rae et al. 2021, §A1.1) as
    one map-only pass: per-rule boolean flags + a conjunctive
    ``gopher_keep``.

    Rules: word count in [min,max]; mean word length in [3,10];
    hash/ellipsis symbol-to-word ratio ≤ 0.1; ≤ 90% of lines start
    with a bullet; ≤ 30% of lines end with an ellipsis; ≥ 80% of words
    contain an alphabetic character; ≥ 2 distinct Gopher stop words.
    Pure Catalyst expressions (split/filter/size/regexp_count) — no
    shuffle, no Python; thresholds parametrized to retune per corpus.
    """
    text = F.col(text_col)
    toks = tokens_expr(text)
    n_words = F.size(toks)
    nf = n_words.cast("double")
    mean_wl = F.when(
        n_words > 0,
        F.length(F.regexp_replace(text, r"\s+", "")) / nf).otherwise(0.0)
    n_symbols = (F.regexp_count(text, F.lit(r"#"))
                 + F.regexp_count(text, F.lit(r"\.\.\."))
                 + F.regexp_count(text, F.lit("…")))
    symbol_ratio = F.when(n_words > 0, n_symbols / nf).otherwise(0.0)
    lines = F.split(text, r"\n")
    n_lines = F.size(lines).cast("double")
    bullet_frac = F.size(F.filter(
        lines, lambda l: F.ltrim(l).rlike(r"^([-*•])\s"))) / n_lines
    ellipsis_frac = F.size(F.filter(
        lines, lambda l: F.rtrim(l).rlike(r"(\.\.\.|…)$"))) / n_lines
    alpha_frac = F.when(
        n_words > 0,
        F.size(F.filter(toks, lambda t: t.rlike("[a-z]"))) / nf
        ).otherwise(0.0)
    stops = F.array(*[F.lit(w) for w in GOPHER_STOPWORDS])
    n_stop = F.size(F.array_intersect(F.array_distinct(toks), stops))
    flags = {
        "g_words_ok": (n_words >= min_words) & (n_words <= max_words),
        "g_mean_wl_ok": (mean_wl >= min_mean_wl) & (mean_wl <= max_mean_wl),
        "g_symbol_ok": symbol_ratio <= max_symbol_ratio,
        "g_bullet_ok": bullet_frac <= max_bullet_frac,
        "g_ellipsis_ok": ellipsis_frac <= max_ellipsis_frac,
        "g_alpha_ok": alpha_frac >= min_alpha_frac,
        "g_stop_ok": n_stop >= min_stopwords,
    }
    out = df.withColumns({
        "g_n_words": n_words.cast("bigint"),
        "g_mean_wl": F.round(mean_wl, 6),
        **flags,
    })
    keep = None
    for c in flags:
        keep = F.col(c) if keep is None else keep & F.col(c)
    return out.withColumn("gopher_keep", keep)


@functools.lru_cache(maxsize=None)
def _get_nfc_udf(form: str):
    """Arrow-batched Unicode normalizer. Normalization has no Catalyst
    expression, so this is one of the few justified Python paths (same
    class as the binary codecs): a pandas_udf over Arrow batches using
    pandas' C-implemented ``str.normalize`` — never per-row Python over
    a JVM boundary. Nulls pass through."""
    import pandas as pd  # noqa: F401
    from pyspark.sql.functions import pandas_udf

    @pandas_udf("string")
    def _nfc(s):
        return s.str.normalize(form)

    return _nfc


def normalize_unicode(df: DataFrame, text_col: str = "text",
                      out_col: str = "text_norm", form: str = "NFC",
                      strip_controls: bool = True,
                      collapse_spaces: bool = True) -> DataFrame:
    """Canonicalize text before hashing/dedup/tokenizing: Unicode
    normalization (NFC by default — composes e+◌́ → é so visually
    identical strings hash identically), control-character stripping
    (C0/DEL minus tab/newline), and space-run collapsing (runs of
    non-newline whitespace → one space; newlines preserved).

    The control/space steps are JVM ``regexp_replace`` (codegen'd,
    RE2-safe patterns so an independent engine replays them); only the
    normalization itself crosses to Python, as an Arrow-batched
    ``pandas_udf`` — there is no Catalyst Unicode-normalize expression.
    Map-only either way; at 100 TB the Arrow hop costs one
    serialize/deserialize of the text column and nothing else.
    """
    col = F.col(text_col)
    if strip_controls:
        col = F.regexp_replace(
            col, r"[\x00-\x08\x0B\x0C\x0E-\x1F\x7F]", "")
    if collapse_spaces:
        col = F.regexp_replace(col, r"[^\S\n]+", " ")
    col = _get_nfc_udf(form)(col)
    return df.withColumn(out_col, col)


def c4_rules(df: DataFrame, text_col: str = "text",
             min_sentences: int = 3, min_line_words: int = 5,
             require_terminal_punct: bool = True) -> DataFrame:
    """The C4 cleaning rules (Raffel et al. 2020, "Exploring the Limits
    of Transfer Learning…" §2.2) as one map-only pass — the
    line-level half emits a CLEANED text (C4 deletes bad lines, unlike
    Gopher's whole-document gates), the document-level half emits
    flags + a conjunctive ``c4_keep``:

    line level (kept only if): ends in terminal punctuation (. ! ? ");
    has ≥ ``min_line_words`` words; is not the cookie/javascript
    boilerplate C4 names (case-insensitive "javascript", "cookie
    policy", "terms of use", "privacy policy"). The survivors rejoin as
    ``c4_text``.

    document level (on the cleaned text): ≥ ``min_sentences`` sentences
    (terminal-punctuation count as the sentence proxy C4 uses); no
    "lorem ipsum"; no curly brace (code leak-through).

    All split/filter/rlike Catalyst expressions — no shuffle, no
    Python; thresholds parametrized. Deduplication of three-sentence
    spans (the paper's other step) is the job of the dedup operators
    (``substring_dup_pairs``), not re-implemented here.
    """
    text = F.coalesce(F.col(text_col), F.lit(""))
    lines = F.split(text, r"\n")

    def line_ok(l: Column) -> Column:
        t = F.trim(l)
        ok = F.size(F.split(t, r"\s+")) >= min_line_words
        if require_terminal_punct:
            ok = ok & t.rlike(r'[.!?"]$')
        boiler = F.lower(t).rlike(
            "(javascript|cookie policy|terms of use|privacy policy)")
        return ok & ~boiler

    kept = F.filter(lines, line_ok)
    c4_text = F.array_join(kept, "\n")
    n_sent = F.regexp_count(c4_text, F.lit(r'[.!?]'))
    flags = {
        "c4_lines_kept": F.size(kept).cast("bigint"),
        "c4_sentences_ok": n_sent >= min_sentences,
        "c4_no_lorem": ~F.lower(c4_text).contains("lorem ipsum"),
        "c4_no_brace": ~c4_text.contains("{"),
    }
    out = df.withColumns({"c4_text": c4_text, **flags})
    keep = (F.col("c4_sentences_ok") & F.col("c4_no_lorem")
            & F.col("c4_no_brace") & (F.col("c4_lines_kept") > 0))
    return out.withColumn("c4_keep", keep)


@functools.lru_cache(maxsize=None)
def _get_zlib_udf(level: int):
    """Arrow-batched zlib compression-ratio kernel — one of the few
    justified Python hops (no Catalyst compression expression; CPython
    zlib is C and deterministic for a given level, so an oracle twin
    reproduces it byte-exactly)."""
    import zlib

    import pandas as pd
    from pyspark.sql.functions import pandas_udf

    @pandas_udf("double")
    def _ratio(s):
        def one(t):
            if t is None:
                return None
            b = t.encode("utf-8")
            if not b:
                return None
            return len(zlib.compress(b, level)) / len(b)

        return s.map(one)

    return _ratio


def compression_ratio(df: DataFrame, text_col: str = "text",
                      out_col: str = "zlib_ratio",
                      level: int = 6) -> DataFrame:
    """Compression-ratio quality signal (the Dolma/Gopher-adjacent
    low-entropy detector): ``len(zlib(text)) / len(text)`` over UTF-8
    bytes. Repetitive/templated/degenerate text compresses far below
    prose (ratio ≪ 0.4), while random or non-text bytes sit near 1 —
    both tails are cut in corpus curation. Map-only; the text column
    crosses to Python ONCE as Arrow batches. Null/empty text → null."""
    return df.withColumn(out_col, _get_zlib_udf(level)(F.col(text_col)))
