"""Property-based tests (hypothesis) — beyond the reference's test
strategy (SURVEY.md §5: the reference has no property tests).

Each property pins an operator against an independent oracle over
generated inputs: asof_join vs pandas.merge_asof, GrokParser vs Python
re, ValueTracker vs identity round-trip, exact_dedup invariants, the
MinHash band and winnow kernels vs their JVM and window references,
minhash_lsh_candidates vs brute-force all-pairs Jaccard, the bucket→pair
emitter vs brute-force enumeration, Router.route vs a Python routing
rule, and salted_repartition's row and spread invariants.
Spark actions are slow, so examples are kept small and deadlines off.
"""

from __future__ import annotations

import datetime as dt
import re as _re

import pandas as pd
import pytest
from hypothesis import HealthCheck, given, settings
from hypothesis import strategies as st

SETTINGS = dict(
    max_examples=8,
    deadline=None,
    suppress_health_check=[HealthCheck.function_scoped_fixture],
)

_BASE = dt.datetime(2024, 1, 1)


def _rows(draw_keys, draw_offsets):
    return [(k, _BASE + dt.timedelta(seconds=o)) for k, o in zip(draw_keys, draw_offsets)]


@st.composite
def asof_inputs(draw):
    keys = st.sampled_from(["a", "b", "c"])
    offs = st.integers(min_value=0, max_value=500)
    left = draw(st.lists(st.tuples(keys, offs), min_size=1, max_size=20))
    right = draw(st.lists(st.tuples(keys, offs), min_size=1, max_size=20))
    # right side must be unique per (key, ts) for a deterministic match
    seen = set()
    right = [r for r in right if not (r in seen or seen.add(r))]
    return left, right


@settings(**SETTINGS)
@given(asof_inputs())
def test_asof_join_matches_pandas_merge_asof(spark, data):
    from logstash_integration_jdbc_spark.operators.asof import asof_join

    left_rows, right_rows = data
    left = spark.createDataFrame(
        [(i, k, _BASE + dt.timedelta(seconds=o)) for i, (k, o) in enumerate(left_rows)],
        "lid bigint, key string, ts timestamp",
    )
    right = spark.createDataFrame(
        [(k, _BASE + dt.timedelta(seconds=o), float(o)) for (k, o) in right_rows],
        "key string, ts timestamp, val double",
    )
    got = {r.lid: r.val for r in asof_join(left, right, on="ts", by="key").collect()}

    lpd = pd.DataFrame(
        [(i, k, _BASE + dt.timedelta(seconds=o)) for i, (k, o) in enumerate(left_rows)],
        columns=["lid", "key", "ts"],
    ).sort_values("ts", kind="stable")
    rpd = pd.DataFrame(
        [(k, _BASE + dt.timedelta(seconds=o), float(o)) for (k, o) in right_rows],
        columns=["key", "ts", "val"],
    ).sort_values("ts", kind="stable")
    exp_df = pd.merge_asof(lpd, rpd, on="ts", by="key", direction="backward")
    expected = {
        int(r.lid): (None if pd.isna(r.val) else float(r.val))
        for r in exp_df.itertuples()
    }
    assert got == expected


@settings(**SETTINGS)
@given(st.lists(st.text(
    alphabet=st.characters(codec="ascii", exclude_characters="\x00"),
    max_size=60), min_size=1, max_size=20))
def test_grok_parser_matches_python_re(spark, texts):
    from logstash_integration_jdbc_spark.functions.parse import GrokParser

    parser = GrokParser("tool=%{NOTSPACE:tool} n=%{INT:n}", types={"n": "int"})
    df = spark.createDataFrame([(t,) for t in texts], "text string")
    got = [(r.tool, r.n) for r in parser.apply(df).orderBy("text").collect()]

    rx = _re.compile(r"tool=(\S+) n=([+-]?\d+)")
    expected = []
    for t in sorted(texts):
        m = rx.search(t)
        if m:
            v = int(m.group(2))
            # Spark non-ANSI cast nulls on int32 overflow
            expected.append((m.group(1), v if -2**31 <= v < 2**31 else None))
        else:
            expected.append((None, None))
    assert got == expected


@settings(max_examples=25, deadline=None)
@given(st.one_of(
    st.integers(min_value=0, max_value=2**53),
    st.datetimes(min_value=dt.datetime(1970, 1, 2), max_value=dt.datetime(2100, 1, 1)),
))
def test_value_tracker_round_trips(tmp_path_factory, value):
    from logstash_integration_jdbc_spark.sources.value_tracking import ValueTracker

    path = str(tmp_path_factory.mktemp("vt") / "ckpt.json")
    kind = "timestamp" if isinstance(value, dt.datetime) else "numeric"
    if kind == "timestamp":
        value = value.replace(tzinfo=dt.timezone.utc)
    t = ValueTracker(path=path, tracking_type=kind)
    t.set_value(value)
    t.write()
    back = ValueTracker(path=path, tracking_type=kind)
    assert back.value == value


@settings(**SETTINGS)
@given(st.lists(st.sampled_from(["x", "y z", "hello world", ""]),
                min_size=1, max_size=30))
def test_exact_dedup_invariants(spark, texts):
    from logstash_integration_jdbc_spark.operators.dedup import exact_dedup

    df = spark.createDataFrame(
        [(i, t) for i, t in enumerate(texts)], "doc_id bigint, text string"
    )
    kept = exact_dedup(df).collect()
    # one representative per distinct text, and it is the min id
    assert len(kept) == len(set(texts))
    first_idx = {}
    for i, t in enumerate(texts):
        first_idx.setdefault(t, i)
    assert sorted(r.doc_id for r in kept) == sorted(first_idx.values())


# -- near-dup kernels ≡ their JVM / window references on generated docs.
#    A four-token vocabulary makes band slices and anchors collide. ---------

_VOCAB = ["a", "b", "c", "d"]


def _words(n: int):
    return st.lists(st.sampled_from(_VOCAB), min_size=n, max_size=n).map(" ".join)


_ODD_DOCS = st.sampled_from([None, ""])


@st.composite
def band_docs(draw):
    # docs of 1..8 tokens plus null and empty text: below n_shingle=3
    # the shingle set is the whole-text fallback, null text reads as ""
    texts = draw(st.lists(
        st.one_of(_ODD_DOCS, st.integers(min_value=1, max_value=8).flatmap(_words)),
        min_size=1, max_size=16))
    num_hashes, bands = draw(st.sampled_from([(64, 16), (32, 8), (16, 16)]))
    return texts, num_hashes, bands


@settings(**SETTINGS)
@given(band_docs())
def test_band_buckets_equal_jvm_hash_of_signature_slices(spark, data):
    from pyspark.sql import functions as F

    from logstash_integration_jdbc_spark.operators.dedup import (
        _shingled,
        _texts,
        minhash_band_buckets,
        minhash_signature_udf,
    )

    texts, num_hashes, bands = data
    r = num_hashes // bands
    df = spark.createDataFrame(list(enumerate(texts)), "doc_id bigint, text string")
    sig = (_shingled(_texts(df, "doc_id", "text"), "doc_id", "text", 3)
           .withColumn("__sig", minhash_signature_udf(num_hashes)(F.col("__sh"))))
    want = {}
    for row in sig.select("doc_id", *[
            F.xxhash64(*[F.col("__sig")[b * r + k] for k in range(r)]).alias(f"b{b}")
            for b in range(bands)]).collect():
        want.update({(row["doc_id"], b): row[f"b{b}"] for b in range(bands)})
    got = {(row["doc_id"], row["__band"]): row["__bucket"] for row in
           minhash_band_buckets(df, num_hashes=num_hashes, bands=bands).collect()}
    assert got == want


@st.composite
def winnow_batches(draw):
    # window > min_tokens, docs of 1..window+1 grams side by side in one
    # kernel batch: the inputs behind the short-doc anchor bug. At least
    # 8 docs, so every example puts several short docs next to each other
    min_tokens = draw(st.integers(min_value=2, max_value=4))
    window = draw(st.integers(min_value=min_tokens + 1, max_value=min_tokens + 3))
    grams = st.integers(min_value=1, max_value=window + 1)
    texts = draw(st.lists(
        st.one_of(_ODD_DOCS, grams.flatmap(lambda g: _words(min_tokens - 1 + g))),
        min_size=8, max_size=24))
    return texts, min_tokens, window


@settings(**SETTINGS)
@given(winnow_batches())
def test_winnow_kernel_equals_reference_on_generated_batches(spark, data):
    from logstash_integration_jdbc_spark.operators.dedup import (
        winnow_anchors,
        winnow_anchors_expr,
    )

    texts, min_tokens, window = data
    df = spark.createDataFrame(list(enumerate(texts)), "doc_id bigint, text string")

    def anchors(fn):
        out = fn(df, min_tokens=min_tokens, window=window).collect()
        return {(r["doc_id"], r["__anchor"]) for r in out}

    assert anchors(winnow_anchors) == anchors(winnow_anchors_expr)


# -- minhash_lsh_candidates ≡ brute-force all-pairs Jaccard, and
#    _bucket_pairs ≡ brute-force per-bucket pair enumeration ------------------

def _py_shingles(text, n=3):
    """The library's shingle set in Python: the word n-grams of the
    lowercased text, or the whole text (null reads as "") when it has
    fewer than n words."""
    text = text or ""
    words = _re.split(r"\s+", text.lower().strip(" "))
    if len(words) < n:
        return {text}
    return {tuple(words[i:i + n]) for i in range(len(words) - n + 1)}


@st.composite
def lsh_corpora(draw):
    # null, empty and 1-2 word docs (whole-text shingle), short docs over
    # a four-word vocabulary (shared shingles), and one cluster of 30+
    # identical copies (a bucket of 30+ members in every band)
    docs = draw(st.lists(
        st.one_of(_ODD_DOCS, st.integers(min_value=1, max_value=10).flatmap(_words)),
        min_size=1, max_size=24))
    cluster = draw(st.integers(min_value=3, max_value=10).flatmap(_words))
    texts = docs + [cluster] * draw(st.integers(min_value=30, max_value=36))
    return draw(st.permutations(texts))


@settings(**SETTINGS)
@given(lsh_corpora())
def test_minhash_candidates_match_brute_force_jaccard(spark, texts):
    from logstash_integration_jdbc_spark.operators.dedup import minhash_lsh_candidates

    df = spark.createDataFrame(list(enumerate(texts)), "doc_id bigint, text string")
    got = [(r.id_a, r.id_b, r.jaccard) for r in minhash_lsh_candidates(df).collect()]
    pairs = {(a, b): j for a, b, j in got}
    assert len(pairs) == len(got)  # each pair once
    sh = [_py_shingles(t) for t in texts]
    for (a, b), j in pairs.items():
        assert a < b
        assert j == len(sh[a] & sh[b]) / len(sh[a] | sh[b])
    same = {(a, b) for a in range(len(sh)) for b in range(a + 1, len(sh))
            if sh[a] == sh[b]}
    assert same <= pairs.keys()


@st.composite
def bucket_rows(draw):
    key = st.one_of(st.none(), st.integers(min_value=0, max_value=3))
    member = st.one_of(st.none(), st.integers(min_value=0, max_value=20))
    rows = draw(st.lists(st.tuples(key, key, member), max_size=40))
    # a singleton bucket and a two-member bucket under null keys, always
    return rows + [(9, 9, 1), (None, None, 2), (None, None, 3)]


@settings(**SETTINGS)
@given(bucket_rows())
def test_bucket_pairs_match_brute_force_enumeration(spark, rows):
    from collections import Counter, defaultdict

    from pyspark.sql import functions as F

    from logstash_integration_jdbc_spark.operators.dedup import _bucket_pairs

    df = spark.createDataFrame(rows, "k1 int, k2 int, m bigint")
    got = Counter((r["k1"], r["k2"], r["__a"], r["__b"]) for r in
                  _bucket_pairs(df, ["k1", "k2"], F.collect_list("m")).collect())
    buckets = defaultdict(list)
    for k1, k2, m in rows:
        if m is not None:  # collect_list skips nulls
            buckets[(k1, k2)].append(m)
    want = Counter()
    for (k1, k2), ms in buckets.items():
        ms.sort()
        for i in range(len(ms)):
            for j in range(i + 1, len(ms)):
                want[(k1, k2, ms[i], ms[j])] += 1
    assert got == want


# -- BPE: the incremental trainer ≡ a brute re-count-per-round trainer
#    and encode is lossless (token concat reproduces the words) -------------

@st.composite
def word_count_tables(draw):
    words = draw(st.lists(
        st.text(alphabet="abcdef</>", min_size=1, max_size=6),
        min_size=1, max_size=12, unique=True))
    return [(w, draw(st.integers(min_value=1, max_value=9)))
            for w in words]


@given(word_count_tables(), st.integers(min_value=1, max_value=25))
@settings(max_examples=60, deadline=None)
def test_bpe_incremental_matches_brute(counts, k):
    from logstash_integration_jdbc_spark.operators import bpe

    vocab = {tuple(w) + (bpe.EOW,): n for w, n in counts if w}
    merges = []
    for _ in range(k):
        pairs = {}
        for syms, n in vocab.items():
            for i in range(len(syms) - 1):
                p = (syms[i], syms[i + 1])
                pairs[p] = pairs.get(p, 0) + n
        if not pairs:
            break
        best = min(pairs.items(), key=lambda kv: (-kv[1], kv[0]))[0]
        merges.append(best)
        joined = best[0] + best[1]
        nv = {}
        for syms, n in vocab.items():
            out, i = [], 0
            while i < len(syms):
                if i < len(syms) - 1 and (syms[i], syms[i + 1]) == best:
                    out.append(joined)
                    i += 2
                else:
                    out.append(syms[i])
                    i += 1
            nv[tuple(out)] = nv.get(tuple(out), 0) + n
        vocab = nv
    assert bpe.train_bpe_from_counts(counts, k) == merges

    # encode is lossless: tokens concatenate back to word + EOW
    ranks = {p: i for i, p in enumerate(merges)}
    for w, _n in counts:
        toks = bpe.encode_word(w, ranks)
        assert "".join(toks) == w + bpe.EOW


# -- routing: Router.route ≡ a pure-Python first-match / all-matches rule
#    under SQL three-valued logic, where a NULL condition is no match -------

def _v(x, f):
    return None if x is None else f(x)


def _and(p, q):
    if p is False or q is False:
        return False
    return None if p is None or q is None else True


def _or(p, q):
    if p is True or q is True:
        return True
    return None if p is None or q is None else False


# name → (Spark condition over a, b, s; the same condition in Python)
_ROUTES = {
    "a_pos": (lambda F: F.col("a") > 0, lambda a, b, s: _v(a, lambda a: a > 0)),
    "b_neg": (lambda F: F.col("b") < 0, lambda a, b, s: _v(b, lambda b: b < 0)),
    "s_x": (lambda F: F.col("s") == "x", lambda a, b, s: _v(s, lambda s: s == "x")),
    "a_or_b": (lambda F: (F.col("a") > 0) | (F.col("b") > 0),
               lambda a, b, s: _or(_v(a, lambda a: a > 0), _v(b, lambda b: b > 0))),
    "not_a_big": (lambda F: ~(F.col("a") > 1), lambda a, b, s: _v(a, lambda a: not a > 1)),
    "a_and_s": (lambda F: (F.col("a") <= 0) & (F.col("s") != "y"),
                lambda a, b, s: _and(_v(a, lambda a: a <= 0), _v(s, lambda s: s != "y"))),
}


@st.composite
def routing_cases(draw):
    def cell(values):
        return st.one_of(st.none(), st.sampled_from(values))

    rows = draw(st.lists(st.tuples(cell([-2, -1, 0, 1, 2]), cell([-2, -1, 0, 1, 2]),
                                   cell(["x", "y"])), min_size=1, max_size=20))
    names = draw(st.lists(st.sampled_from(sorted(_ROUTES)), min_size=1, max_size=4,
                          unique=True))
    return [(i, *r) for i, r in enumerate(rows)], names


@pytest.mark.parametrize("exclusive", [True, False])
@pytest.mark.parametrize("default_sink", ["rest", None])
@settings(**SETTINGS)
@given(routing_cases())
def test_router_route_matches_python_reference(spark, exclusive, default_sink, case):
    from pyspark.sql import functions as F

    from logstash_integration_jdbc_spark.operators.router import Route, Router

    rows, names = case
    df = spark.createDataFrame(rows, "id int, a int, b int, s string")
    router = Router([Route(n, _ROUTES[n][0](F)) for n in names],
                    default_sink=default_sink, exclusive=exclusive)
    got = sorted((r.id, r.sink) for r in router.route(df).select("id", "sink").collect())
    want = []
    for i, a, b, s in rows:
        hits = [n for n in names if _ROUTES[n][1](a, b, s) is True]
        if exclusive:
            hits = hits[:1]
        if not hits and default_sink is not None:
            hits = [default_sink]
        want += [(i, h) for h in hits]
    assert got == sorted(want)


# -- salted_repartition keeps every row and spreads a hot key, with or
#    without the turn_idx/ts row columns, beside array and map columns -----

@st.composite
def salted_frames(draw):
    n_salts = draw(st.sampled_from([4, 8]))
    row_cols = draw(st.sampled_from([(), ("turn_idx",), ("ts",), ("turn_idx", "ts")]))
    n_hot = draw(st.integers(min_value=2 * n_salts, max_value=4 * n_salts))
    cold = draw(st.lists(st.sampled_from(["c1", "c2", "c3"]), max_size=10))
    tags = st.lists(st.sampled_from(["t1", "t2"]), max_size=2)
    attrs = st.dictionaries(st.sampled_from(["k1", "k2"]), st.integers(0, 3), max_size=2)
    keys = ["hot"] * n_hot + cold
    rows = [(k, i, _BASE + dt.timedelta(seconds=i), f"p{i}", draw(tags), draw(attrs))
            for i, k in enumerate(keys)]
    return n_salts, row_cols, rows


@settings(**SETTINGS)
@given(salted_frames())
def test_salted_repartition_keeps_rows_and_spreads_hot_key(spark, case):
    from collections import Counter

    from pyspark.sql import functions as F

    from logstash_integration_jdbc_spark.operators.skew import salted_repartition

    n_salts, row_cols, rows = case
    df = spark.createDataFrame(rows, "conv_id string, turn_idx int, ts timestamp, "
                               "payload string, tags array<string>, attrs map<string,int>")
    df = df.drop(*{"turn_idx", "ts"} - set(row_cols))

    def bag(frame):
        return Counter((*r[:-2], tuple(r.tags), tuple(sorted(r.attrs.items())))
                       for r in frame.collect())

    out = salted_repartition(df, "conv_id", n_salts=n_salts)
    assert bag(out) == bag(df)
    # AQE coalescing off: the exchange shows its raw partitions
    key = "spark.sql.adaptive.coalescePartitions.enabled"
    old = spark.conf.get(key)
    spark.conf.set(key, "false")
    try:
        hot_parts = (out.filter(F.col("conv_id") == "hot")
                     .select(F.spark_partition_id().alias("p")).distinct().count())
    finally:
        spark.conf.set(key, old)
    assert hot_parts > 1
