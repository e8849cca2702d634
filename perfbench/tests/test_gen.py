import itertools

import numpy as np
import pytest

import gen


def trigram_set(text):
    w = text.lower().split()
    return {tuple(w[i:i + 3]) for i in range(len(w) - 2)}


@pytest.mark.parametrize("n_docs,copies", [(2, []), (51, []), (260, [6, 4]), (333, [3, 3, 2])])
def test_planted_pair_formula_matches_brute_force(n_docs, copies):
    table = gen.docs_table(n_docs, copies, seed=5)
    shingles = [trigram_set(t) for t in table.column("text").to_pylist()]
    found = 0
    for a, b in itertools.combinations(range(n_docs), 2):
        union = len(shingles[a] | shingles[b])
        if union and len(shingles[a] & shingles[b]) / union >= 0.8:
            found += 1
    assert found == gen.planted_pair_count(n_docs, copies)


def test_near_dup_pair_count():
    assert gen.near_dup_pair_count(1) == 0
    assert gen.near_dup_pair_count(2) == 1
    assert gen.near_dup_pair_count(51) == 1
    assert gen.near_dup_pair_count(52) == 2
    assert gen.near_dup_pair_count(1_000_000) == 20_000


def test_boilerplate_avoids_near_dup_pairs():
    slots = np.concatenate(gen.boilerplate_slots(1000, [50, 30], seed=1))
    assert len(set(slots.tolist())) == 80
    assert not np.isin(slots % gen.DUP_EVERY, [0, 1]).any()


def test_transcripts_are_seeded_and_shaped():
    a = gen.TranscriptStream(3, 20_000, gap_us=1000)
    b = gen.TranscriptStream(3, 20_000, gap_us=1000)
    assert a.chunk(0, 20_000).equals(b.chunk(0, 20_000))
    t = a.chunk(0, 20_000).to_pydict()
    assert t["ts"] == sorted(t["ts"])
    n = len(t["conv_id"])
    assert 0.08 < sum(x is None for x in t["tool"]) / n < 0.12
    assert 0.08 < sum(x in gen.UNKNOWN_TOOLS for x in t["tool"]) / n < 0.12
    assert 0.83 < sum("tool_call=" in x for x in t["text"]) / n < 0.87
    assert 0.17 < sum(x.startswith("conv_hot_") for x in t["conv_id"]) / n < 0.23
    # turn_idx is dense per conversation
    per_conv = {}
    for c, i in zip(t["conv_id"], t["turn_idx"]):
        per_conv.setdefault(c, []).append(i)
    assert all(sorted(v) == list(range(len(v))) for v in per_conv.values())


def test_late_rows_are_two_hours_behind():
    s = gen.TranscriptStream(4, 50_000, gap_us=10_000)
    ts = s.ts_us(0, 50_000)
    on_time = gen.EPOCH_START_US + np.arange(50_000) * 10_000
    late = ts < on_time
    assert 0.015 < late.mean() < 0.025
    assert (on_time[late] - ts[late] > gen.LATE_SHIFT_US - 1_000_000).all()


def test_chunks_split_the_stream():
    s = gen.TranscriptStream(9, 1000, gap_us=1000)
    whole = s.chunk(0, 1000).num_rows
    assert whole == s.chunk(0, 400).num_rows + s.chunk(400, 1000).num_rows
    with pytest.raises(ValueError):
        s.chunk(0, 1001)
