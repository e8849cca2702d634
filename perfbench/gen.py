"""Seeded input generation for the benchmark (numpy + pyarrow, no Spark).

The program under test receives only the parquet files written here.
The shapes follow the library's own fixtures
(``sources.generator.gen_transcripts`` / ``gen_docs``): hot conversation
keys, 85% grok-parseable turns, 10% null tools, 10% tools missing from
the tool dimension, 2% late rows, and a docs corpus with planted
near-duplicate pairs. Generating with numpy keeps generation in the
sub-second range, so a fresh seed costs no Spark jobs before timing.

Everything is a pure function of the arguments: the same seed writes
the same rows.
"""

from __future__ import annotations

import os

import numpy as np
import pyarrow as pa
import pyarrow.compute as pc
import pyarrow.parquet as pq

ROLES = ["user", "assistant", "system", "tool"]
KNOWN_TOOLS = ["search", "calculator", "browser", "python", "bash",
               "sql", "editor", "retrieval"]
UNKNOWN_TOOLS = ["telemetry_probe", "shadow_tool"]
TOOL_CATEGORY = {
    "search": "retrieval", "retrieval": "retrieval", "browser": "retrieval",
    "calculator": "compute", "python": "compute", "bash": "compute",
    "sql": "data", "editor": "authoring",
}
# 2024-01-01T00:00:00Z in microseconds since the epoch
EPOCH_START_US = 1_704_067_200 * 1_000_000
LATE_SHIFT_US = 7200 * 1_000_000
TRANSCRIPT_SCHEMA = pa.schema([
    ("conv_id", pa.string()), ("turn_idx", pa.int32()), ("role", pa.string()),
    ("text", pa.string()), ("tool", pa.string()),
    ("ts", pa.timestamp("us", tz="UTC")),
])


N_CONVS = 1000
N_HOT = 3
HOT_FRACTION = 0.2
PARSE_FRACTION = 0.85
NULL_TOOL_FRACTION = 0.10
UNKNOWN_TOOL_FRACTION = 0.10
LATE_FRACTION = 0.02


class TranscriptStream:
    """An arrival-ordered transcript series, cut into chunks on demand.

    Row ``i`` arrives ``i``-th; its event time is ``i * gap_us`` plus up
    to one second of jitter, except late rows, which are stamped two
    hours earlier. The per-row draws for the first ``capacity`` rows are
    made up front (cheap integer arrays), so ``turn_idx`` is dense per
    conversation over the whole series and any chunk can be written
    without the ones before it.
    """

    def __init__(self, seed: int, capacity: int, gap_us: int) -> None:
        rng = np.random.default_rng([seed, 1])
        n = capacity
        self.capacity = n
        hot = rng.random(n) < HOT_FRACTION
        conv = np.where(hot, rng.integers(0, N_HOT, n), N_HOT + rng.integers(0, N_CONVS, n))
        self._conv = conv
        # dense turn index per conversation, in arrival order
        order = np.argsort(conv, kind="stable")
        sorted_conv = conv[order]
        starts = np.flatnonzero(np.r_[True, sorted_conv[1:] != sorted_conv[:-1]])
        run_start = np.repeat(starts, np.diff(np.r_[starts, n]))
        turn = np.empty(n, dtype=np.int32)
        turn[order] = (np.arange(n) - run_start).astype(np.int32)
        self._turn = turn
        self._role = rng.integers(0, len(ROLES), n)
        u_tool = rng.random(n)
        self._tool_null = u_tool < NULL_TOOL_FRACTION
        self._tool_unknown = (~self._tool_null) & (
            u_tool < NULL_TOOL_FRACTION + UNKNOWN_TOOL_FRACTION)
        self._tool_known = rng.integers(0, len(KNOWN_TOOLS), n)
        self._tool_unk = rng.integers(0, len(UNKNOWN_TOOLS), n)
        self._parse = rng.random(n) < PARSE_FRACTION
        self._status_ok = rng.random(n) < 0.9
        self._dur = rng.integers(0, 5000, n)
        self._late = rng.random(n) < LATE_FRACTION
        self._jitter_us = rng.integers(0, 1_000_000, n)
        self.gap_us = gap_us
        conv_names = ([f"conv_hot_{k}" for k in range(N_HOT)]
                      + [f"conv_{k:06d}" for k in range(N_CONVS)])
        self._conv_names = np.array(conv_names, dtype=object)

    def ts_us(self, lo: int, hi: int) -> np.ndarray:
        ids = np.arange(lo, hi, dtype=np.int64)
        ts = EPOCH_START_US + ids * self.gap_us + self._jitter_us[lo:hi]
        return np.where(self._late[lo:hi], ts - LATE_SHIFT_US, ts)

    def chunk(self, lo: int, hi: int) -> pa.Table:
        """Rows ``[lo, hi)`` sorted by event time."""
        if not 0 <= lo <= hi <= self.capacity:
            raise ValueError(f"chunk [{lo}, {hi}) outside [0, {self.capacity})")
        s = slice(lo, hi)
        ids = pa.array(np.arange(lo, hi).astype(str))
        conv = pa.array(self._conv_names[self._conv[s]], pa.string())
        tools = np.where(self._tool_unknown[s],
                         np.array(UNKNOWN_TOOLS, dtype=object)[self._tool_unk[s]],
                         np.array(KNOWN_TOOLS, dtype=object)[self._tool_known[s]])
        tool = pa.array(tools, pa.string(), mask=self._tool_null[s])
        status = pa.array(np.where(self._status_ok[s], "ok", "err"))
        dur = pa.array(self._dur[s].astype(str))
        hit = pc.binary_join_element_wise(
            "turn ", ids, ": invoking tool_call=", pa.array(tools, pa.string()),
            " status=", status, " dur_ms=", dur, " session=", conv, "")
        miss = pc.binary_join_element_wise(
            "free-form reflection ", ids, " with no structured payload", "")
        text = pc.if_else(pa.array(self._parse[s]), hit, miss)
        table = pa.table({
            "conv_id": conv,
            "turn_idx": pa.array(self._turn[s], pa.int32()),
            "role": pa.array(np.array(ROLES, dtype=object)[self._role[s]], pa.string()),
            "text": text,
            "tool": tool,
            "ts": pa.array(self.ts_us(lo, hi), pa.timestamp("us", tz="UTC")),
        }, schema=TRANSCRIPT_SCHEMA)
        return table.sort_by("ts")


def write_dims(out_dir: str) -> None:
    """Tool and role dimensions (known tools only, so unknown tools miss)."""
    os.makedirs(out_dir, exist_ok=True)
    tool_path = os.path.join(out_dir, "tool_dim.parquet")
    role_path = os.path.join(out_dir, "role_dim.parquet")
    pq.write_table(pa.table({
        "tool": KNOWN_TOOLS,
        "tool_name": [f"{t}_v1" for t in KNOWN_TOOLS],
        "tool_category": [TOOL_CATEGORY[t] for t in KNOWN_TOOLS],
    }), tool_path)
    pq.write_table(pa.table({
        "role": ROLES,
        "role_label": [r.capitalize() for r in ROLES],
        "role_rank": pa.array(range(len(ROLES)), pa.int32()),
    }), role_path)


def write_chunks(stream: TranscriptStream, out_dir: str, lo: int, hi: int,
                 n_files: int) -> None:
    """Write rows ``[lo, hi)`` as ``n_files`` arrival-ordered files
    ``part-00000.parquet``, ``part-00001.parquet``, ..."""
    os.makedirs(out_dir, exist_ok=True)
    bounds = np.linspace(lo, hi, n_files + 1).astype(int)
    for i, (a, b) in enumerate(zip(bounds[:-1], bounds[1:])):
        pq.write_table(stream.chunk(int(a), int(b)),
                       os.path.join(out_dir, f"part-{i:05d}.parquet"))


# -- docs corpus -----------------------------------------------------------

DUP_EVERY = 50
N_TOKENS = 25
VOCAB = 50_000


def near_dup_pair_count(n_docs: int) -> int:
    """Planted near-duplicate pairs: doc ``i`` with ``i % DUP_EVERY == 1``
    copies doc ``i - 1`` except for its last token."""
    return len(range(1, n_docs, DUP_EVERY))


def planted_pair_count(n_docs: int, copies: list[int]) -> int:
    """Pairs with word-trigram Jaccard >= 0.8 that the corpus plants:
    the near-duplicate pairs plus every pair inside a boilerplate cluster
    (``c`` identical copies give ``c * (c - 1) / 2`` pairs)."""
    return near_dup_pair_count(n_docs) + sum(c * (c - 1) // 2 for c in copies)


def boilerplate_slots(n_docs: int, copies: list[int], seed: int) -> list[np.ndarray]:
    """Doc ids that hold each template's copies: never a member of a
    near-duplicate pair, so the two kinds of planted pair stay disjoint."""
    ids = np.arange(n_docs)
    free = ids[(ids % DUP_EVERY != 0) & (ids % DUP_EVERY != 1)]
    if sum(copies) > len(free):
        raise ValueError("more boilerplate copies than free doc slots")
    rng = np.random.default_rng([seed, 2])
    picked = rng.choice(free, size=sum(copies), replace=False)
    return np.split(picked, np.cumsum(copies)[:-1])


def docs_table(n_docs: int, copies: list[int], seed: int) -> pa.Table:
    """``(doc_id, text)``: random ``N_TOKENS``-word docs over ``VOCAB``
    words, a near-duplicate of the previous doc every ``DUP_EVERY`` docs,
    and ``len(copies)`` boilerplate templates copied ``copies[t]`` times."""
    rng = np.random.default_rng([seed, 3])
    toks = rng.integers(0, VOCAB, (n_docs, N_TOKENS))
    ids = np.arange(n_docs)
    dup = (ids % DUP_EVERY == 1) & (ids > 0)
    toks[dup] = toks[np.flatnonzero(dup) - 1]
    words = np.char.add("w", toks.astype(str)).astype(object)
    words[dup, -1] = np.char.add("m", rng.integers(0, VOCAB, dup.sum()).astype(str))
    for t, slots in enumerate(boilerplate_slots(n_docs, copies, seed)):
        words[slots] = np.array([f"b{t}x{j}" for j in range(N_TOKENS)], dtype=object)
    cols = [pa.array(words[:, j], pa.string()) for j in range(N_TOKENS)]
    text = pc.binary_join_element_wise(*cols, " ")
    return pa.table({"doc_id": pa.array(ids, pa.int64()), "text": text})
