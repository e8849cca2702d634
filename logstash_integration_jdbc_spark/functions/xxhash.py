"""Pure-Python XXH64 — independent twin of Spark's ``xxhash64``.

Implements the public xxHash64 algorithm (Yann Collet's spec,
https://github.com/Cyan4973/xxHash — the algorithm description is
public domain) with Spark's default seed 42 over a string's UTF-8
bytes. It exists so DuckDB-side oracles for xxhash64-based operators
(exact-substring anchors, document fingerprinting) can be computed by
an independent implementation rather than trusting the Spark path
being tested; parity with Spark is pinned in tests/test_xxhash.py.

Per-call pure Python is plenty for oracle-sized corpora; the engine's
hot path stays on the JVM's xxhash64.
"""

from __future__ import annotations

_MASK = (1 << 64) - 1
_P1 = 11400714785074694791
_P2 = 14029467366897019727
_P3 = 1609587929392839161
_P4 = 9650029242287828579
_P5 = 2870177450012600261


def _rotl(x: int, r: int) -> int:
    return ((x << r) | (x >> (64 - r))) & _MASK


def xxh64(data: bytes, seed: int = 42) -> int:
    """XXH64 of ``data`` → unsigned 64-bit int."""
    n = len(data)
    i = 0
    if n >= 32:
        v1 = (seed + _P1 + _P2) & _MASK
        v2 = (seed + _P2) & _MASK
        v3 = seed & _MASK
        v4 = (seed - _P1) & _MASK
        while i + 32 <= n:
            for _ in range(1):
                k = int.from_bytes(data[i : i + 8], "little")
                v1 = (_rotl((v1 + k * _P2) & _MASK, 31) * _P1) & _MASK
                k = int.from_bytes(data[i + 8 : i + 16], "little")
                v2 = (_rotl((v2 + k * _P2) & _MASK, 31) * _P1) & _MASK
                k = int.from_bytes(data[i + 16 : i + 24], "little")
                v3 = (_rotl((v3 + k * _P2) & _MASK, 31) * _P1) & _MASK
                k = int.from_bytes(data[i + 24 : i + 32], "little")
                v4 = (_rotl((v4 + k * _P2) & _MASK, 31) * _P1) & _MASK
            i += 32
        h = (_rotl(v1, 1) + _rotl(v2, 7) + _rotl(v3, 12) + _rotl(v4, 18)) & _MASK
        for v in (v1, v2, v3, v4):
            h ^= (_rotl((v * _P2) & _MASK, 31) * _P1) & _MASK
            h = (h * _P1 + _P4) & _MASK
    else:
        h = (seed + _P5) & _MASK
    h = (h + n) & _MASK
    while i + 8 <= n:
        k = int.from_bytes(data[i : i + 8], "little")
        h ^= (_rotl((k * _P2) & _MASK, 31) * _P1) & _MASK
        h = (_rotl(h, 27) * _P1 + _P4) & _MASK
        i += 8
    if i + 4 <= n:
        k = int.from_bytes(data[i : i + 4], "little")
        h ^= (k * _P1) & _MASK
        h = (_rotl(h, 23) * _P2 + _P3) & _MASK
        i += 4
    while i < n:
        h ^= (data[i] * _P5) & _MASK
        h = (_rotl(h, 11) * _P1) & _MASK
        i += 1
    h ^= h >> 33
    h = (h * _P2) & _MASK
    h ^= h >> 29
    h = (h * _P3) & _MASK
    h ^= h >> 32
    return h


def xxh64_str(s: str, seed: int = 42) -> int:
    """Spark-parity signed value of ``xxhash64(lit(s))``."""
    u = xxh64(s.encode("utf-8"), seed)
    return u - (1 << 64) if u >= (1 << 63) else u


def xxh64_long(v: int, seed: int = 42) -> int:
    """XXH64 of one LongType value (its 8 little-endian two's-complement
    bytes) — Spark's ``XXH64.hashLong``. Unsigned in/out so results can
    chain as seeds."""
    import struct

    signed = ((v + (1 << 63)) & _MASK) - (1 << 63)
    return xxh64(struct.pack("<q", signed), seed & _MASK)


def spark_xxhash64_longs(vals: list[int]) -> int:
    """Spark-parity signed value of ``xxhash64(c1, c2, ...)`` over
    LongType columns: each field hashes with the running result as its
    seed, starting from the default seed 42 (InterpretedHashFunction
    fold order)."""
    h = 42
    for v in vals:
        h = xxh64_long(v, h)
    return h - (1 << 64) if h >= (1 << 63) else h


def spark_ws_tokens(text: str) -> list[str]:
    """Replicates ``split(trim(lower(text)), '\\s+')`` exactly:
    Java lower-casing ≈ str.lower, trim strips SPACES only, Java ``\\s``
    is ASCII-only, and Spark's split keeps trailing empty strings."""
    import re

    t = text.lower().strip(" ")
    return re.split(r"[ \t\n\x0b\f\r]+", t)
