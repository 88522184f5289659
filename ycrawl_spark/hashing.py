"""Deterministic hashing shared by the Spark engine and the pure-Python
reference-semantics simulator.

The reference shuffles its frontier with ``random.shuffle``
(/root/reference/Coordinator/main.py:58-59) — nondeterministic. We
define the engine's (and simulator's) crawl-shuffle semantics as a
*seeded hash order*: rows are ordered by ``xxh64(key || ':' || salt)``
ascending, key ascending as tiebreak. On the Spark side this is the
built-in ``F.xxhash64`` (JVM-side, codegen'd — no UDF in the hot
path); here is a bit-exact pure-Python XXH64 so the simulator computes
the identical order. Parity is asserted by tests/test_hashing.py.

XXH64 is a public algorithm (Yann Collet, BSD); this is a from-scratch
numpy/py implementation of the published spec.
"""

from __future__ import annotations

import numpy as np

_M = (1 << 64) - 1
_P1 = 0x9E3779B185EBCA87
_P2 = 0xC2B2AE3D27D4EB4F
_P3 = 0x165667B19E3779F9
_P4 = 0x85EBCA77C2B2AE63
_P5 = 0x27D4EB2F165667C5

# Spark's xxhash64(...) expression uses a fixed seed of 42.
SPARK_XXHASH64_SEED = 42


def _rotl(x: int, r: int) -> int:
    return ((x << r) | (x >> (64 - r))) & _M


def _round(acc: int, inp: int) -> int:
    acc = (acc + inp * _P2) & _M
    acc = _rotl(acc, 31)
    return (acc * _P1) & _M


def _merge_round(acc: int, val: int) -> int:
    acc ^= _round(0, val)
    return (acc * _P1 + _P4) & _M


def xxh64(data: bytes, seed: int = SPARK_XXHASH64_SEED) -> int:
    """Unsigned 64-bit XXH64 of ``data``."""
    n = len(data)
    i = 0
    if n >= 32:
        v1 = (seed + _P1 + _P2) & _M
        v2 = (seed + _P2) & _M
        v3 = seed & _M
        v4 = (seed - _P1) & _M
        while i <= n - 32:
            v1 = _round(v1, int.from_bytes(data[i : i + 8], "little"))
            v2 = _round(v2, int.from_bytes(data[i + 8 : i + 16], "little"))
            v3 = _round(v3, int.from_bytes(data[i + 16 : i + 24], "little"))
            v4 = _round(v4, int.from_bytes(data[i + 24 : i + 32], "little"))
            i += 32
        h = (_rotl(v1, 1) + _rotl(v2, 7) + _rotl(v3, 12) + _rotl(v4, 18)) & _M
        h = _merge_round(h, v1)
        h = _merge_round(h, v2)
        h = _merge_round(h, v3)
        h = _merge_round(h, v4)
    else:
        h = (seed + _P5) & _M
    h = (h + n) & _M
    while i + 8 <= n:
        k1 = _round(0, int.from_bytes(data[i : i + 8], "little"))
        h ^= k1
        h = (_rotl(h, 27) * _P1 + _P4) & _M
        i += 8
    if i + 4 <= n:
        h ^= (int.from_bytes(data[i : i + 4], "little") * _P1) & _M
        h = (_rotl(h, 23) * _P2 + _P3) & _M
        i += 4
    while i < n:
        h ^= (data[i] * _P5) & _M
        h = (_rotl(h, 11) * _P1) & _M
        i += 1
    h ^= h >> 33
    h = (h * _P2) & _M
    h ^= h >> 29
    h = (h * _P3) & _M
    h ^= h >> 32
    return h


def xxh64_str(s: str, seed: int = SPARK_XXHASH64_SEED) -> int:
    return xxh64(s.encode("utf-8"), seed)


def xxh64_signed(s: str, seed: int = SPARK_XXHASH64_SEED) -> int:
    """Signed view matching Spark's LongType output of ``F.xxhash64``."""
    h = xxh64_str(s, seed)
    return h - (1 << 64) if h >= (1 << 63) else h


def bloom_positions(hashes_a: np.ndarray, hashes_b: np.ndarray, k: int, m: int) -> np.ndarray:
    """Double-hashing position scheme g_i(x) = (a + i*b) mod m.

    Shared by the Spark-side bloom build/probe UDFs and the driver-side
    merge — positions are a pure function of the two 64-bit hashes so
    every party computes identical bit positions.
    """
    i = np.arange(k, dtype=np.uint64)[:, None]
    return ((hashes_a[None, :] + i * hashes_b[None, :]) % np.uint64(m)).astype(np.int64)
