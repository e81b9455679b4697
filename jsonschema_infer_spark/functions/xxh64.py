"""Pure-Python XXH64 matching Spark's ``xxhash64`` expression bit-for-bit.

Spark's XxHash64 expression is the published xxHash64 algorithm (Collet,
github.com/Cyan4973/xxHash) with default seed 42, applied per column with
the running hash as the next column's seed: strings hash their UTF-8 bytes
through the full streaming algorithm; int-width values (byte/short/int) use
the 4-byte finalizer; longs the 8-byte finalizer. This module re-derives
the algorithm from the public xxHash specification — an implementation
independent of the JVM's — so driver oracles can cross-check Spark's
xxhash64-based operators (MinHash permutation hashes, SimHash token
hashes) from plain Python: the DuckDB oracle reads signatures this module
computed and any JVM/spec divergence surfaces as a value-hash mismatch.

Equality with the JVM expression is asserted in tests/test_xxh64.py
against a live Spark session.
"""

from __future__ import annotations

_P1 = 0x9E3779B185EBCA87
_P2 = 0xC2B2AE3D27D4EB4F
_P3 = 0x165667B19E3779F9
_P4 = 0x85EBCA77C2B2AE63
_P5 = 0x27D4EB2F165667C5
_M = (1 << 64) - 1

SPARK_SEED = 42  # Spark's default xxhash64 seed


def _rotl(x: int, r: int) -> int:
    return ((x << r) | (x >> (64 - r))) & _M


def _fmix(h: int) -> int:
    h ^= h >> 33
    h = (h * _P2) & _M
    h ^= h >> 29
    h = (h * _P3) & _M
    h ^= h >> 32
    return h


def xxh64_bytes(data: bytes, seed: int = SPARK_SEED) -> int:
    """xxHash64 of a byte string (unsigned 64-bit result)."""
    seed &= _M
    n = len(data)
    i = 0
    if n >= 32:
        v1 = (seed + _P1 + _P2) & _M
        v2 = (seed + _P2) & _M
        v3 = seed
        v4 = (seed - _P1) & _M
        while i + 32 <= n:
            for off, v in ((0, v1), (8, v2), (16, v3), (24, v4)):
                k = int.from_bytes(data[i + off : i + off + 8], "little")
                v = (v + k * _P2) & _M
                v = (_rotl(v, 31) * _P1) & _M
                if off == 0:
                    v1 = v
                elif off == 8:
                    v2 = v
                elif off == 16:
                    v3 = v
                else:
                    v4 = v
            i += 32
        h = (_rotl(v1, 1) + _rotl(v2, 7) + _rotl(v3, 12) + _rotl(v4, 18)) & _M
        for v in (v1, v2, v3, v4):
            h ^= (_rotl((v * _P2) & _M, 31) * _P1) & _M
            h = (h * _P1 + _P4) & _M
    else:
        h = (seed + _P5) & _M
    h = (h + n) & _M
    while i + 8 <= n:
        k = int.from_bytes(data[i : i + 8], "little")
        h ^= (_rotl((k * _P2) & _M, 31) * _P1) & _M
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
    return _fmix(h)


def xxh64_int32(value: int, seed: int) -> int:
    """Spark's 4-byte finalizer (byte/short/int columns): hashInt."""
    h = (seed + _P5 + 4) & _M
    h ^= ((value & 0xFFFFFFFF) * _P1) & _M
    h = (_rotl(h, 23) * _P2 + _P3) & _M
    return _fmix(h)


def to_signed(h: int) -> int:
    """Unsigned 64-bit -> the signed long Spark returns."""
    return h - (1 << 64) if h >= (1 << 63) else h


def spark_xxhash64_str(s: str, seed: int = SPARK_SEED) -> int:
    """``F.xxhash64(string_col)`` — signed 64-bit, like Spark returns."""
    return to_signed(xxh64_bytes(s.encode("utf-8"), seed))
