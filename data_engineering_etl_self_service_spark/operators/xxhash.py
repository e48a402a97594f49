"""xxHash64 (public spec: github.com/Cyan4973/xxHash, XXH64).

Pure-Python, used by ``operators/parquet_bloom.py``: Parquet's
split-block bloom filters hash each value with XXH64(seed=0), so a
filter probe must reproduce the writer's hash exactly.

Correctness is pinned to the reference test vectors (the sanity
vectors XXH's own test suite uses) in tests/test_parquet_bloom.py.
"""

from __future__ import annotations

_M64 = (1 << 64) - 1
_P64_1 = 0x9E3779B185EBCA87
_P64_2 = 0xC2B2AE3D27D4EB4F
_P64_3 = 0x165667B19E3779F9
_P64_4 = 0x85EBCA77C2B2AE63
_P64_5 = 0x27D4EB2F165667C5


def _rotl64(x: int, r: int) -> int:
    return ((x << r) | (x >> (64 - r))) & _M64


def _round64(acc: int, inp: int) -> int:
    acc = (acc + inp * _P64_2) & _M64
    return (_rotl64(acc, 31) * _P64_1) & _M64


def _merge64(acc: int, val: int) -> int:
    acc ^= _round64(0, val)
    return (acc * _P64_1 + _P64_4) & _M64


def xxh64(data: bytes, seed: int = 0) -> int:
    n = len(data)
    pos = 0
    if n >= 32:
        v1 = (seed + _P64_1 + _P64_2) & _M64
        v2 = (seed + _P64_2) & _M64
        v3 = seed & _M64
        v4 = (seed - _P64_1) & _M64
        while pos + 32 <= n:
            v1 = _round64(v1, int.from_bytes(data[pos : pos + 8], "little"))
            v2 = _round64(
                v2, int.from_bytes(data[pos + 8 : pos + 16], "little")
            )
            v3 = _round64(
                v3, int.from_bytes(data[pos + 16 : pos + 24], "little")
            )
            v4 = _round64(
                v4, int.from_bytes(data[pos + 24 : pos + 32], "little")
            )
            pos += 32
        h = (
            _rotl64(v1, 1)
            + _rotl64(v2, 7)
            + _rotl64(v3, 12)
            + _rotl64(v4, 18)
        ) & _M64
        h = _merge64(h, v1)
        h = _merge64(h, v2)
        h = _merge64(h, v3)
        h = _merge64(h, v4)
    else:
        h = (seed + _P64_5) & _M64
    h = (h + n) & _M64
    while pos + 8 <= n:
        h ^= _round64(0, int.from_bytes(data[pos : pos + 8], "little"))
        h = (_rotl64(h, 27) * _P64_1 + _P64_4) & _M64
        pos += 8
    if pos + 4 <= n:
        h ^= (int.from_bytes(data[pos : pos + 4], "little") * _P64_1) & _M64
        h = (_rotl64(h, 23) * _P64_2 + _P64_3) & _M64
        pos += 4
    while pos < n:
        h ^= (data[pos] * _P64_5) & _M64
        h = (_rotl64(h, 11) * _P64_1) & _M64
        pos += 1
    h ^= h >> 33
    h = (h * _P64_2) & _M64
    h ^= h >> 29
    h = (h * _P64_3) & _M64
    h ^= h >> 32
    return h
