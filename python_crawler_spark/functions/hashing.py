"""Hashing kernels.

The data-plane hash is Spark's built-in ``F.xxhash64`` (JVM-side,
codegen'd, seed 42). This module provides the *matching* pure-Python
XXH64 so the sequential oracle simulator (tests/oracle.py) and
driver-side code can compute identical ids without a SparkSession.

Replaces the reference's non-portable Python-2 ``abs(url.__hash__())``
id scheme (/root/reference/crawler/weixin_public.py:312-313) per
SURVEY.md X7: north_rule mandates xxhash64.

XXH64 is a public algorithm (https://github.com/Cyan4973/xxHash,
BSD-2); this is an independent from-spec implementation.
"""

from __future__ import annotations

from pyspark.sql import Column
from pyspark.sql import functions as F

SPARK_XXHASH64_SEED = 42  # Spark's fixed seed for F.xxhash64
MASK64 = 0xFFFFFFFFFFFFFFFF

_P1 = 0x9E3779B185EBCA87
_P2 = 0xC2B2AE3D27D4EB4F
_P3 = 0x165667B19E3779F9
_P4 = 0x85EBCA77C2B2AE63
_P5 = 0x27D4EB2F165667C5


def _rotl(x: int, r: int) -> int:
    return ((x << r) | (x >> (64 - r))) & MASK64


def _round(acc: int, inp: int) -> int:
    acc = (acc + inp * _P2) & MASK64
    return (_rotl(acc, 31) * _P1) & MASK64


def _merge_round(acc: int, val: int) -> int:
    acc ^= _round(0, val)
    return (acc * _P1 + _P4) & MASK64


def xxhash64(data: bytes | str, seed: int = SPARK_XXHASH64_SEED) -> int:
    """XXH64 of ``data`` -> signed 64-bit int, identical to Spark's
    ``F.xxhash64(string_col)`` for UTF-8 strings (verified in tests)."""
    if isinstance(data, str):
        data = data.encode("utf-8")
    n = len(data)
    pos = 0

    if n >= 32:
        v1 = (seed + _P1 + _P2) & MASK64
        v2 = (seed + _P2) & MASK64
        v3 = seed & MASK64
        v4 = (seed - _P1) & MASK64
        while pos + 32 <= n:
            v1 = _round(v1, int.from_bytes(data[pos : pos + 8], "little"))
            v2 = _round(v2, int.from_bytes(data[pos + 8 : pos + 16], "little"))
            v3 = _round(v3, int.from_bytes(data[pos + 16 : pos + 24], "little"))
            v4 = _round(v4, int.from_bytes(data[pos + 24 : pos + 32], "little"))
            pos += 32
        h = (_rotl(v1, 1) + _rotl(v2, 7) + _rotl(v3, 12) + _rotl(v4, 18)) & MASK64
        h = _merge_round(h, v1)
        h = _merge_round(h, v2)
        h = _merge_round(h, v3)
        h = _merge_round(h, v4)
    else:
        h = (seed + _P5) & MASK64

    h = (h + n) & MASK64

    while pos + 8 <= n:
        k1 = _round(0, int.from_bytes(data[pos : pos + 8], "little"))
        h = (_rotl(h ^ k1, 27) * _P1 + _P4) & MASK64
        pos += 8
    if pos + 4 <= n:
        h = (
            _rotl(h ^ (int.from_bytes(data[pos : pos + 4], "little") * _P1) & MASK64, 23)
            * _P2
            + _P3
        ) & MASK64
        pos += 4
    while pos < n:
        h = (_rotl(h ^ (data[pos] * _P5) & MASK64, 11) * _P1) & MASK64
        pos += 1

    h ^= h >> 33
    h = (h * _P2) & MASK64
    h ^= h >> 29
    h = (h * _P3) & MASK64
    h ^= h >> 32

    # Spark longs are signed.
    return h - (1 << 64) if h >= (1 << 63) else h


def bucket_of(url_hash: int, n_buckets: int) -> int:
    """Driver/oracle-side bucket assignment, identical to Spark's
    ``pmod(url_hash, n_buckets)`` (non-negative modulus)."""
    return url_hash % n_buckets if url_hash >= 0 else (url_hash % n_buckets + n_buckets) % n_buckets


def bucket_col(url_hash: Column, n_buckets: int) -> Column:
    """Data-plane hash-bucket: pmod keeps buckets non-negative."""
    return F.pmod(url_hash, F.lit(n_buckets)).cast("int")
