"""Pure-Python twins of Spark hashes: a portable 32-bit hash (also in
DuckDB) and Spark's ``xxhash64``.

The near-dup/ANN family defaults to ``xxhash64`` (JVM-native, the 100TB
production path), but xxhash64 has no DuckDB twin, which left those
operators oracle-unverifiable (round-1 verdict item 4). This hash —
``int(md5(utf8(s))[:8], 16)`` — is computable bit-identically in all three
engines, so the driver-facing queries can run the SAME algorithm on both
sides of the correctness gate:

- Spark:  ``conv(substring(md5(s), 1, 8), 16, 10)`` cast to long
- DuckDB: ``CAST(('0x' || substr(md5(s), 1, 8)) AS BIGINT)``
- Python: ``int(hashlib.md5(s.encode()).hexdigest()[:8], 16)``

Range is [0, 2^32) — non-negative, so ``%`` agrees across engines too.

``py_xxhash64`` is the pure-Python twin of Spark's ``xxhash64`` on strings
(XXH64 over the UTF-8 bytes, seed 42; still no DuckDB twin). The lake uses
it to route a point read to its bucket in the driver, bit-identically with
the writer's ``pmod(xxhash64(key), N)``, at a few microseconds per key
instead of a Spark job.
"""

from __future__ import annotations

import hashlib
import struct

from pyspark.sql import Column
from pyspark.sql import functions as F


def portable_hash32(col: Column | str) -> Column:
    """Spark side of the portable hash (see module docstring)."""
    c = F.col(col) if isinstance(col, str) else col
    return F.conv(F.substring(F.md5(c), 1, 8), 16, 10).cast("long")


def portable_hash32_sql(expr: str) -> str:
    """DuckDB side — `expr` is a VARCHAR SQL expression."""
    return f"CAST(('0x' || substr(md5({expr}), 1, 8)) AS BIGINT)"


def py_hash32(s: str) -> int:
    """Pure-Python twin (used to compute query-side constants that must
    match what Spark computes for row-side values)."""
    return int(hashlib.md5(s.encode("utf-8")).hexdigest()[:8], 16)


# XXH64 primes; Python ints are unbounded, so every step masks to 64 bits
_M64 = (1 << 64) - 1
_P1 = 0x9E3779B185EBCA87
_P2 = 0xC2B2AE3D27D4EB4F
_P3 = 0x165667B19E3779F9
_P4 = 0x85EBCA77C2B2AE63
_P5 = 0x27D4EB2F165667C5


def _rotl(x: int, r: int) -> int:
    return ((x << r) | (x >> (64 - r))) & _M64


def _round(acc: int, lane: int) -> int:
    return (_rotl((acc + lane * _P2) & _M64, 31) * _P1) & _M64


def py_xxhash64(s: str, seed: int = 42) -> int:
    """Pure-Python twin of Spark's ``xxhash64`` on a string: XXH64 of its
    UTF-8 bytes (32-byte stripes, then 8-, 4- and 1-byte tails, then the
    avalanche), returned as a signed 64-bit value like Spark's ``long``.
    ``py_xxhash64(k) % n`` equals Spark's ``pmod(xxhash64(k), n)`` for n > 0."""
    b = s.encode("utf-8")
    n = len(b)
    i = 0
    if n >= 32:
        v1 = (seed + _P1 + _P2) & _M64
        v2 = (seed + _P2) & _M64
        v3 = seed & _M64
        v4 = (seed - _P1) & _M64
        while i + 32 <= n:
            l1, l2, l3, l4 = struct.unpack_from("<4Q", b, i)
            v1 = _round(v1, l1)
            v2 = _round(v2, l2)
            v3 = _round(v3, l3)
            v4 = _round(v4, l4)
            i += 32
        h = (_rotl(v1, 1) + _rotl(v2, 7) + _rotl(v3, 12) + _rotl(v4, 18)) & _M64
        for v in (v1, v2, v3, v4):
            h = (((h ^ _round(0, v)) * _P1) + _P4) & _M64
    else:
        h = (seed + _P5) & _M64
    h = (h + n) & _M64
    while i + 8 <= n:
        (lane,) = struct.unpack_from("<Q", b, i)
        h = ((_rotl(h ^ _round(0, lane), 27) * _P1) + _P4) & _M64
        i += 8
    if i + 4 <= n:
        (lane,) = struct.unpack_from("<I", b, i)
        h = ((_rotl(h ^ ((lane * _P1) & _M64), 23) * _P2) + _P3) & _M64
        i += 4
    while i < n:
        h = (_rotl(h ^ ((b[i] * _P5) & _M64), 11) * _P1) & _M64
        i += 1
    h = ((h ^ (h >> 33)) * _P2) & _M64
    h = ((h ^ (h >> 29)) * _P3) & _M64
    h ^= h >> 32
    return h - (1 << 64) if h >> 63 else h


def py_hash_embed(text: str, dim: int = 16, hash_fn: str = "xx64") -> list[float]:
    """Python twin of functions.vectors.hash_embed(text, dim, hash_fn):
    token → hash bucket (``py_hash32`` for md5, ``py_xxhash64`` otherwise)
    → L2-normalized counts. Must match the Spark expression bit-for-bit
    (same tokenization, same IEEE ops)."""
    import re

    tok_hash = py_hash32 if hash_fn == "md5" else py_xxhash64
    # F.trim strips only U+0020, and Java's \s is ASCII whitespace only
    toks = re.split(r"[ \t\n\x0b\f\r]+", text.strip(" ").lower())
    counts = [0.0] * dim
    for w in toks:
        counts[tok_hash(w) % dim] += 1.0
    n = 0.0
    for v in counts:
        n += v * v
    n = n**0.5
    n = max(n, 1e-12)
    return [v / n for v in counts]
