"""Engine-portable 64-bit hashing + a seeded affine minhash family.

Spark's `xxhash64` has no DuckDB twin, so operators built on it can only
get rows-only verification from the driver's correctness gate. Everything
here derives from md5 — bit-identical in Spark (`F.md5`), DuckDB (`md5`)
and Python (`hashlib.md5`) — so the MinHash-LSH / SimHash family sits
under the full rows+schema+value-hash gate instead.

- ``portable_hash64``: first 15 hex chars of the md5 digest as a BIGINT
  (60 bits, always positive; headroom below 2^63 keeps later arithmetic
  overflow-free on engines that error on BIGINT overflow).
- minhash family: affine permutations ``(a_i * (h mod p) + b_i) mod p``
  over the Mersenne prime p = 2^31 - 1. Products stay < 2^62, so the
  arithmetic is exact 64-bit on every engine — and, vs the previous
  K×xxhash64 family, replaces K hash calls per shingle with one md5 plus
  K integer multiply-adds (all inside WholeStageCodegen).
- the constants are SEEDED LITERALS generated once here and baked into
  both the Spark plan and the oracle SQL, so the two can never drift.
"""

from __future__ import annotations

import hashlib
import random

from pyspark.sql import functions as F

MERSENNE_P = 2_147_483_647          # 2^31 - 1
_FAMILY_SEED = 20260817


def minhash_params(k: int) -> list[tuple[int, int]]:
    """First k (a, b) affine constants of the seeded family (stable prefix:
    params(8) is a prefix of params(16))."""
    rng = random.Random(_FAMILY_SEED)
    return [
        (rng.randrange(1, MERSENNE_P), rng.randrange(0, MERSENNE_P))
        for _ in range(k)
    ]


def portable_hash64(col) -> F.Column:
    """md5-derived 60-bit positive hash as a Spark Column."""
    c = F.col(col) if isinstance(col, str) else col
    return F.conv(F.substring(F.md5(c), 1, 15), 16, 10).cast("bigint")


def fast_hash64(col) -> F.Column:
    """xxhash64 production hash — ~5x cheaper per shingle than the md5
    path but with NO DuckDB twin, so operators using it get rows-only
    verification. The affine minhash family composes identically (inputs
    are pre-reduced mod p downstream); `portable_hash64` stays the
    oracle-checked default, and pair-output parity between the two
    families is pytest-gated (test_dedup_similarity)."""
    c = F.col(col) if isinstance(col, str) else col
    return F.xxhash64(c)


def portable_hash64_py(s: str) -> int:
    """Driver-side twin of ``portable_hash64``."""
    return int(hashlib.md5(s.encode("utf-8")).hexdigest()[:15], 16)


def portable_hash64_sql(expr: str) -> str:
    """DuckDB twin of ``portable_hash64`` over any VARCHAR expression."""
    return f"CAST(('0x' || substr(md5({expr}), 1, 15)) AS BIGINT)"


_P1 = 0x9E3779B185EBCA87
_P2 = 0xC2B2AE3D27D4EB4F
_P3 = 0x165667B19E3779F9
_P4 = 0x85EBCA77C2B2AE63
_P5 = 0x27D4EB2F165667C5
_M64 = (1 << 64) - 1


def _rotl(x: int, r: int) -> int:
    return ((x << r) | (x >> (64 - r))) & _M64


def xxh64_py(data: bytes) -> int:
    """Pure-Python XXH64 (Yann Collet's public spec), SIGNED 64-bit result.

    Exact twin of Spark's ``F.xxhash64(string_col)`` for a single string
    column: Spark hashes the UTF-8 bytes with XXH64 and the session's
    default seed 42, returning a signed long. This gives the driver-side
    linking twin (`linking.verified_edges_py`) bit-identical signatures to
    the distributed `hash_family="fast"` plan — parity is pytest-gated
    against Spark in tests/test_phash_xxh64.py over random unicode strings.
    """
    seed = 42
    length = len(data)
    i = 0
    if length >= 32:
        v1 = (seed + _P1 + _P2) & _M64
        v2 = (seed + _P2) & _M64
        v3 = seed & _M64
        v4 = (seed - _P1) & _M64
        while i <= length - 32:
            k = int.from_bytes(data[i:i + 8], "little")
            v1 = (_rotl((v1 + k * _P2) & _M64, 31) * _P1) & _M64
            k = int.from_bytes(data[i + 8:i + 16], "little")
            v2 = (_rotl((v2 + k * _P2) & _M64, 31) * _P1) & _M64
            k = int.from_bytes(data[i + 16:i + 24], "little")
            v3 = (_rotl((v3 + k * _P2) & _M64, 31) * _P1) & _M64
            k = int.from_bytes(data[i + 24:i + 32], "little")
            v4 = (_rotl((v4 + k * _P2) & _M64, 31) * _P1) & _M64
            i += 32
        h = (_rotl(v1, 1) + _rotl(v2, 7) + _rotl(v3, 12) + _rotl(v4, 18)) & _M64
        for v in (v1, v2, v3, v4):
            h ^= (_rotl((v * _P2) & _M64, 31) * _P1) & _M64
            h = ((h * _P1) + _P4) & _M64
    else:
        h = (seed + _P5) & _M64
    h = (h + length) & _M64
    while i <= length - 8:
        k = int.from_bytes(data[i:i + 8], "little")
        h ^= (_rotl((k * _P2) & _M64, 31) * _P1) & _M64
        h = ((_rotl(h, 27) * _P1) + _P4) & _M64
        i += 8
    if i <= length - 4:
        h ^= (int.from_bytes(data[i:i + 4], "little") * _P1) & _M64
        h = ((_rotl(h, 23) * _P2) + _P3) & _M64
        i += 4
    while i < length:
        h ^= (data[i] * _P5) & _M64
        h = (_rotl(h, 11) * _P1) & _M64
        i += 1
    h ^= h >> 33
    h = (h * _P2) & _M64
    h ^= h >> 29
    h = (h * _P3) & _M64
    h ^= h >> 32
    return h - (1 << 64) if h >= (1 << 63) else h


def fast_hash64_py(s: str) -> int:
    """Driver-side twin of ``fast_hash64`` (Spark ``xxhash64``, seed 42)."""
    return xxh64_py(s.encode("utf-8"))


def _family(name: str, portable, fast):
    if name not in ("portable", "fast"):
        raise ValueError(f"unknown hash_family {name!r} (portable | fast)")
    return fast if name == "fast" else portable


def shingle_hash(family: str):
    """Spark Column hash function of a per-shingle hash family: "portable"
    (md5-derived, DuckDB-twin-able — the oracle-gated default) or "fast"
    (xxhash64). Any other name raises ValueError."""
    return _family(family, portable_hash64, fast_hash64)


def shingle_hash_py(family: str):
    """Python twin of ``shingle_hash`` (bit-identical per family)."""
    return _family(family, portable_hash64_py, fast_hash64_py)


def affine_minhash(h31_col, a: int, b: int) -> F.Column:
    """One member of the minhash family over a pre-reduced (mod p) hash."""
    return F.pmod(F.lit(a) * h31_col + F.lit(b), F.lit(MERSENNE_P))
