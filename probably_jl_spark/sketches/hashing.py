"""Deterministic hashing contract shared by the JVM and Python sides.

Design (SURVEY.md §1.1): every sketch consumes an already-computed 64-bit
item hash. On the Spark side that hash is the built-in ``xxhash64(cols...)``
(JVM, codegen'd, seed=42). This module provides

* a pure-Python scalar ``xxhash64`` bit-identical to Spark's
  ``org.apache.spark.sql.catalyst.expressions.XxHash64`` for long / string /
  multi-column inputs, so driver-side point queries (CMS ``getindex``, Bloom
  ``in``) hash keys exactly like the distributed build did;
* a vectorized numpy ``xxhash64_long_array`` for int64 columns;
* ``mix64`` — a splitmix64-style salt-mix used to derive the per-table /
  per-probe / fingerprint hash chains, mirroring the reference's
  ``hash(initial, salt)`` chains (reference: src/countmin/sketch.jl:84,
  src/bloom/filter.jl:42, src/cuckoo/bucket.jl:3,46) without per-row Python;
* vectorized popcount / trailing-zeros helpers (numpy 1.x has no
  ``bitwise_count``).

All array functions take/return ``np.uint64`` arrays.
"""

from __future__ import annotations

import numpy as np

MASK64 = 0xFFFFFFFFFFFFFFFF

# XXH64 primes (public domain, Yann Collet's xxHash spec).
_P1 = 0x9E3779B185EBCA87
_P2 = 0xC2B2AE3D27D4EB4F
_P3 = 0x165667B19E3779F9
_P4 = 0x85EBCA77C2B2AE63
_P5 = 0x27D4EB2F165667C5

SPARK_SEED = 42  # Spark's default seed for xxhash64(...)

# Distinct base salts per structure so probe chains are decorrelated.
SALT_CMS = 0x1B873593
SALT_BLOOM = 0xCC9E2D51
SALT_CUCKOO_FP = 0xF00D1E5A  # fingerprint derivation
SALT_CUCKOO_ALT = 0x0B4C5CE5  # alternate-index map h(fp)
SALT_MINHASH = 0x5BD1E995
SALT_KLL = 0x27220A95


def _rotl(x: int, r: int) -> int:
    return ((x << r) | (x >> (64 - r))) & MASK64


def _fmix(h: int) -> int:
    h ^= h >> 33
    h = (h * _P2) & MASK64
    h ^= h >> 29
    h = (h * _P3) & MASK64
    h ^= h >> 32
    return h


def xxhash64_long(value: int, seed: int = SPARK_SEED) -> int:
    """XXH64 of one 64-bit little-endian integer — matches Spark's
    ``xxhash64(CAST(v AS BIGINT))``."""
    value &= MASK64
    h = (seed + _P5 + 8) & MASK64
    k1 = _rotl((value * _P2) & MASK64, 31)
    k1 = (k1 * _P1) & MASK64
    h ^= k1
    h = ((_rotl(h, 27) * _P1) + _P4) & MASK64
    return _fmix(h)


def xxhash64_int(value: int, seed: int = SPARK_SEED) -> int:
    """XXH64 of one 32-bit int — matches Spark's xxhash64 on int columns."""
    value &= 0xFFFFFFFF
    h = (seed + _P5 + 4) & MASK64
    h ^= (value * _P1) & MASK64
    h = ((_rotl(h, 23) * _P2) + _P3) & MASK64
    return _fmix(h)


def xxhash64_bytes(data: bytes, seed: int = SPARK_SEED) -> int:
    """Full XXH64 over a byte string — matches Spark's xxhash64 on strings
    (UTF-8 bytes) and binary columns."""
    n = len(data)
    i = 0
    if n >= 32:
        v1 = (seed + _P1 + _P2) & MASK64
        v2 = (seed + _P2) & MASK64
        v3 = seed & MASK64
        v4 = (seed - _P1) & MASK64
        while i + 32 <= n:
            k = int.from_bytes(data[i : i + 8], "little")
            v1 = (_rotl((v1 + k * _P2) & MASK64, 31) * _P1) & MASK64
            k = int.from_bytes(data[i + 8 : i + 16], "little")
            v2 = (_rotl((v2 + k * _P2) & MASK64, 31) * _P1) & MASK64
            k = int.from_bytes(data[i + 16 : i + 24], "little")
            v3 = (_rotl((v3 + k * _P2) & MASK64, 31) * _P1) & MASK64
            k = int.from_bytes(data[i + 24 : i + 32], "little")
            v4 = (_rotl((v4 + k * _P2) & MASK64, 31) * _P1) & MASK64
            i += 32
        h = (_rotl(v1, 1) + _rotl(v2, 7) + _rotl(v3, 12) + _rotl(v4, 18)) & MASK64
        for v in (v1, v2, v3, v4):
            h ^= (_rotl((v * _P2) & MASK64, 31) * _P1) & MASK64
            h = ((h * _P1) + _P4) & MASK64
    else:
        h = (seed + _P5) & MASK64
    h = (h + n) & MASK64
    while i + 8 <= n:
        k = int.from_bytes(data[i : i + 8], "little")
        h ^= (_rotl((k * _P2) & MASK64, 31) * _P1) & MASK64
        h = ((_rotl(h, 27) * _P1) + _P4) & MASK64
        i += 8
    if i + 4 <= n:
        k = int.from_bytes(data[i : i + 4], "little")
        h ^= (k * _P1) & MASK64
        h = ((_rotl(h, 23) * _P2) + _P3) & MASK64
        i += 4
    while i < n:
        h ^= (data[i] * _P5) & MASK64
        h = (_rotl(h, 11) * _P1) & MASK64
        i += 1
    return _fmix(h)


def xxhash64_any(value, seed: int = SPARK_SEED, int_bytes: int = 8) -> int:
    """Hash one Python value the way Spark's xxhash64 hashes the matching
    column type (str -> UTF-8 bytes path; int -> long path by default).
    Spark hashes IntegerType columns through a 4-byte path: pass
    ``int_bytes=4`` when the distributed build keyed on an int32 column,
    or driver-side point queries will disagree with the build."""
    if value is None:
        return seed & MASK64  # Spark: null leaves the running hash unchanged
    if isinstance(value, bool):
        return xxhash64_int(1 if value else 0, seed)
    if isinstance(value, (int, np.integer)):
        if int_bytes == 4:
            return xxhash64_int(int(value), seed)
        return xxhash64_long(int(value), seed)
    if isinstance(value, str):
        return xxhash64_bytes(value.encode("utf-8"), seed)
    if isinstance(value, (bytes, bytearray)):
        return xxhash64_bytes(bytes(value), seed)
    raise TypeError(f"unsupported key type for xxhash64: {type(value)}")


def xxhash64_cols(*values, seed: int = SPARK_SEED, int_bytes: int = 8) -> int:
    """Spark's multi-column ``xxhash64(c1, c2, ...)``: the hash of column i
    seeds the hash of column i+1; nulls are skipped. ``int_bytes=4`` for
    IntegerType (int32) columns — see xxhash64_any."""
    h = seed
    for v in values:
        if v is None:
            continue
        h = xxhash64_any(v, h, int_bytes=int_bytes)
    return h & MASK64


# ---------------------------------------------------------------- vectorized

_U = np.uint64


def xxhash64_long_array(values: np.ndarray, seed: int = SPARK_SEED) -> np.ndarray:
    """Vectorized XXH64 of int64/uint64 arrays; bit-identical to
    ``xxhash64_long`` / Spark's xxhash64 on a BIGINT column."""
    v = values.astype(np.uint64, copy=False)
    with np.errstate(over="ignore"):
        h = _U((seed + _P5 + 8) & MASK64)
        k1 = v * _U(_P2)
        k1 = (k1 << _U(31)) | (k1 >> _U(33))
        k1 = k1 * _U(_P1)
        h = h ^ k1
        h = ((h << _U(27)) | (h >> _U(37))) * _U(_P1) + _U(_P4)
        h = h ^ (h >> _U(33))
        h = h * _U(_P2)
        h = h ^ (h >> _U(29))
        h = h * _U(_P3)
        h = h ^ (h >> _U(32))
    return h


def mix64(h: np.ndarray, salt: int, out: np.ndarray | None = None, tmp: np.ndarray | None = None) -> np.ndarray:
    """Splitmix64-finalizer salt-mix: cheap decorrelated rehash used for the
    per-table (CMS), per-probe (Bloom) and fingerprint (cuckoo) hash chains.
    Vectorized; pass preallocated ``out``/``tmp`` uint64 buffers to make the
    call allocation-free (the hot build loop is memory-bandwidth-bound)."""
    with np.errstate(over="ignore"):
        if out is None:
            out = np.empty_like(h)
        if tmp is None:
            tmp = np.empty_like(h)
        np.add(h, _U((salt * 0x9E3779B97F4A7C15) & MASK64), out=out)
        np.right_shift(out, _U(30), out=tmp)
        np.bitwise_xor(out, tmp, out=out)
        np.multiply(out, _U(0xBF58476D1CE4E5B9), out=out)
        np.right_shift(out, _U(27), out=tmp)
        np.bitwise_xor(out, tmp, out=out)
        np.multiply(out, _U(0x94D049BB133111EB), out=out)
        np.right_shift(out, _U(31), out=tmp)
        np.bitwise_xor(out, tmp, out=out)
    return out


def mix64_scalar(h: int, salt: int) -> int:
    x = (h + salt * 0x9E3779B97F4A7C15) & MASK64
    x ^= x >> 30
    x = (x * 0xBF58476D1CE4E5B9) & MASK64
    x ^= x >> 27
    x = (x * 0x94D049BB133111EB) & MASK64
    x ^= x >> 31
    return x


_POP16 = np.array([bin(i).count("1") for i in range(1 << 16)], dtype=np.uint8)


def popcount64(x: np.ndarray) -> np.ndarray:
    """Per-element popcount of a uint64 array (numpy<2 lacks
    bitwise_count): four 16-bit table lookups (64 KiB table) — the one
    shared implementation (bloom loadfactor, SimHash hamming probes)."""
    x = np.ascontiguousarray(x, dtype=np.uint64)
    return (
        _POP16[(x & np.uint64(0xFFFF)).astype(np.int64)]
        + _POP16[((x >> np.uint64(16)) & np.uint64(0xFFFF)).astype(np.int64)]
        + _POP16[((x >> np.uint64(32)) & np.uint64(0xFFFF)).astype(np.int64)]
        + _POP16[((x >> np.uint64(48)) & np.uint64(0xFFFF)).astype(np.int64)]
    ).astype(np.uint8)


def trailing_zeros64(x: np.ndarray) -> np.ndarray:
    """Per-element count of trailing zero bits; x must have no zero elements
    (callers OR in a guard bit first). The isolated low bit (x & -x) is an
    exact power of two <= 2^63, so float64 conversion is lossless and
    frexp's exponent gives tz+1 directly — ~6x faster than a popcount
    table gather."""
    with np.errstate(over="ignore"):
        low = (x & (~x + _U(1))).astype(np.float64)
    return (np.frexp(low)[1] - 1).astype(np.uint8)


def weight_sums(idx: np.ndarray, w: np.ndarray, n: int) -> np.ndarray:
    """Exact per-bin sums of non-negative integer weights ``w`` over bins
    ``idx`` (each < ``n``): the CMS cell and MG key sums of a count
    column. One float64 ``bincount`` while no sum can reach 2^53, past
    which float64 rounds; otherwise Python ints in an object array, exact
    past 2^64 - 1 for the caller to saturate or refuse."""
    if not w.size or int(w.max()) < (1 << 53) // w.size:
        return np.bincount(idx, weights=w.astype(np.float64), minlength=n).astype(np.uint64)
    out = np.zeros(n, dtype=object)
    np.add.at(out, idx, np.array(w.astype(np.uint64).tolist(), dtype=object))
    return out
