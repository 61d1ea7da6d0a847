"""Bloom filter — mergeable membership sketch.

Semantics preserved from the reference (src/bloom/filter.jl):

* state: m-bit zeroed bitset + k probe count (filter.jl:1-11); we pack the
  bits into uint64 words;
* update: k probes derived from one initial 64-bit item hash via a salted
  rehash chain (filter.jl:38-56); set bit hash mod m;
* membership: all k bits set => maybe-present; false positives possible,
  never false negatives (filter.jl:64-74);
* merge = bitwise OR, same m required (filter.jl:125-133) — commutative,
  associative, idempotent => treeReduce-safe;
* cardinality estimate ``(m/k)*|ln(1-loadfactor)|`` (filter.jl:93-95),
  loadfactor = fraction of set bits (filter.jl:76-79);
* FPR = (1 - exp(-k*N/m))^k (docs/src/bloom.md:19);
* ``constrain`` planner: given two of {fpr, memory, capacity} solve the
  third with optimal (m, k) (filter.jl:135-209) — reimplemented from the
  standard closed forms (k = m/n * ln2; m = -n ln(fpr)/ln(2)^2).
"""

from __future__ import annotations

import math
import struct
from dataclasses import dataclass

import numpy as np

from . import codec
from .hashing import SALT_BLOOM, mix64, mix64_scalar, popcount64, xxhash64_any

_U = np.uint64
_HDR = struct.Struct("<QI")
# dense scatter while its byte mask is at most this many bytes per probe
_DENSE_BYTES_PER_PROBE = 32


def _scatter(words: np.ndarray, idx: np.ndarray) -> None:
    """OR bit ``i`` into the little-endian bitset ``words`` for each
    uint64 bit position ``i`` in ``idx`` (all < 64 * len(words)).

    Dense (a byte-per-bit mask, ``packbits``, one OR) costs O(m) time and
    m bytes; ``bitwise_or.at`` costs ~20-50 ns per probe. Measured (numpy
    1.26, 4-vCPU VM, k = 5-7): dense was 1.6-6x faster wherever m <= 18
    bits per probe, up to m = 2^26 (m = 2^18, 48k rows: 5.5-6.9 -> 1.1 ms),
    0.9-2x at 37 bits, and 2.5-5x slower at 146 (m = 2^26, 65k rows:
    11-21 -> 53-64 ms); hence the cut at 32, which also caps the mask at
    4x the probe array. Both set the same bits."""
    if words.size * 64 <= _DENSE_BYTES_PER_PROBE * idx.size:
        mask = np.zeros(words.size * 64, dtype=bool)
        mask[idx.view(np.int64)] = True  # every position < 2^63
        np.bitwise_or(words, np.packbits(mask, bitorder="little").view("<u8"), out=words)
    else:
        np.bitwise_or.at(words, (idx >> _U(6)).astype(np.int64), _U(1) << (idx & _U(63)))


class BloomFilter:
    __slots__ = ("m", "k", "words")

    def __init__(self, m: int, k: int, words: np.ndarray | None = None):
        if m < 1 or k < 1:  # reference constraint: filter.jl:3-8
            raise ValueError("m and k must be >= 1")
        self.m = int(m)
        self.k = int(k)
        nwords = (self.m + 63) // 64
        if words is None:
            words = np.zeros(nwords, dtype=np.uint64)
        elif words.shape != (nwords,) or words.dtype != np.uint64:
            raise ValueError("words shape/dtype mismatch")
        self.words = words

    # ------------------------------------------------------------- update
    def update_hashes(self, h: np.ndarray) -> None:
        """Set k bits per uint64 item hash; probe derivation is
        allocation-lean (shared scratch), scatter is `_scatter`."""
        if h.size == 0:
            return
        h = h.astype(np.uint64, copy=False)
        m = _U(self.m)
        pow2 = self.m & (self.m - 1) == 0
        mmask = _U(self.m - 1)
        n = h.size
        idx = np.empty(n * self.k, dtype=np.uint64)
        tmp = np.empty(n, dtype=np.uint64)
        for t in range(self.k):
            part = idx[t * n : (t + 1) * n]
            mix64(h, SALT_BLOOM + t, out=part, tmp=tmp)
            if pow2:  # mask beats the ~10x slower uint64 mod
                np.bitwise_and(part, mmask, out=part)
            else:
                np.mod(part, m, out=part)
        _scatter(self.words, idx)

    # -------------------------------------------------------------- query
    def _bit_positions(self, key, int_bytes: int = 8) -> list[int]:
        h0 = xxhash64_any(key, int_bytes=int_bytes)
        return [mix64_scalar(h0, SALT_BLOOM + t) % self.m for t in range(self.k)]

    def contains(self, key, int_bytes: int = 8) -> bool:
        """int_bytes=4 when the build keyed on an int32 column (hashing.py)."""
        return all(
            (int(self.words[i >> 6]) >> (i & 63)) & 1 for i in self._bit_positions(key, int_bytes)
        )

    def contains_hashes(self, h: np.ndarray) -> np.ndarray:
        """Vectorized membership for a batch of uint64 item hashes."""
        h = h.astype(np.uint64, copy=False)
        m = _U(self.m)
        out = np.ones(h.size, dtype=bool)
        for t in range(self.k):
            idx = mix64(h, SALT_BLOOM + t) % m
            word = (idx >> _U(6)).astype(np.int64)
            bit = _U(1) << (idx & _U(63))
            out &= (self.words[word] & bit) != 0
        return out

    # -------------------------------------------------------------- merge
    def merge(self, other: "BloomFilter") -> "BloomFilter":
        """Bitwise OR; same (m, k) required. (The reference's union! checks
        only m, filter.jl:125-133, while == also checks k — we require both,
        the strictly safer contract.)"""
        if (self.m, self.k) != (other.m, other.k):
            raise ValueError("Bloom parameter mismatch in merge")
        np.bitwise_or(self.words, other.words, out=self.words)
        return self

    # ------------------------------------------------------------ metrics
    def count_set_bits(self) -> int:
        return int(popcount64(self.words).astype(np.int64).sum())

    def loadfactor(self) -> float:
        return self.count_set_bits() / self.m  # filter.jl:76-79

    def cardinality(self) -> float:
        """(m/k)|ln(1-lf)|; inf when the filter is full (filter.jl:93-95)."""
        lf = self.loadfactor()
        if lf >= 1.0:
            return math.inf
        return (self.m / self.k) * abs(math.log(1.0 - lf))

    @staticmethod
    def expected_fpr(m: int, k: int, n: int) -> float:
        return (1.0 - math.exp(-k * n / m)) ** k  # docs/src/bloom.md:19

    def is_empty(self) -> bool:
        return not self.words.any()

    def clear(self) -> None:
        self.words.fill(0)

    def copy(self) -> "BloomFilter":
        return BloomFilter(self.m, self.k, self.words.copy())

    def __eq__(self, other) -> bool:
        return (
            isinstance(other, BloomFilter)
            and self.m == other.m
            and self.k == other.k
            and bool(np.array_equal(self.words, other.words))
        )

    def __hash__(self):
        return hash((self.m, self.k, self.words.tobytes()))

    def sizeof(self) -> int:
        return self.words.nbytes

    # ---------------------------------------------------------------- io
    def to_bytes(self) -> bytes:
        return codec.wrap(codec.KIND_BLOOM, _HDR.pack(self.m, self.k), self.words.tobytes())

    @classmethod
    def from_bytes(cls, data: bytes) -> "BloomFilter":
        header, payload = codec.unwrap(data, codec.KIND_BLOOM)
        m, k = _HDR.unpack(header)
        words = np.frombuffer(payload, dtype=np.uint64).copy()
        return cls(m, k, words)


@dataclass
class BloomPlan:
    m: int  # bits
    k: int
    fpr: float
    memory_bytes: int
    capacity: int


def constrain_bloom(
    fpr: float | None = None,
    memory: int | None = None,
    capacity: int | None = None,
) -> BloomPlan:
    """Sizing planner: give exactly two of {fpr, memory(bytes), capacity};
    the third is solved (reference constrain(BloomFilter; ...),
    filter.jl:135-209). Uses the standard closed forms
    m = -n*ln(p)/ln(2)^2 and k = round(ln(2)*m/n), then reports the
    achieved fpr (1-exp(-kn/m))^k."""
    given = [fpr is not None, memory is not None, capacity is not None]
    if sum(given) != 2:
        raise ValueError("exactly two of fpr/memory/capacity must be given")
    ln2 = math.log(2.0)
    if fpr is not None and capacity is not None:
        m = int(math.ceil(-capacity * math.log(fpr) / (ln2 * ln2)))
    elif fpr is not None and memory is not None:
        m = memory * 8
        capacity = int(math.floor(-m * ln2 * ln2 / math.log(fpr)))
    else:  # memory + capacity
        m = memory * 8
    m = max(64, m)
    n = max(1, capacity)
    k = max(1, int(round(ln2 * m / n)))
    achieved = BloomFilter.expected_fpr(m, k, n)
    return BloomPlan(m=m, k=k, fpr=achieved, memory_bytes=(m + 7) // 8, capacity=n)
