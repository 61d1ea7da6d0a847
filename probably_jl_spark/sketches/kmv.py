"""KMV — k-minimum-values distinct sketch with theta-style set algebra.
[NEW: not in the reference repo]

Derived from published work only: K. Beyer, P. J. Haas, B. Reinwald,
Y. Sismanis, R. Gemulla, "On Synopses for Distinct-Value Estimation Under
Multiset Operations" (SIGMOD 2007) — the unbiased (k-1)/U_(k) estimator
and its RSE ~ 1/sqrt(k-2) — and A. Dasgupta, K. Lang, L. Rhodes,
J. Thaler, "A Framework for Estimating Stream Expression Cardinalities"
(EDBT 2016) — the theta-sketch view that makes intersection / difference
estimates well-defined across sketches with different thresholds.

Why next to HLL (SURVEY.md §2.5 rationale): HLL answers union-only
cardinality; intersections go through inclusion-exclusion whose absolute
error scales with the SUM of the three estimates
(functions.intersection_cardinality). A KMV sketch keeps actual hash
samples, so `A ∩ B` and `A \\ B` are estimated directly on the retained
sample below theta = min(theta_A, theta_B) with error proportional to
1/sqrt(k) of the UNION — tighter whenever the intersection is small
relative to the operands, the common shape for segment-overlap questions
at 10^12-turn scale.

State: the k smallest DISTINCT uint64 item hashes seen, sorted ascending
(≤ 8k bytes). The item hash is the same Spark-side ``xxhash64`` every
other sketch here consumes, treated as uniform on [0, 2^64).

* update: ``np.unique`` on the batch, threshold filter, merge-sorted
  union — fully vectorized, no per-row Python;
* estimate: exact |state| while the sketch holds < k hashes (it has seen
  every distinct hash), else (k-1) / theta with
  theta = U_(k) / 2^64 (Beyer et al. §4.2, unbiased);
* merge: set union keeping the k smallest — commutative, associative and
  BYTE-exact (unlike KLL/t-digest there is no merge-order sensitivity),
  hence treeReduce/checkpoint-resume safe with no alignment machinery;
* set ops: retain both sides' hashes below theta = min(theta_A, theta_B);
  |retained ∩| / theta estimates the intersection (EDBT 2016 §2).
"""

from __future__ import annotations

import math
import struct

import numpy as np

from . import codec

_HDR = struct.Struct("<II")  # k, count
_TWO64 = float(1 << 64)


def mins_to_bytes(k: int, mins: np.ndarray) -> bytes:
    """Wire bytes for a k-min set given directly as a sorted uint64 array
    (identical to ``KMV(k, mins).to_bytes()``) — the grouped fast path
    emits one blob per group through this without object construction."""
    return codec.wrap(
        codec.KIND_KMV, _HDR.pack(k, mins.size), mins.astype("<u8", copy=False).tobytes()
    )


def mins_from_bytes(data: bytes) -> tuple[int, np.ndarray]:
    """(k, sorted uint64 mins) from the wire without object construction
    — the grouped fast-merge path decodes one blob per state row."""
    header, payload = codec.unwrap(data, codec.KIND_KMV)
    k, count = _HDR.unpack(header)
    return k, np.frombuffer(payload[: 8 * count], dtype="<u8")


# fixed 12-byte KMV blob head up to the count field:
# MAGIC | kind | version=1 | hlen=8 | k(<u4); count(<u4) follows at +12
_PREFIX = codec.MAGIC + bytes([codec.KIND_KMV, 1, 8, 0])


def mins_many_to_buf(
    k: int, mins: np.ndarray, bounds: np.ndarray
) -> tuple[np.ndarray, np.ndarray]:
    """(uint8 buf, int64 offs): wire for MANY k-min sets laid end to end
    — blob i is ``buf[offs[i]:offs[i+1]]``, byte-identical to
    ``mins_to_bytes(k, ...)`` per group. The grouped and rollup builders
    wrap this into a BinaryArray directly (the HLL twin is
    ``packed_entries_many_to_buf``)."""
    bounds = np.asarray(bounds, dtype=np.int64)
    counts = np.diff(bounds)
    n = counts.size
    if n == 0:
        return np.zeros(0, dtype=np.uint8), np.zeros(1, dtype=np.int64)
    offs = np.zeros(n + 1, dtype=np.int64)
    np.cumsum(16 + 8 * counts, out=offs[1:])
    buf = np.zeros(int(offs[-1]), dtype=np.uint8)
    head = np.frombuffer(_PREFIX + struct.pack("<I", k), dtype=np.uint8)
    buf[(offs[:-1, None] + np.arange(12)).ravel()] = np.tile(head, n)
    cnt_b = counts.astype("<u4").view(np.uint8)
    buf[(offs[:-1, None] + (12 + np.arange(4))).ravel()] = cnt_b
    mins_b = np.ascontiguousarray(mins.astype("<u8", copy=False)).view(np.uint8)
    if mins_b.size:
        pos = np.repeat(offs[:-1] + 16, counts * 8) + (
            np.arange(mins_b.size) - np.repeat(8 * bounds[:-1], counts * 8)
        )
        buf[pos] = mins_b
    return buf, offs


def mins_many_from_bytes(blobs) -> tuple[np.ndarray, np.ndarray]:
    """(per-blob min counts int64, mins uint64 concatenated in blob order)
    — vectorized decode of a sequence (or pyarrow binary array) of KMV
    state blobs; blobs that don't match this encoder's own layout fall
    back to the validating scalar decoder and splice in order. k is NOT returned (callers own
    both wire ends; same contract as the scalar absorb loop)."""
    n = len(blobs)
    if n == 0:
        return np.empty(0, dtype=np.int64), np.empty(0, dtype=np.uint64)
    flat, offs = codec.blob_buffers(blobs)
    lens = np.diff(offs)
    starts = offs[:-1]
    head = np.frombuffer(_PREFIX, dtype=np.uint8)
    ok = lens >= 16
    sel = np.flatnonzero(ok)
    counts = np.zeros(n, dtype=np.int64)
    if sel.size:
        probe = flat[(starts[sel, None] + np.arange(8)).reshape(-1)].reshape(-1, 8)
        ok[sel] &= (probe == head).all(axis=1)
        cnt = flat[(starts[sel, None] + (12 + np.arange(4))).reshape(-1)].view("<u4")
        counts[sel] = np.where(ok[sel], cnt.astype(np.int64), 0)
    # the wire's count field is authoritative (mins_from_bytes slices the
    # payload to 8*count); a blob whose length can't hold count mins is
    # not ours — send it to the validating decoder
    ok &= lens >= 16 + 8 * counts
    counts[~ok] = 0
    dec = {}
    for i in np.flatnonzero(~ok).tolist():
        dec[i] = mins_from_bytes(flat[offs[i] : offs[i + 1]].tobytes())[1]
        counts[i] = dec[i].size
    out_b = np.zeros(n + 1, dtype=np.int64)
    np.cumsum(counts, out=out_b[1:])
    out = np.empty(int(out_b[-1]), dtype=np.uint64)
    good = np.flatnonzero(ok)
    nb = counts[good] * 8
    if nb.sum():
        src = np.repeat(starts[good] + 16, nb) + (
            np.arange(int(nb.sum())) - np.repeat(np.concatenate([[0], np.cumsum(nb)[:-1]]), nb)
        )
        dst = np.repeat(out_b[good], counts[good]) + (
            np.arange(int(counts[good].sum()))
            - np.repeat(np.concatenate([[0], np.cumsum(counts[good])[:-1]]), counts[good])
        )
        out[dst] = flat[src].view("<u8")
    for i, e in dec.items():
        out[out_b[i] : out_b[i + 1]] = e
    return counts, out


class KMV:
    __slots__ = ("k", "mins")

    def __init__(self, k: int = 1024, mins: np.ndarray | None = None):
        if k < 16:
            raise ValueError("k must be >= 16")
        self.k = int(k)
        if mins is None:
            mins = np.empty(0, dtype=np.uint64)
        if mins.dtype != np.uint64:
            raise ValueError("mins must be uint64")
        self.mins = mins

    # ------------------------------------------------------------- update
    def update_hashes(self, h: np.ndarray) -> None:
        """Fold a batch of uint64 item hashes into the k-min set.
        Batch-split independent: the state is a pure function of the SET
        of hashes seen, so any slicing (Arrow batches, partitions,
        resume points) yields identical bytes."""
        if h.size == 0:
            return
        h = h.astype(np.uint64, copy=False)
        if self.mins.size == self.k:
            # only candidates strictly below the current k-th minimum can
            # enter; the O(n) filter runs BEFORE the O(n log n) unique so
            # steady-state batches sort only the (tiny) survivor set
            h = h[h < self.mins[-1]]
            if h.size == 0:
                return
        hs = np.unique(h)
        merged = np.union1d(self.mins, hs)
        self.mins = merged[: self.k]

    # -------------------------------------------------------------- query
    def _theta_raw(self) -> int:
        """Exclusive retention bound as a raw hash value: hashes < theta
        are the retained sample. 2^64 (= keep everything) while the
        sketch is not yet full; else the k-th minimum U_(k)."""
        if self.mins.size < self.k:
            return 1 << 64
        return int(self.mins[-1])

    def _retained(self, bound: int) -> np.ndarray:
        if bound >= (1 << 64):
            return self.mins
        return self.mins[self.mins < np.uint64(bound)]

    def cardinality(self) -> float:
        """Distinct estimate: exact below k, else the unbiased
        (k-1)/theta (Beyer et al. 2007 §4.2)."""
        if self.mins.size < self.k:
            return float(self.mins.size)
        theta = self._theta_raw() / _TWO64
        if theta == 0.0:
            return 0.0
        return (self.k - 1) / theta

    estimate = cardinality

    @staticmethod
    def relative_std_error(k: int) -> float:
        """RSE of the full-sketch estimator ~ 1/sqrt(k-2)
        (Beyer et al. 2007, Theorem 1)."""
        return 1.0 / math.sqrt(k - 2)

    # ------------------------------------------------------------ set ops
    def _pairwise(self, other: "KMV") -> tuple[np.ndarray, np.ndarray, float]:
        bound = min(self._theta_raw(), other._theta_raw())
        return self._retained(bound), other._retained(bound), bound / _TWO64

    def union_cardinality(self, other: "KMV") -> float:
        """|A ∪ B|. Equal-k pair: the lossless byte-exact merge's own
        estimator. Unequal k (the other set ops already accept this —
        theta semantics are defined across thresholds): the standard
        theta-sketch union estimate |{retained hashes below min-theta}|
        / theta (EDBT 2016 §2)."""
        if not isinstance(other, KMV):
            raise TypeError("union_cardinality expects a KMV sketch")
        if other.k == self.k:
            return self.merge(other).cardinality()
        a, b, theta = self._pairwise(other)
        if theta == 0.0:
            return 0.0
        u = np.union1d(a, b)
        if theta >= 1.0:
            return float(u.size)
        return u.size / theta

    def intersection_cardinality(self, other: "KMV") -> float:
        """|A ∩ B| ≈ |{retained hashes below min-theta present in both}|
        / theta (theta framework, EDBT 2016 §2). Exact (up to 64-bit hash
        collisions) when both sketches are below capacity."""
        a, b, theta = self._pairwise(other)
        if theta == 0.0:
            return 0.0
        inter = np.intersect1d(a, b, assume_unique=True)
        return inter.size / theta

    def difference_cardinality(self, other: "KMV") -> float:
        """|A \\ B| ≈ |retained(A) below min-theta not in B| / theta."""
        a, b, theta = self._pairwise(other)
        if theta == 0.0:
            return 0.0
        diff = np.setdiff1d(a, b, assume_unique=True)
        return diff.size / theta

    def jaccard(self, other: "KMV") -> float:
        a, b, _ = self._pairwise(other)
        u = np.union1d(a, b).size
        if u == 0:
            return 0.0
        return np.intersect1d(a, b, assume_unique=True).size / u

    # -------------------------------------------------------------- merge
    def merge(self, other: "KMV") -> "KMV":
        """Set union keeping the k smallest. Commutative + associative
        with BYTE-exact states (treeReduce order never matters)."""
        if not isinstance(other, KMV) or other.k != self.k:
            raise ValueError("can only merge KMV sketches with equal k")
        merged = np.union1d(self.mins, other.mins)
        return KMV(self.k, merged[: self.k])

    # -------------------------------------------------------- bookkeeping
    def is_empty(self) -> bool:
        return self.mins.size == 0

    def empty(self) -> None:
        self.mins = np.empty(0, dtype=np.uint64)

    def copy(self) -> "KMV":
        return KMV(self.k, self.mins.copy())

    def __eq__(self, other) -> bool:
        return (
            isinstance(other, KMV)
            and self.k == other.k
            and self.mins.size == other.mins.size
            and bool(np.all(self.mins == other.mins))
        )

    def __hash__(self):
        return hash((self.k, self.mins.size))

    def __sizeof__(self) -> int:
        return 8 + self.mins.nbytes

    # ---------------------------------------------------------------- io
    def to_bytes(self) -> bytes:
        # '<u8' pinned: the codec contract is little-endian payloads, and
        # the grouped fast path (mins_to_bytes) must emit identical bytes
        # on any host
        hdr = _HDR.pack(self.k, self.mins.size)
        return codec.wrap(codec.KIND_KMV, hdr, self.mins.astype("<u8", copy=False).tobytes())

    @classmethod
    def from_bytes(cls, data: bytes) -> "KMV":
        header, payload = codec.unwrap(data, codec.KIND_KMV)
        k, count = _HDR.unpack(header)
        mins = np.frombuffer(payload[: 8 * count], dtype="<u8").astype(np.uint64)
        return cls(k, mins)
