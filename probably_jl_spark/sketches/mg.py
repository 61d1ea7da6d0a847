"""Misra-Gries — mergeable heavy-hitters summary with deterministic
error accounting. [NEW: not in the reference repo]

Derived from published work only: J. Misra, D. Gries, "Finding Repeated
Elements" (Sci. Comp. Prog. 1982) — the k-counter summary — and
P. K. Agarwal, G. Cormode, Z. Huang, J. M. Phillips, Z. Wei, K. Yi,
"Mergeable Summaries" (PODS 2012 / TODS 2013, §3) — the combine-then-
subtract-the-(k+1)-th-largest merge that keeps the error bound additive
under arbitrary merge trees.

Why next to CMS (SURVEY.md §2.5 rationale): count-min answers point
queries but offers no candidate set — "which tools are heavy?" needs the
keys, and probing CMS with every distinct key is a second full pass. A
Misra-Gries summary IS the candidate set: ≤ k (hash, count) pairs with
the deterministic guarantee est ≤ true ≤ est + deficit, where the
tracked ``deficit`` obeys deficit·(k+1) ≤ N − M (N = total weight,
M = retained mass). Every item with true frequency > N/(k+1) is
guaranteed present — the classic frequent-elements completeness.

State: ≤ k (uint64 item-hash, uint64 count) pairs sorted by hash, plus
(n = total weight, n_items = update entries processed, deficit). The
item hash is the shared Spark-side ``xxhash64``.

* update: ``np.unique`` + ``reduceat`` batch aggregation — no per-row
  Python. Decrements ("trims") fire only when the GLOBAL entry count
  crosses a multiple of ``_B`` (the KLL compaction-alignment trick,
  kll.py:39-46): the state is a function of the entry sequence alone,
  independent of Arrow batch slicing — the checkpoint-resume law's
  requirement. Between boundaries the summary may briefly hold up to
  k + _B counters;
* trim: subtract the (k+1)-th largest count from every counter, drop
  the non-positive. ≥ k+1 counters each lose the full subtracted value,
  so deficit·(k+1) ≤ N − M is maintained exactly (PODS'12 Lemma 3.1);
* merge: element-wise count sum, then one trim — commutative and
  bound-preserving under any merge tree (byte equality is NOT
  guaranteed across merge orders, same contract as KLL/t-digest; the
  law tests gate the bounds);
* serialization is a barrier like KLL's: ``to_bytes`` trims in place so
  the wire is ≤ k entries and live/deserialized twins evolve
  identically.
"""

from __future__ import annotations

import struct

import numpy as np

from . import codec
from .hashing import weight_sums, xxhash64_any

_HDR = struct.Struct("<IIQQQ")  # k, count, n, n_items, deficit
_B = 8192
_U64_MAX = (1 << 64) - 1


class MisraGries:
    __slots__ = ("k", "keys", "counts", "n", "n_items", "deficit")

    def __init__(
        self,
        k: int = 256,
        keys: np.ndarray | None = None,
        counts: np.ndarray | None = None,
        n: int = 0,
        n_items: int = 0,
        deficit: int = 0,
    ):
        if k < 1:
            raise ValueError("k must be >= 1")
        self.k = int(k)
        self.keys = keys if keys is not None else np.empty(0, dtype=np.uint64)
        self.counts = counts if counts is not None else np.empty(0, dtype=np.uint64)
        if self.keys.dtype != np.uint64 or self.counts.dtype != np.uint64:
            raise ValueError("keys/counts must be uint64")
        if self.keys.size != self.counts.size:
            raise ValueError("keys/counts length mismatch")
        self.n = int(n)
        self.n_items = int(n_items)
        self.deficit = int(deficit)

    # ------------------------------------------------------------- update
    def update_hashes(self, h: np.ndarray, counts: np.ndarray | None = None) -> None:
        """Add a batch of uint64 item hashes with optional multiplicities.
        Slices the batch at global _B boundaries so trim points depend
        only on the entry sequence (see module docstring)."""
        if h.size == 0:
            return
        h = h.astype(np.uint64, copy=False)
        weights = None
        if counts is not None:
            # MG's deterministic est <= true <= est+deficit guarantee only
            # holds for non-negative integer multiplicities: a negative
            # weight would wrap through the uint64 cast to a ~2^64
            # counter that no trim ever drops, and fractional weights
            # truncate so retained mass diverges from n
            if np.any(counts < 0):
                raise ValueError("MisraGries counts must be non-negative")
            if counts.dtype.kind == "f" and np.any(counts != np.floor(counts)):
                raise ValueError("MisraGries counts must be integral")
            weights = counts.astype(np.uint64, copy=False)
        pos = 0
        while pos < h.size:
            room = _B - (self.n_items % _B)
            take = min(h.size - pos, room)
            sl = h[pos : pos + take]
            if weights is None:
                uh, uc = np.unique(sl, return_counts=True)
                uc = uc.astype(np.uint64)
                n_add = int(take)
            else:
                uh, inv = np.unique(sl, return_inverse=True)
                uc = weight_sums(inv, weights[pos : pos + take], uh.size)
                n_add = int(uc.sum())
                # no counter exceeds n, so this bounds every key's sum
                # too; the wire format stores n as a uint64
                if self.n + n_add > _U64_MAX:
                    raise ValueError("MisraGries: the count total passes 2^64 - 1")
                uc = uc.astype(np.uint64, copy=False)
                # zero-weight entries must not install phantom counters
                # (they would occupy summary slots and show in candidates)
                nz = uc > 0
                if not nz.all():
                    uh, uc = uh[nz], uc[nz]
            self._absorb(uh, uc)
            self.n += n_add
            self.n_items += int(take)
            pos += take
            if self.n_items % _B == 0:
                self._trim()

    def _absorb(self, uh: np.ndarray, uc: np.ndarray) -> None:
        """Fold a sorted-unique (hash, count) batch into the (also
        sorted-unique) counter set. Both sides are pre-sorted, so this is
        a searchsorted merge — O(n) exact uint64 arithmetic, no re-sort of
        the combined array on the ingest hot path."""
        if uh.size == 0:
            return
        if self.keys.size == 0:
            self.keys, self.counts = uh.copy(), uc.copy()
            return
        idx = np.searchsorted(self.keys, uh)
        safe = np.minimum(idx, self.keys.size - 1)
        match = self.keys[safe] == uh
        hit = idx[match]
        if hit.size:
            self.counts[hit] += uc[match]
        new = ~match
        if new.any():
            self.keys = np.insert(self.keys, idx[new], uh[new])
            self.counts = np.insert(self.counts, idx[new], uc[new])

    def _trim(self) -> None:
        """Subtract the (k+1)-th largest count from all counters and drop
        the non-positive; at most k survive (only counts strictly above
        the subtracted value do)."""
        size = self.keys.size
        if size <= self.k:
            return
        m = np.partition(self.counts, size - self.k - 1)[size - self.k - 1]
        keep = self.counts > m
        self.keys = self.keys[keep]
        self.counts = self.counts[keep] - m
        self.deficit += int(m)

    # -------------------------------------------------------------- query
    def query_hash(self, h: int) -> int:
        """Lower-bound frequency estimate for an item hash (0 if not
        retained). Guarantee: est ≤ true ≤ est + self.deficit."""
        i = int(np.searchsorted(self.keys, np.uint64(h)))
        if i < self.keys.size and int(self.keys[i]) == int(h):
            return int(self.counts[i])
        return 0

    def query_hashes(self, h: np.ndarray) -> np.ndarray:
        """Vectorized lower-bound estimates for a batch of item hashes
        (same contract as CMS.query_hashes, so functions.batch_query_counts
        broadcasts an MG state unchanged)."""
        h = h.astype(np.uint64, copy=False)
        if self.keys.size == 0:
            return np.zeros(h.size, dtype=np.uint64)
        idx = np.minimum(np.searchsorted(self.keys, h), self.keys.size - 1)
        return np.where(self.keys[idx] == h, self.counts[idx], np.uint64(0))

    def query(self, key, int_bytes: int = 8) -> int:
        return self.query_hash(xxhash64_any(key, int_bytes=int_bytes))

    def bounds(self, key, int_bytes: int = 8) -> tuple[int, int]:
        est = self.query(key, int_bytes)
        return est, est + self.deficit

    def candidates(self) -> tuple[np.ndarray, np.ndarray]:
        """(hashes, estimates) of every retained item — the heavy-hitter
        candidate set. Complete for all items with true frequency
        > self.deficit (and a fortiori > n/(k+1))."""
        return self.keys.copy(), self.counts.copy()

    def error_bound(self) -> int:
        """Deterministic worst-case undercount: the tracked deficit,
        never larger than n/(k+1)."""
        return self.deficit

    # -------------------------------------------------------------- merge
    def merge(self, other: "MisraGries") -> "MisraGries":
        """Combine counter sets, sum matches, one trim (PODS'12 §3).
        Deficits add; the merged bound deficit·(k+1) ≤ N − M holds."""
        if not isinstance(other, MisraGries) or other.k != self.k:
            raise ValueError("can only merge MisraGries summaries with equal k")
        # no counter exceeds n, so this bounds the summed counters too
        if self.n + other.n > _U64_MAX:
            raise ValueError("MisraGries: the count total passes 2^64 - 1")
        out = MisraGries(
            self.k,
            self.keys.copy(),
            self.counts.copy(),
            self.n + other.n,
            self.n_items + other.n_items,
            self.deficit + other.deficit,
        )
        if other.keys.size:
            out._absorb(other.keys, other.counts)
        out._trim()
        return out

    # -------------------------------------------------------- bookkeeping
    def is_empty(self) -> bool:
        return self.n == 0

    def empty(self) -> None:
        self.keys = np.empty(0, dtype=np.uint64)
        self.counts = np.empty(0, dtype=np.uint64)
        self.n = self.n_items = self.deficit = 0

    def copy(self) -> "MisraGries":
        return MisraGries(
            self.k, self.keys.copy(), self.counts.copy(), self.n, self.n_items, self.deficit
        )

    def __eq__(self, other) -> bool:
        return (
            isinstance(other, MisraGries)
            and self.k == other.k
            and self.n == other.n
            and self._wire() == other._wire()
        )

    def __hash__(self):
        return hash((self.k, self.n))

    def __sizeof__(self) -> int:
        return 28 + self.keys.nbytes + self.counts.nbytes

    # ---------------------------------------------------------------- io
    def _wire(self) -> bytes:
        src = self
        if self.keys.size > self.k:
            src = self.copy()
            src._trim()
        hdr = _HDR.pack(src.k, src.keys.size, src.n, src.n_items, src.deficit)
        return codec.wrap(codec.KIND_MG, hdr, src.keys.tobytes() + src.counts.tobytes())

    def to_bytes(self) -> bytes:
        # Serialization barrier (kll.py:207-218): trim IN PLACE so the
        # wire holds ≤ k entries and the live sketch equals its
        # deserialized twin — continuing ingestion on either yields
        # byte-identical futures (n_items rides in the header, so _B
        # alignment survives the round-trip).
        self._trim()
        return self._wire()

    @classmethod
    def from_bytes(cls, data: bytes) -> "MisraGries":
        header, payload = codec.unwrap(data, codec.KIND_MG)
        k, count, n, n_items, deficit = _HDR.unpack(header)
        keys = np.frombuffer(payload[: 8 * count], dtype=np.uint64).copy()
        counts = np.frombuffer(payload[8 * count : 16 * count], dtype=np.uint64).copy()
        return cls(k, keys, counts, n, n_items, deficit)
