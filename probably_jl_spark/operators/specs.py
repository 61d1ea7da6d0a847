"""Sketch job specification — what to sketch over which columns.

A ``SketchSpec`` declares one sketch to build in a (possibly fused) pass:
which sketch kind, its parameters, and either ``key_cols`` (hashed JVM-side
with ``xxhash64``; composite keys hash with Spark's multi-column seed
chaining) or ``value_col`` (quantile sketches consume raw doubles). An
optional ``count_col`` feeds pre-aggregated multiplicities to CMS
(reference add!(sketch, x, count), src/countmin/sketch.jl:77-88).

The fused pass builds *all* specs in one scan — the main throughput lever
at 10^12-turn scale (SURVEY.md §4.3): one shuffle-free pass instead of one
per sketch.
"""

from __future__ import annotations

import math
from dataclasses import dataclass, field

import numpy as np

from ..sketches.bloom import BloomFilter
from ..sketches.cms import CountMinSketch
from ..sketches.cuckoo import CuckooFilter, CuckooOverflowError
from ..sketches.hll import HyperLogLog
from ..sketches.kll import KLL
from ..sketches.kmv import KMV
from ..sketches.mg import MisraGries
from ..sketches.tdigest import TDigest
from ..sketches import codec

KINDS = ("hll", "cms", "bloom", "cuckoo", "smallcuckoo", "tdigest", "kll", "kmv", "mg")
_HASH_KINDS = ("hll", "cms", "bloom", "cuckoo", "smallcuckoo", "kmv", "mg")


@dataclass(frozen=True)
class SketchSpec:
    name: str
    kind: str
    key_cols: tuple[str, ...] = ()
    value_col: str | None = None
    count_col: str | None = None
    params: dict = field(default_factory=dict)

    def __post_init__(self):
        if self.kind not in KINDS:
            raise ValueError(f"unknown sketch kind {self.kind!r}")
        if self.kind in _HASH_KINDS and not self.key_cols:
            raise ValueError(f"{self.kind} spec {self.name!r} needs key_cols")
        if self.kind in ("tdigest", "kll") and not self.value_col:
            raise ValueError(f"{self.kind} spec {self.name!r} needs value_col")

    @property
    def state_col(self) -> str:
        return f"state_{self.name}"

    # --------------------------------------------------------- factories
    def new(self):
        p = self.params
        if self.kind == "hll":
            return HyperLogLog(p.get("p", 14))
        if self.kind == "cms":
            return CountMinSketch(
                p.get("width", 2048), p.get("depth", 5), p.get("dtype", np.uint32)
            )
        if self.kind == "bloom":
            return BloomFilter(p.get("m", 1 << 20), p.get("k", 5))
        if self.kind == "cuckoo":
            return CuckooFilter(p.get("len", 1 << 16), p.get("f", 12))
        if self.kind == "smallcuckoo":
            # params={"resident": True} builds with the semisorted layout
            # resident in executor memory (reference SmallCuckoo's actual
            # RAM trade); default keeps the Fast layout and compresses on
            # the wire only
            from ..sketches.smallcuckoo import ResidentSmallCuckoo, SmallCuckooFilter

            klass = ResidentSmallCuckoo if p.get("resident") else SmallCuckooFilter
            return klass(p.get("len", 1 << 16), p.get("f", 12))
        if self.kind == "tdigest":
            return TDigest(p.get("delta", 200.0))
        if self.kind == "kmv":
            return KMV(p.get("k", 1024))
        if self.kind == "mg":
            return MisraGries(p.get("k", 256))
        return KLL(p.get("k", 200))

    def size_model(self) -> tuple[int, int]:
        """(fixed, growth) bytes of one state of this spec, sized from its
        parameters. ``fixed`` is what ``new()`` holds before any row: the
        empty wire, which for cms, bloom and cuckoo is the whole table,
        or smallcuckoo's in-memory table, larger than its compressed wire.
        ``growth`` is the most the state grows with content: dense HLL
        registers (the sparse wire densifies at m/8 entries), k KMV
        hashes, k MG (key, count) pairs, <= delta t-digest (mean, weight)
        centroids, and KLL's <= 3k + 2H items plus H level sizes for
        H <= 64 levels. The driver-merge gate (operators/build.py) and the
        byte budget of the grouped stages (operators/grouped.py) read it."""
        sk = self.new()
        fixed = len(sk.to_bytes())
        if self.kind == "smallcuckoo" and sk.buckets is not None:
            fixed = max(fixed, sk.buckets.nbytes)
        if self.kind == "hll":
            return fixed, 1 << sk.p
        if self.kind == "kmv":
            return fixed, 8 * sk.k
        if self.kind == "mg":
            return fixed, 16 * sk.k
        if self.kind == "tdigest":
            return fixed, 16 * math.ceil(sk.delta)
        if self.kind == "kll":
            return fixed, 8 * (3 * sk.k + 2 * 64) + 4 * 64
        return fixed, 0

    def update(self, sketch, h: np.ndarray | None, values: np.ndarray | None, counts: np.ndarray | None):
        if self.kind in ("tdigest", "kll"):
            sketch.update_values(values)
        elif self.kind in ("cms", "mg"):
            sketch.update_hashes(h, counts)
        else:
            ok = sketch.update_hashes(h)
            # cuckoo is the only kind whose insert can fail: once the
            # filter closes, dropped items would become false negatives.
            # Fail the task loudly instead of shipping a lossy state
            # (reference push! returns false, filter.jl:381-385).
            if ok is False and self.kind in ("cuckoo", "smallcuckoo"):
                raise CuckooOverflowError(
                    f"cuckoo spec {self.name!r} overflowed during build "
                    f"(len={4 * sketch.nbuckets}, f={sketch.f}): items were "
                    "rejected after the filter closed. Size it up via "
                    "constrain_cuckoo(fpr=..., capacity=...)."
                )


_DECODERS = {
    codec.KIND_HLL: HyperLogLog.from_bytes,
    codec.KIND_CMS: CountMinSketch.from_bytes,
    codec.KIND_BLOOM: BloomFilter.from_bytes,
    codec.KIND_CUCKOO: CuckooFilter.from_bytes,
    codec.KIND_TDIGEST: TDigest.from_bytes,
    codec.KIND_KLL: KLL.from_bytes,
    codec.KIND_KMV: KMV.from_bytes,
    codec.KIND_MG: MisraGries.from_bytes,
}


def sketch_from_bytes(blob: bytes):
    """Decode any sketch blob by its codec kind byte (cuckoo v2 = the
    semisort-compressed SmallCuckoo wire format)."""
    kind = codec.peek_kind(blob)
    if kind == codec.KIND_CUCKOO and codec.peek_version(blob) == 2:
        from ..sketches.smallcuckoo import SmallCuckooFilter

        return SmallCuckooFilter.from_bytes(bytes(blob))
    return _DECODERS[kind](bytes(blob))


def merge_blobs(a: bytes | None, b: bytes | None) -> bytes | None:
    """Merge two serialized states (either may be None = identity).
    Used by treeReduce over partial-state rows.

    Cuckoo merges can fail (reference union! returns (dst, false),
    filter.jl:464-496): when the destination closes mid-merge, the
    remaining source fingerprints are LOST — silent false negatives.
    That is a sizing error, so it raises instead of degrading."""
    if a is None:
        return b
    if b is None:
        return a
    sa = sketch_from_bytes(a)
    sb = sketch_from_bytes(b)
    merged = sa.merge(sb)
    if isinstance(merged, tuple):  # cuckoo returns (filter, ok)
        merged, ok = merged
        if not ok:
            raise CuckooOverflowError(
                f"cuckoo merge overflowed (len={4 * merged.nbuckets}, "
                f"f={merged.f}): the union of the two states exceeds "
                "capacity, so fingerprints were dropped. Size the filter "
                "for the UNION cardinality via constrain_cuckoo."
            )
    return merged.to_bytes()
