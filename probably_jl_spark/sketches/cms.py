"""Count-min sketch — mergeable point-frequency sketch.

Semantics preserved from the reference (src/countmin/sketch.jl):

* state: ``depth`` tables x ``width`` unsigned cells, zero-initialised;
  width >= 1, depth >= 2 enforced (sketch.jl:21-34);
* update: one initial 64-bit item hash, then a cheap salted rehash per
  table (reference chains ``hash(initial, t)``, sketch.jl:81-85); cell
  index = hash mod width; **saturating** add — counts cap at the cell
  type's max instead of overflowing (sketch.jl:50-61);
* point query = min over the depth cells (sketch.jl:202-211) — never
  underestimates; ``E <= N + eps*T`` w.p. >= 1-delta with
  width = 2/eps, depth = ceil(-log(delta)/log(2)) (docs/src/countmin.md:6-7);
* merge = element-wise saturating sum (sketch.jl:168-177) — commutative
  and associative, hence treeReduce-safe;
* ``fprof`` = product over tables of the fraction of nonzero cells
  (sketch.jl:184-194).

Scale note (SURVEY.md §7 risk register): the reference defaults to UInt8
cells, which saturate at 255 by design; at 10^12-turn scale we default to
uint32 while preserving the exact saturating semantics for any dtype (the
parity tests run uint8).
"""

from __future__ import annotations

import math
import struct

import numpy as np

from . import codec
from .hashing import SALT_CMS, mix64, mix64_scalar, weight_sums, xxhash64_any

_HDR = struct.Struct("<IIB")

_DTYPES = {1: np.uint8, 2: np.uint16, 4: np.uint32, 8: np.uint64}


def params_from_error(eps: float, delta: float) -> tuple[int, int]:
    """(width, depth) from the published formulas width=2/eps,
    depth=ceil(log2(1/delta)) (docs/src/countmin.md:7)."""
    if not (0 < eps < 1) or not (0 < delta < 1):
        raise ValueError("need 0 < eps, delta < 1")
    width = int(math.ceil(2.0 / eps))
    depth = max(2, int(math.ceil(-math.log(delta) / math.log(2))))
    return width, depth


class CountMinSketch:
    __slots__ = ("width", "depth", "dtype", "table")

    def __init__(
        self,
        width: int,
        depth: int = 4,
        dtype=np.uint32,
        table: np.ndarray | None = None,
    ):
        if width < 1:
            raise ValueError("width must be >= 1")
        if depth < 2:  # reference constraint: sketch.jl:25-27
            raise ValueError("depth must be >= 2")
        self.width = width
        self.depth = depth
        self.dtype = np.dtype(dtype)
        # kind check, not just itemsize: int32/float32 share itemsize 4
        # with uint32, but from_bytes maps the size back to the unsigned
        # type — accepting them would break the round-trip law (and
        # reinterpret float bits as counts)
        if self.dtype.kind != "u" or self.dtype.itemsize not in _DTYPES:
            raise ValueError("dtype must be an unsigned integer type")
        if table is None:
            table = np.zeros((depth, width), dtype=self.dtype)
        else:
            if table.shape != (depth, width) or table.dtype != self.dtype:
                raise ValueError("table shape/dtype mismatch")
        self.table = table

    @property
    def _cap(self) -> int:
        return int(np.iinfo(self.dtype).max)

    # ------------------------------------------------------------- update
    def update_hashes(self, h: np.ndarray, counts: np.ndarray | None = None) -> None:
        """Add a batch of uint64 item hashes with optional multiplicities
        (reference add!(sketch, x, count), sketch.jl:77-88). Vectorized:
        per-table bincount then one saturating add — exact saturating
        semantics for any int64 counts, because the per-cell sums are
        exact (`weight_sums`) and the add never wraps a uint64 cell."""
        if h.size == 0:
            return
        h = h.astype(np.uint64, copy=False)
        cap = np.uint64(self._cap)
        w = np.uint64(self.width)
        pow2 = self.width & (self.width - 1) == 0
        wmask = np.uint64(self.width - 1)
        out = np.empty_like(h)
        tmp = np.empty_like(h)
        for t in range(self.depth):
            ht = h if t == 0 else mix64(h, SALT_CMS + t, out=out, tmp=tmp)
            # pow2 width: mask instead of the ~10x slower uint64 mod
            idx = ((ht & wmask) if pow2 else (ht % w)).astype(np.int64)
            if counts is None:
                add = np.bincount(idx, minlength=self.width).astype(np.uint64)
            else:
                add = np.minimum(weight_sums(idx, counts, self.width), cap).astype(np.uint64)
            wide = self.table[t].astype(np.uint64)
            wide += np.minimum(add, cap - wide)
            self.table[t] = wide.astype(self.dtype)

    # -------------------------------------------------------------- query
    def _indices_for_key(self, key, int_bytes: int = 8) -> list[int]:
        h0 = xxhash64_any(key, int_bytes=int_bytes)
        out = []
        for t in range(self.depth):
            ht = h0 if t == 0 else mix64_scalar(h0, SALT_CMS + t)
            out.append(ht % self.width)
        return out

    def query(self, key, int_bytes: int = 8) -> int:
        """Point query: min over tables (reference getindex, sketch.jl:202-211).
        int_bytes=4 when the build keyed on an int32 column (hashing.py)."""
        return int(min(self.table[t, i] for t, i in enumerate(self._indices_for_key(key, int_bytes))))

    def query_hashes(self, h: np.ndarray) -> np.ndarray:
        """Vectorized point queries for a batch of uint64 item hashes."""
        h = h.astype(np.uint64, copy=False)
        w = np.uint64(self.width)
        est = None
        for t in range(self.depth):
            ht = h if t == 0 else mix64(h, SALT_CMS + t)
            vals = self.table[t, (ht % w).astype(np.int64)]
            est = vals if est is None else np.minimum(est, vals)
        return est.astype(np.uint64)

    def haskey(self, key, int_bytes: int = 8) -> bool:
        return self.query(key, int_bytes) > 0  # reference sketch.jl:114

    # -------------------------------------------------------------- merge
    def merge(self, other: "CountMinSketch") -> "CountMinSketch":
        """Element-wise saturating sum; dims+dtype must match
        (reference +, sketch.jl:168-177)."""
        if (self.width, self.depth, self.dtype) != (other.width, other.depth, other.dtype):
            raise ValueError("CMS parameter mismatch in merge")
        wide = self.table.astype(np.uint64) + other.table.astype(np.uint64)
        np.minimum(wide, self._cap, out=wide)
        self.table = wide.astype(self.dtype)
        return self

    # ------------------------------------------------------------ metrics
    def fprof(self) -> float:
        """Estimated probability a point query overcounts (sketch.jl:184-194)."""
        return float(np.prod(np.mean(self.table > 0, axis=1)))

    def is_empty(self) -> bool:
        return not self.table.any()

    def clear(self) -> None:
        self.table.fill(0)

    def copy(self) -> "CountMinSketch":
        return CountMinSketch(self.width, self.depth, self.dtype, self.table.copy())

    def __eq__(self, other) -> bool:
        return (
            isinstance(other, CountMinSketch)
            and self.width == other.width
            and self.depth == other.depth
            and self.dtype == other.dtype
            and bool(np.array_equal(self.table, other.table))
        )

    def __hash__(self):
        return hash((self.width, self.depth, self.table.tobytes()))

    # ---------------------------------------------------------------- io
    def to_bytes(self) -> bytes:
        hdr = _HDR.pack(self.width, self.depth, self.dtype.itemsize)
        return codec.wrap(codec.KIND_CMS, hdr, self.table.tobytes())

    @classmethod
    def from_bytes(cls, data: bytes) -> "CountMinSketch":
        header, payload = codec.unwrap(data, codec.KIND_CMS)
        width, depth, isize = _HDR.unpack(header)
        dt = np.dtype(_DTYPES[isize])
        table = np.frombuffer(payload, dtype=dt).reshape(depth, width).copy()
        return cls(width, depth, dt, table)
