"""HyperLogLog with dense 1-byte registers and a canonical sparse mode —
mergeable cardinality sketch.

Semantics preserved from the reference (jakobnissen/Probably.jl,
src/hyperloglog/hyperloglog.jl):

* state = ``2^p`` one-byte registers, ``p in 4..18``, default p=14
  (hyperloglog.jl:38-48,53);
* update: bin = top-p bits of the 64-bit item hash; register = max(register,
  trailing-zeros(remaining bits, guarded) + 1) (hyperloglog.jl:132-157);
* merge = element-wise register max — commutative, associative, idempotent
  (hyperloglog.jl:68-73), which is what makes treeReduce-style distributed
  merge safe;
* equality / copy = register-array equality (hyperloglog.jl:90-98).

Estimator difference (deliberate, documented): the reference implements the
Google HLL++ empirical-bias-table estimator (hyperloglog.jl:182-223 +
constants.jl tables). We instead use Ertl's improved raw estimator
("New cardinality estimation algorithms for HyperLogLog sketches",
O. Ertl, 2017, arXiv:1702.01284, Alg. 6: sigma/tau corrections), which is
table-free, has no empirical constants to port, and meets or beats the same
published bound (relative standard error <= 1.04/sqrt(m); reference
docstring bound: median 0.5%, <2.5% @99% for 2^10..2^62,
hyperloglog.jl:20-24). Register *update* semantics are identical, so merge
laws and serialization behave exactly like the reference.

Sparse mode [NEW — beyond the reference, which is dense-only]: while a
sketch holds <= m/8 nonzero registers its state is a sorted uint32 array
of packed ``(register_index << 6) | rho`` entries — a LOSSLESS encoding of
the same register file (idx <= 2^18 needs 18 bits; rho <= 64-p+1 <= 61
needs 6), so the estimate, merge laws, and error bound are bit-for-bit
those of the dense form. The point is the grouped build at high group
cardinality (north_star: distinct tools per conv_id => ~1e9 groups at
10^12 turns): a group that saw d distinct items costs ~4d bytes resident
and on the shuffle wire instead of a fixed 2^p (16 KB at p=14) — the
same memory-proportionality idea as Google's HLL++ sparse representation
(Heule, Nunkesser, Hall, "HyperLogLog in Practice", EDBT 2013, §5.3),
minus the precision-upgrade trick: we keep the SAME p, trading nothing.

Wire format is canonical in the register CONTENT, not the in-memory mode:
``to_bytes`` emits the sparse v2 encoding iff nonzero registers <= m/8,
else the dense v1 encoding (byte-identical to the pre-sparse format, so
old checkpoints still read). Two sketches with equal registers therefore
serialize identically regardless of how they were built — the layout-
invariance / commutativity laws (queries.merge_laws) gate this.

All update paths are vectorized numpy over uint64 hash arrays — no
per-row Python (BASELINE.json input_hint).
"""

from __future__ import annotations

import math
import struct

import numpy as np

from . import codec
from .hashing import trailing_zeros64

_U = np.uint64

DEFAULT_P = 14  # reference default: hyperloglog.jl:48

_HDR = struct.Struct("<B")
_RHO_BITS = np.uint32(6)
_RHO_MASK = np.uint32(0x3F)


def _dedup_max_rho(packed_sorted: np.ndarray) -> np.ndarray:
    """Keep one entry per key = packed >> 6 — the max rho. rho lives in
    the low 6 bits, so within equal key the sort already puts max rho
    last. Shared with the grouped fast path (operators/grouped.py), whose
    key is (group_code << 18) | register_index. Caller guarantees a
    non-empty sorted array."""
    ids = packed_sorted >> _RHO_BITS
    keep = np.empty(packed_sorted.size, dtype=bool)
    keep[:-1] = ids[:-1] != ids[1:]
    keep[-1] = True
    return packed_sorted[keep]


class HyperLogLog:
    __slots__ = ("p", "m", "_regs", "_entries")

    def __init__(self, p: int = DEFAULT_P, registers: np.ndarray | None = None):
        if not 4 <= p <= 18:  # reference constraint: hyperloglog.jl:39-41
            raise ValueError("p must be in 4..18")
        self.p = p
        self.m = 1 << p
        if registers is None:
            self._regs = None
            self._entries = np.empty(0, dtype=np.uint32)
        else:
            if registers.shape != (self.m,) or registers.dtype != np.uint8:
                raise ValueError("registers must be uint8 of length 2^p")
            self._regs = registers
            self._entries = None

    # --------------------------------------------------- representation
    @property
    def _sparse_max(self) -> int:
        """Densify above m/8 entries: the sparse wire (4 B/entry) then
        stays at most half the dense size, with room to spare vs the
        m/4 break-even."""
        return self.m >> 3

    @property
    def is_sparse(self) -> bool:
        return self._regs is None

    @property
    def registers(self) -> np.ndarray:
        """Dense register view (reference semantics). Accessing it on a
        sparse sketch densifies in place — the WIRE stays canonical in
        content either way (see module docstring)."""
        if self._regs is None:
            self._densify()
        return self._regs

    def _densify(self) -> None:
        regs = np.zeros(self.m, dtype=np.uint8)
        e = self._entries
        if e.size:
            regs[(e >> _RHO_BITS).astype(np.int64)] = (e & _RHO_MASK).astype(np.uint8)
        self._regs, self._entries = regs, None

    def _canonical_entries(self) -> np.ndarray:
        """Sorted packed (idx<<6|rho) entries for the nonzero registers —
        the content-canonical form both modes share."""
        if self._regs is None:
            return self._entries
        idx = np.flatnonzero(self._regs)
        return (idx.astype(np.uint32) << _RHO_BITS) | self._regs[idx].astype(np.uint32)

    def _nonzero(self) -> int:
        return self._entries.size if self._regs is None else int(np.count_nonzero(self._regs))

    # ------------------------------------------------------------- update
    def update_hashes(self, h: np.ndarray) -> None:
        """Scatter-max a batch of uint64 item hashes into the registers.

        bin  = top p bits (reference getbin, hyperloglog.jl:132)
        rho  = trailing zeros of the hash with a guard bit at position 64-p,
               plus 1 => rho in 1..(64-p)+1 (reference getzeros,
               hyperloglog.jl:136-139).
        """
        if h.size == 0:
            return
        h = h.astype(np.uint64, copy=False)
        guard = _U(1) << _U(64 - self.p)
        rho = trailing_zeros64(h | guard) + np.uint8(1)
        idx = (h >> _U(64 - self.p)).astype(np.int64)
        if self._regs is not None:
            # scatter-max via ufunc.at: measured faster than sort-based
            # segment-max at every batch size now that tz uses frexp (27 vs
            # 45 ns/row on 64k batches, 2^14 registers)
            np.maximum.at(self._regs, idx, rho)
            return
        packed = (idx.astype(np.uint32) << _RHO_BITS) | rho.astype(np.uint32)
        if self._entries.size:
            packed = np.concatenate([self._entries, packed])
        packed.sort()
        entries = _dedup_max_rho(packed)
        if entries.size > self._sparse_max:
            self._entries = entries
            self._densify()
        else:
            self._entries = entries

    # -------------------------------------------------------------- merge
    def merge(self, other: "HyperLogLog") -> "HyperLogLog":
        """In-place register-wise max; requires equal p (reference union!,
        hyperloglog.jl:68-73; unequal p is an error rather than silent)."""
        if other.p != self.p:
            raise ValueError(f"cannot merge HLL p={self.p} with p={other.p}")
        if self._regs is None and other._regs is None:
            combined = np.concatenate([self._entries, other._entries])
            combined.sort()
            entries = _dedup_max_rho(combined) if combined.size else combined
            if entries.size > self._sparse_max:
                self._entries = entries
                self._densify()
            else:
                self._entries = entries
            return self
        if self._regs is None:
            self._densify()
        if other._regs is not None:
            np.maximum(self._regs, other._regs, out=self._regs)
        else:
            e = other._entries
            if e.size:
                np.maximum.at(
                    self._regs,
                    (e >> _RHO_BITS).astype(np.int64),
                    (e & _RHO_MASK).astype(np.uint8),
                )
        return self

    # ----------------------------------------------------------- estimate
    def estimate(self) -> float:
        """Ertl improved raw estimator (arXiv:1702.01284 Alg. 6). Sparse
        mode feeds the identical register histogram (zeros = m - entries),
        so the two modes estimate bit-for-bit equally."""
        m = float(self.m)
        q = 64 - self.p  # max register value is q+1
        if self._regs is None:
            rhos = (self._entries & _RHO_MASK).astype(np.uint8)
            counts = np.bincount(rhos, minlength=q + 2).astype(np.float64)
            counts[0] = m - self._entries.size
        else:
            counts = np.bincount(self._regs, minlength=q + 2).astype(np.float64)
        z = m * _tau(1.0 - counts[q + 1] / m)
        for k in range(q, 0, -1):
            z = 0.5 * (z + counts[k])
        z += m * _sigma(counts[0] / m)
        if z == 0.0:
            return math.inf
        alpha_inf = 1.0 / (2.0 * math.log(2.0))
        return alpha_inf * m * m / z

    def cardinality(self) -> int:
        """Rounded estimate (reference length(), hyperloglog.jl:218-223).
        A fully-saturated register file estimates to infinity — clamp to
        int64 max instead of crashing (int(inf) raises)."""
        e = self.estimate()
        return int(round(e)) if math.isfinite(e) else (1 << 63) - 1

    # -------------------------------------------------------- bookkeeping
    def is_empty(self) -> bool:
        return self._entries.size == 0 if self._regs is None else not self._regs.any()

    def clear(self) -> None:
        self._regs = None
        self._entries = np.empty(0, dtype=np.uint32)

    def copy(self) -> "HyperLogLog":
        if self._regs is not None:
            return HyperLogLog(self.p, self._regs.copy())
        out = HyperLogLog(self.p)
        out._entries = self._entries.copy()
        return out

    def __eq__(self, other) -> bool:
        return (
            isinstance(other, HyperLogLog)
            and self.p == other.p
            and bool(np.array_equal(self._canonical_entries(), other._canonical_entries()))
        )

    def __hash__(self):
        return hash((self.p, self._canonical_entries().tobytes()))

    def sizeof(self) -> int:
        """Resident bytes: one per register dense (hyperloglog.jl:53),
        4 per nonzero register sparse."""
        return self.m if self._regs is not None else 4 * self._entries.size

    # ---------------------------------------------------------------- io
    def to_bytes(self) -> bytes:
        """Canonical in register content: sparse v2 iff nonzero <= m/8,
        else dense v1 (byte-identical to the pre-sparse wire)."""
        if self._nonzero() <= self._sparse_max:
            return codec.wrap(
                codec.KIND_HLL,
                _HDR.pack(self.p),
                self._canonical_entries().astype("<u4", copy=False).tobytes(),
                version=2,
            )
        if self._regs is None:  # sparse over threshold only via ctor edge
            self._densify()
        return codec.wrap(codec.KIND_HLL, _HDR.pack(self.p), self._regs.tobytes())

    @classmethod
    def from_bytes(cls, data: bytes) -> "HyperLogLog":
        version = codec.peek_version(data)
        header, payload = codec.unwrap(data, codec.KIND_HLL, expected_version=version)
        (p,) = _HDR.unpack(header)
        if version == 2:
            out = cls(p)
            out._entries = np.frombuffer(payload, dtype="<u4").astype(np.uint32)
            return out
        if version == 1:
            regs = np.frombuffer(payload, dtype=np.uint8).copy()
            return cls(p, regs)
        raise ValueError(f"unknown HLL wire version {version}")

    @classmethod
    def from_packed_entries(cls, p: int, entries: np.ndarray) -> "HyperLogLog":
        """Build from canonical sorted packed (idx<<6|rho) uint32 entries
        (one per nonzero register, max rho) — the grouped fast path's
        hand-off (operators/grouped.py)."""
        out = cls(p)
        out._entries = entries.astype(np.uint32, copy=False)
        if out._entries.size > out._sparse_max:
            out._densify()
        return out

    @staticmethod
    def error_bound(p: int = DEFAULT_P) -> float:
        """Published relative standard error 1.04/sqrt(m)."""
        return 1.04 / math.sqrt(1 << p)


def packed_entries_from_bytes(data: bytes) -> tuple[int, np.ndarray]:
    """(p, sorted packed uint32 entries) from either wire version without
    constructing a sketch object — the grouped fast-merge path decodes
    one state blob per partial row through this."""
    version = codec.peek_version(data)
    header, payload = codec.unwrap(data, codec.KIND_HLL, expected_version=version)
    (p,) = _HDR.unpack(header)
    if version == 2:
        return p, np.frombuffer(payload, dtype="<u4")
    if version != 1:
        raise ValueError(f"unknown HLL wire version {version}")
    regs = np.frombuffer(payload, dtype=np.uint8)
    idx = np.flatnonzero(regs)
    return p, (idx.astype(np.uint32) << _RHO_BITS) | regs[idx].astype(np.uint32)


def packed_entries_to_bytes(p: int, entries: np.ndarray) -> bytes:
    """Canonical wire for a register file given as sorted packed entries,
    without constructing a sketch object in the common (sparse) case —
    the grouped fast path emits one blob per group through this."""
    if entries.size <= (1 << p) >> 3:
        return codec.wrap(
            codec.KIND_HLL,
            _HDR.pack(p),
            entries.astype("<u4", copy=False).tobytes(),
            version=2,
        )
    return HyperLogLog.from_packed_entries(p, entries).to_bytes()


# fixed 9-byte sparse-v2 blob head: MAGIC | kind | version=2 | hlen=1 | p
_PREFIX_V2 = codec.MAGIC + bytes([codec.KIND_HLL, 2, 1, 0])
# fixed 9-byte dense-v1 blob head (same layout, version byte 1)
_PREFIX_V1 = codec.MAGIC + bytes([codec.KIND_HLL, 1, 1, 0])


def packed_entries_many_to_buf(
    p: int, entries: np.ndarray, bounds: np.ndarray
) -> tuple[np.ndarray, np.ndarray]:
    """(uint8 buf, int64 offs): canonical wire for MANY register files
    laid end to end — blob i is ``buf[offs[i]:offs[i+1]]``, byte-
    identical to ``packed_entries_to_bytes(p, ...)`` per group. The
    sparse-v2 common case is ONE flat buffer build (constant 9-byte head
    scatter + one entry-byte scatter); groups past the sparse threshold
    (> m/8 nonzero registers, rare for per-entity sketches) run the
    scalar dense encoder and splice in. The grouped and rollup builders
    wrap (buf, offs) directly into a BinaryArray with ZERO per-group
    Python."""
    bounds = np.asarray(bounds, dtype=np.int64)
    counts = np.diff(bounds)
    n = counts.size
    if n == 0:
        return np.zeros(0, dtype=np.uint8), np.zeros(1, dtype=np.int64)
    dense_idx = np.flatnonzero(counts > ((1 << p) >> 3))
    dense_blobs = {
        int(i): packed_entries_to_bytes(
            p, entries[bounds[i] : bounds[i + 1]].astype(np.uint32, copy=False)
        )
        for i in dense_idx.tolist()
    }
    lens = 9 + 4 * counts
    for i, b in dense_blobs.items():
        lens[i] = len(b)
    offs = np.zeros(n + 1, dtype=np.int64)
    np.cumsum(lens, out=offs[1:])
    buf = np.zeros(int(offs[-1]), dtype=np.uint8)
    sparse = np.ones(n, dtype=bool)
    sparse[dense_idx] = False
    sp = np.flatnonzero(sparse)
    head = np.frombuffer(_PREFIX_V2 + _HDR.pack(p), dtype=np.uint8)
    buf[(offs[sp][:, None] + np.arange(9)).ravel()] = np.tile(head, sp.size)
    sc = counts[sp]
    ent = entries if sp.size == n else entries[np.repeat(sparse, counts)]
    ent_b = np.ascontiguousarray(ent.astype("<u4", copy=False)).view(np.uint8)
    if ent_b.size:
        s_bounds = np.zeros(sp.size + 1, dtype=np.int64)
        np.cumsum(sc, out=s_bounds[1:])
        pos = np.repeat(offs[sp] + 9, sc * 4) + (
            np.arange(ent_b.size) - np.repeat(4 * s_bounds[:-1], sc * 4)
        )
        buf[pos] = ent_b
    for i, b in dense_blobs.items():
        buf[offs[i] : offs[i] + len(b)] = np.frombuffer(b, dtype=np.uint8)
    return buf, offs


def packed_entries_many_from_bytes(blobs) -> tuple[np.ndarray, np.ndarray]:
    """(per-blob entry counts int64, entries uint32 concatenated in blob
    order) for a sequence (or pyarrow binary array) of HLL state blobs —
    the decode half of the grouped vectorized route's state merge. Sparse-v2 blobs (the route's
    own wire) parse in one gather over the joined buffer; anything else
    (dense v1, legacy) falls back to the per-blob validating decoder and
    splices in order. ~11x faster than per-blob ``unwrap`` at merge
    fan-ins of millions of state rows. p is NOT returned: the callers own
    both wire ends and carry p in the spec (same contract as the scalar
    absorb loop this replaces)."""
    n = len(blobs)
    if n == 0:
        return np.empty(0, dtype=np.int64), np.empty(0, dtype=np.uint32)
    flat, offs = codec.blob_buffers(blobs)
    lens = np.diff(offs)
    starts = offs[:-1]
    head = np.frombuffer(_PREFIX_V2, dtype=np.uint8)
    is_v2 = (lens >= 9) & ((lens - 9) % 4 == 0)
    sel = np.flatnonzero(is_v2)
    if sel.size:
        probe = flat[(starts[sel, None] + np.arange(8)).reshape(-1)].reshape(-1, 8)
        is_v2[sel] &= (probe == head).all(axis=1)
    counts = np.where(is_v2, (lens - 9) // 4, 0)
    other = np.flatnonzero(~is_v2)
    dec = {}
    for i in other.tolist():
        dec[i] = packed_entries_from_bytes(flat[offs[i] : offs[i + 1]].tobytes())[1]
        counts[i] = dec[i].size
    out_b = np.zeros(n + 1, dtype=np.int64)
    np.cumsum(counts, out=out_b[1:])
    ent = np.empty(int(out_b[-1]), dtype=np.uint32)
    v2 = np.flatnonzero(is_v2)
    nb = counts[v2] * 4
    if nb.sum():
        src = np.repeat(starts[v2] + 9, nb) + (
            np.arange(int(nb.sum())) - np.repeat(np.concatenate([[0], np.cumsum(nb)[:-1]]), nb)
        )
        dst = np.repeat(out_b[v2], counts[v2]) + (
            np.arange(int(counts[v2].sum()))
            - np.repeat(np.concatenate([[0], np.cumsum(counts[v2])[:-1]]), counts[v2])
        )
        ent[dst] = flat[src].view("<u4")
    for i, e in dec.items():
        ent[out_b[i] : out_b[i + 1]] = e
    return counts, ent


def estimate_many(blobs) -> np.ndarray:
    """Vectorized Ertl estimates for a sequence of HLL state blobs (both
    wire versions, mixed p allowed) — the batch path behind the
    ``pjs_cardinality`` SQL estimator, where a grouped build can hand
    back tens of millions of state rows and per-row sketch construction
    (~tens of us each) would dominate the read-out. Per-blob Python here
    is one ``frombuffer`` decode; the register histograms and the
    sigma/tau/harmonic recurrences run as whole-batch numpy. Each row is
    frozen at ITS OWN convergence point, so results are bit-identical to
    ``HyperLogLog.estimate()`` row by row (tested)."""
    n = len(blobs)
    if n == 0:
        return np.empty(0, dtype=np.float64)
    # estimate each DISTINCT blob once (few-distinct-states joined against
    # many rows is the documented pjs_cardinality pattern)
    uniq: dict[bytes, int] = {}
    reps: list[bytes] = []
    inv = np.empty(n, dtype=np.int64)
    for i, b in enumerate(blobs):
        j = uniq.get(b)
        if j is None:
            j = uniq[b] = len(reps)
            reps.append(b)
        inv[i] = j
    # inline decode of the fixed HLL layout (MAGIC|kind|version|hlen=1|p|
    # payload, codec.py) — ~7x less per-blob overhead than the generic
    # unwrap; anything that doesn't match the expected prefix falls back
    # to the validating decoder. Dense (v1) rows keep their raw register
    # array: one np.bincount per row beats expanding m registers to
    # packed entries by ~100x.

    def _decode(b: bytes):
        pre = b[:8]
        if pre == _PREFIX_V2:
            return b[8], None, np.frombuffer(b, dtype="<u4", offset=9)
        if pre == _PREFIX_V1:
            return b[8], np.frombuffer(b, dtype=np.uint8, offset=9), None
        p, e = packed_entries_from_bytes(b)
        return p, None, e

    decoded = [_decode(b) for b in reps]
    out_u = np.empty(len(reps), dtype=np.float64)
    by_p: dict[int, list[int]] = {}
    for i, (p, _, _) in enumerate(decoded):
        by_p.setdefault(p, []).append(i)
    for p, rows in by_p.items():
        m = float(1 << p)
        q = 64 - p
        counts = np.zeros((len(rows), q + 2), dtype=np.float64)
        sp_pos = [li for li, i in enumerate(rows) if decoded[i][2] is not None]
        if sp_pos:
            ent = [decoded[rows[li]][2] for li in sp_pos]
            sizes = np.array([e.size for e in ent], dtype=np.int64)
            if sizes.sum():
                rid = np.repeat(np.asarray(sp_pos, dtype=np.int64), sizes)
                rho = (np.concatenate(ent) & _RHO_MASK).astype(np.int64)
                np.add.at(counts, (rid, rho), 1.0)
            counts[sp_pos, 0] = m - sizes
        for li, i in enumerate(rows):
            regs = decoded[i][1]
            if regs is not None:
                counts[li] = np.bincount(regs, minlength=q + 2)
        z = m * _tau_arr(1.0 - counts[:, q + 1] / m)
        for k in range(q, 0, -1):
            z = 0.5 * (z + counts[:, k])
        z = z + m * _sigma_arr(counts[:, 0] / m)
        alpha_inf = 1.0 / (2.0 * math.log(2.0))
        with np.errstate(divide="ignore"):
            est = alpha_inf * m * m / z
        out_u[rows] = est
    return out_u[inv]


def _sigma_arr(x: np.ndarray) -> np.ndarray:
    """Elementwise _sigma with per-row convergence freezing: a converged
    row stops updating at exactly the step the scalar loop would return,
    so values match the scalar path bit for bit."""
    x = np.asarray(x, dtype=np.float64).copy()
    inf_m = x == 1.0
    y = np.ones_like(x)
    z = x.copy()
    active = ~inf_m
    while active.any():
        idxs = np.flatnonzero(active)
        xa = x[idxs] * x[idxs]
        x[idxs] = xa
        z_old = z[idxs]
        z_new = z_old + xa * y[idxs]
        z[idxs] = z_new
        y[idxs] *= 2.0
        active[idxs[z_new == z_old]] = False
    z[inf_m] = np.inf
    return z


def _tau_arr(x: np.ndarray) -> np.ndarray:
    """Elementwise _tau with the same per-row convergence freezing."""
    x = np.asarray(x, dtype=np.float64).copy()
    zero_m = (x == 0.0) | (x == 1.0)
    y = np.ones_like(x)
    z = 1.0 - x
    active = ~zero_m
    while active.any():
        idxs = np.flatnonzero(active)
        xa = np.sqrt(x[idxs])
        x[idxs] = xa
        y[idxs] *= 0.5
        z_old = z[idxs]
        z_new = z_old - (1.0 - xa) * (1.0 - xa) * y[idxs]
        z[idxs] = z_new
        active[idxs[z_new == z_old]] = False
    out = z / 3.0
    out[zero_m] = 0.0
    return out


def _sigma(x: float) -> float:
    """Ertl sigma: x + sum_{k>=1} x^{2^k} * 2^{k-1}; sigma(1)=inf."""
    if x == 1.0:
        return math.inf
    y = 1.0
    z = x
    while True:
        x = x * x
        z_prev = z
        z += x * y
        y += y
        if z == z_prev:
            return z


def _tau(x: float) -> float:
    """Ertl tau: (1/3)(1 - x - sum_{k>=1}(1 - x^{2^-k})^2 * 2^{-k})."""
    if x == 0.0 or x == 1.0:
        return 0.0
    y = 1.0
    z = 1.0 - x
    while True:
        x = math.sqrt(x)
        z_prev = z
        y *= 0.5
        z -= (1.0 - x) * (1.0 - x) * y
        if z == z_prev:
            return z / 3.0
