"""HLL laws mirroring reference test/hyperloglog.jl plus the accuracy gate
the reference left as a stub (test/accuracy.jl:1-8)."""

import numpy as np
import pytest

from probably_jl_spark.sketches.hll import HyperLogLog
from tests.conftest import hash_stream


def test_param_validation():
    # reference: P in 4:18 enforced (hyperloglog.jl:39-41; test :23-36)
    for p in (3, 19, 0):
        with pytest.raises(ValueError):
            HyperLogLog(p)
    for p in (4, 14, 18):
        assert HyperLogLog(p).m == 2**p


def test_sizeof_and_empty():
    h = HyperLogLog(14)
    assert h.sizeof() == 0  # fresh sketch is sparse: resident-proportional
    assert h.is_empty()
    assert h.cardinality() == 0  # empty => estimate 0 (< 5, test :110-128)
    h.update_hashes(hash_stream(10))
    assert not h.is_empty()
    assert 0 < h.sizeof() <= 4 * 10  # 4 bytes per nonzero register while sparse
    h.update_hashes(hash_stream(100_000))
    assert h.sizeof() == 2**14  # densified: reference layout, 1 B/register
    h.clear()
    assert h.is_empty()


def test_identical_pushes_identical_registers():
    # reference test/hyperloglog.jl:45-70
    s = hash_stream(5000, seed=7)
    a, b = HyperLogLog(), HyperLogLog()
    a.update_hashes(s)
    b.update_hashes(s[:2500])
    b.update_hashes(s[2500:])
    assert a == b
    assert a.to_bytes() == b.to_bytes()


def test_merge_law_identical_to_union_stream():
    # reference test/hyperloglog.jl:72-88: union(x,y) register-identical to
    # a sketch fed the concatenated streams, with overlap.
    for seed in range(5):
        rs = np.random.default_rng(seed)
        pool = rs.integers(0, 2**64, size=3000, dtype=np.uint64)
        sa = pool[rs.random(3000) < 0.66]
        sb = pool[rs.random(3000) < 0.66]
        x, y, u = HyperLogLog(), HyperLogLog(), HyperLogLog()
        x.update_hashes(sa)
        y.update_hashes(sb)
        u.update_hashes(np.concatenate([sa, sb]))
        merged = x.copy().merge(y)
        assert merged == u
        # commutativity
        assert y.copy().merge(x) == merged
        # idempotence
        assert merged.copy().merge(merged) == merged


def test_merge_associativity_random_trees():
    parts = [hash_stream(1000, seed=s) for s in range(6)]
    sketches = []
    for ps in parts:
        h = HyperLogLog()
        h.update_hashes(ps)
        sketches.append(h)
    left = sketches[0].copy()
    for s in sketches[1:]:
        left.merge(s)
    right = sketches[-1].copy()
    for s in reversed(sketches[:-1]):
        right.merge(s)
    assert left == right


def test_merge_p_mismatch_raises():
    with pytest.raises(ValueError):
        HyperLogLog(14).merge(HyperLogLog(12))


def test_serialization_roundtrip():
    h = HyperLogLog()
    h.update_hashes(hash_stream(10_000, seed=3))
    data = h.to_bytes()
    h2 = HyperLogLog.from_bytes(data)
    assert h2 == h and h2.to_bytes() == data


def test_small_batch_and_large_batch_paths_agree():
    # the >4096 segment-max fast path must equal the ufunc.at path
    s = hash_stream(20_000, seed=9)
    a, b = HyperLogLog(), HyperLogLog()
    a.update_hashes(s)  # fast path
    for chunk in np.array_split(s, 10):  # small-path chunks
        b.update_hashes(chunk)
    assert a == b


@pytest.mark.parametrize("n", [1_000, 100_000, 1_000_000])
def test_accuracy_bound(n):
    """|est - N|/N <= 3 * 1.04/sqrt(2^14) on distinct seeded hashes
    (BASELINE.md accuracy target; reference publishes the bound at
    hyperloglog.jl:20-24 but never tests it)."""
    h = HyperLogLog(14)
    # distinct items: use a permutation-free counter hashed stream
    from probably_jl_spark.sketches.hashing import xxhash64_long_array

    vals = xxhash64_long_array(np.arange(n, dtype=np.int64))
    h.update_hashes(vals)
    est = h.estimate()
    rel = abs(est - n) / n
    assert rel <= 3 * HyperLogLog.error_bound(14), f"rel err {rel:.4f} at n={n}"


# ---------------------------------------------------------- sparse mode


def test_sparse_dense_equivalence_exact():
    """Sparse is a LOSSLESS encoding of the same register file: building
    sparse-first vs straight into dense registers gives equal states,
    identical estimates, and identical canonical wire bytes."""
    s = hash_stream(1_500, seed=3)  # < m/8 distinct registers at p=14
    sparse = HyperLogLog()
    sparse.update_hashes(s)
    assert sparse.is_sparse
    dense = HyperLogLog(14, np.zeros(1 << 14, dtype=np.uint8))
    dense.update_hashes(s)
    assert not dense.is_sparse
    assert sparse == dense
    assert sparse.estimate() == dense.estimate()
    assert sparse.to_bytes() == dense.to_bytes()  # wire canonical in content


def test_sparse_wire_is_small_and_roundtrips():
    h = HyperLogLog()
    h.update_hashes(hash_stream(100, seed=5))
    blob = h.to_bytes()
    assert len(blob) <= 8 + 1 + 4 * 100  # prefix | p | <=4 B/entry, not 16 KB
    back = HyperLogLog.from_bytes(blob)
    assert back == h and back.to_bytes() == blob
    assert back.is_sparse


def test_densify_crossing_emits_legacy_dense_wire():
    """Above m/8 nonzero registers the wire is v1 — byte-identical to the
    pre-sparse format, so old checkpoints stay readable both directions."""
    from probably_jl_spark.sketches import codec

    h = HyperLogLog()
    h.update_hashes(hash_stream(100_000, seed=9))
    assert not h.is_sparse
    blob = h.to_bytes()
    assert codec.peek_version(blob) == 1
    assert len(blob) == 8 + 1 + (1 << 14)  # prefix | p | registers
    # hand-build the legacy wire from the registers and compare bytes
    legacy = codec.wrap(codec.KIND_HLL, bytes([14]), h.registers.tobytes())
    assert blob == legacy
    assert HyperLogLog.from_bytes(blob) == h


def test_mixed_mode_merges():
    """All four mode combinations merge to the same state as the
    one-stream build, including the sparse+sparse overflow densify."""
    s = hash_stream(60_000, seed=11)
    ref = HyperLogLog()
    ref.update_hashes(s)
    for cut in (500, 1_000, 30_000):
        a, b = HyperLogLog(), HyperLogLog()
        a.update_hashes(s[:cut])
        b.update_hashes(s[cut:])
        for x, y in ((a.copy(), b.copy()), (b.copy(), a.copy())):
            merged = x.merge(y)
            assert merged == ref
            assert merged.to_bytes() == ref.to_bytes()
    # sparse+sparse staying sparse
    a, b = HyperLogLog(), HyperLogLog()
    a.update_hashes(s[:400])
    b.update_hashes(s[400:800])
    assert a.is_sparse and b.is_sparse
    m = a.copy().merge(b)
    assert m.is_sparse
    small_ref = HyperLogLog()
    small_ref.update_hashes(s[:800])
    assert m == small_ref and m.to_bytes() == small_ref.to_bytes()


def test_registers_property_densifies_lazily():
    h = HyperLogLog(4)
    assert h.is_sparse
    regs = h.registers  # property access densifies in place
    assert not h.is_sparse and regs.shape == (16,)
    regs.fill(3)
    assert not h.is_empty()


def test_estimate_many_bit_exact_and_mixed():
    """The batch estimator must equal HyperLogLog.estimate() bit for bit
    across occupancies, wire versions, and mixed p — each row freezes at
    its own convergence point exactly like the scalar sigma/tau loops."""
    from probably_jl_spark.sketches.hll import estimate_many

    rng = np.random.default_rng(13)
    blobs, scalar = [], []
    for n, p in [(0, 14), (1, 14), (5, 14), (100, 14), (1_500, 14),
                 (3_000, 14), (50_000, 14), (10, 8), (300, 8), (7, 4),
                 (16, 4), (100, 18)]:
        h = HyperLogLog(p)
        if n:
            h.update_hashes(rng.integers(0, 2**64, n, dtype=np.uint64))
        blobs.append(h.to_bytes())
        scalar.append(h.estimate())
    sat = HyperLogLog(4)
    sat.registers.fill(61)  # saturated: estimate inf
    blobs.append(sat.to_bytes())
    scalar.append(sat.estimate())
    vec = estimate_many(blobs)
    assert all(
        (a == b) or (np.isinf(a) and np.isinf(b)) for a, b in zip(vec, scalar)
    ), list(zip(vec, scalar))


def test_packed_entries_many_helpers_match_scalar():
    """The grouped route's vectorized many-blob emit/decode must be
    byte-identical to the scalar helpers, including dense-v1 fallback
    groups past the m/8 sparse threshold and empty groups."""
    from probably_jl_spark.sketches.hll import (
        packed_entries_from_bytes,
        packed_entries_many_from_bytes,
        packed_entries_many_to_buf,
        packed_entries_to_bytes,
    )

    rng = np.random.RandomState(7)
    p = 10  # m/8 = 128: dense groups are cheap to construct
    sizes = [0, 1, 5, 130, 200, 64, 128, 129, 3, 0]
    groups = []
    for s in sizes:
        idx = np.sort(rng.choice(1 << p, size=s, replace=False)).astype(np.uint32)
        rho = rng.randint(1, 50, size=s).astype(np.uint32)
        groups.append((idx << np.uint32(6)) | rho)
    entries = np.concatenate(groups).astype(np.uint32)
    bounds = np.zeros(len(sizes) + 1, dtype=np.int64)
    np.cumsum(sizes, out=bounds[1:])

    buf, offs = packed_entries_many_to_buf(p, entries, bounds)
    fast = [buf[a:b].tobytes() for a, b in zip(offs[:-1], offs[1:])]
    assert fast == [packed_entries_to_bytes(p, g) for g in groups]

    counts, ent = packed_entries_many_from_bytes(fast)
    off = 0
    for blob, c in zip(fast, counts):
        pp, e = packed_entries_from_bytes(blob)
        assert pp == p and c == e.size
        assert np.array_equal(ent[off : off + c], e)
        off += c

    buf, offs = packed_entries_many_to_buf(p, entries[:0], bounds[:1])
    assert [buf[a:b].tobytes() for a, b in zip(offs[:-1], offs[1:])] == []
    c0, e0 = packed_entries_many_from_bytes([])
    assert c0.size == 0 and e0.size == 0
