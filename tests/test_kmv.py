"""KMV distinct sketch laws: exactness below capacity, estimator bound,
byte-exact merge algebra, theta-style set operations, round-trip.

Mirrors the reference's property-test strategy (SURVEY.md §5.1) for a
[NEW] sketch; the published bounds are Beyer et al. SIGMOD 2007 (see
kmv.py docstring)."""

import numpy as np
import pytest
from hypothesis import given, settings
from hypothesis import strategies as st

from probably_jl_spark.operators.specs import merge_blobs, sketch_from_bytes
from probably_jl_spark.sketches.hashing import xxhash64_long_array
from probably_jl_spark.sketches.kmv import KMV


def _hashes(lo, hi):
    """Realistic uniform hashes: Spark-compatible xxhash64 of a key range."""
    return xxhash64_long_array(np.arange(lo, hi, dtype=np.int64))


def test_exact_below_capacity():
    sk = KMV(256)
    h = _hashes(0, 200)
    sk.update_hashes(h)
    sk.update_hashes(h)  # duplicates don't count
    assert sk.cardinality() == 200.0
    assert sk.mins.size == 200


def test_estimate_within_3sigma():
    k = 512
    n = 100_000
    sk = KMV(k)
    sk.update_hashes(_hashes(0, n))
    rse = KMV.relative_std_error(k)
    assert abs(sk.cardinality() - n) <= 3 * rse * n


def test_batch_split_independence():
    h = _hashes(0, 5000)
    a = KMV(64)
    a.update_hashes(h)
    b = KMV(64)
    for chunk in np.array_split(h, 13):
        b.update_hashes(chunk)
    assert a == b
    assert a.to_bytes() == b.to_bytes()


def test_merge_commutative_associative_byte_exact():
    parts = [
        _hashes(0, 3000),
        _hashes(2000, 6000),
        _hashes(5500, 9000),
    ]
    sks = []
    for p in parts:
        sk = KMV(128)
        sk.update_hashes(p)
        sks.append(sk)
    ab_c = sks[0].merge(sks[1]).merge(sks[2])
    a_bc = sks[0].merge(sks[1].merge(sks[2]))
    ba_c = sks[1].merge(sks[0]).merge(sks[2])
    assert ab_c.to_bytes() == a_bc.to_bytes() == ba_c.to_bytes()
    # merged sketch == sketch of the concatenation (pure set semantics)
    direct = KMV(128)
    direct.update_hashes(np.concatenate(parts))
    assert direct == ab_c


def test_set_ops_exact_below_capacity():
    a = KMV(1024)
    b = KMV(1024)
    a.update_hashes(_hashes(0, 300))  # {0..299}
    b.update_hashes(_hashes(200, 600))  # {200..599}
    assert a.intersection_cardinality(b) == 100.0
    assert a.difference_cardinality(b) == 200.0
    assert b.difference_cardinality(a) == 300.0
    assert a.union_cardinality(b) == 600.0
    assert a.jaccard(b) == pytest.approx(100 / 600)


def test_set_ops_estimates_within_bound():
    """Full sketches: set-op error scales with union/sqrt(k) (theta
    framework). Gate at 3x that, fixed seed keys."""
    k = 512
    a = KMV(k)
    b = KMV(k)
    a.update_hashes(_hashes(0, 60_000))  # {0..60k}
    b.update_hashes(_hashes(40_000, 100_000))  # {40k..100k}
    union, inter = 100_000, 20_000
    tol = 3 * union / np.sqrt(k - 2)
    assert abs(a.intersection_cardinality(b) - inter) <= tol
    assert abs(a.difference_cardinality(b) - 40_000) <= tol
    assert abs(a.union_cardinality(b) - union) <= 3 * union * KMV.relative_std_error(k)


def test_roundtrip_and_blob_merge():
    sk = KMV(64)
    sk.update_hashes(_hashes(0, 1000))
    rt = sketch_from_bytes(sk.to_bytes())
    assert rt == sk and isinstance(rt, KMV)
    other = KMV(64)
    other.update_hashes(_hashes(500, 1500))
    merged = sketch_from_bytes(merge_blobs(sk.to_bytes(), other.to_bytes()))
    assert merged == sk.merge(other)


def test_bookkeeping_and_validation():
    with pytest.raises(ValueError):
        KMV(8)
    sk = KMV(32)
    assert sk.is_empty()
    sk.update_hashes(_hashes(0, 10))
    assert not sk.is_empty()
    cp = sk.copy()
    cp.update_hashes(_hashes(10, 20))
    assert cp != sk  # copy is independent
    sk.empty()
    assert sk.is_empty()
    with pytest.raises(ValueError):
        KMV(32).merge(KMV(64))


@given(st.lists(st.integers(min_value=0, max_value=2**64 - 1), max_size=300))
@settings(max_examples=50, deadline=None)
def test_prop_merge_equals_concat(xs):
    h = np.array(xs, dtype=np.uint64)
    half = len(xs) // 2
    a = KMV(16)
    a.update_hashes(h[:half])
    b = KMV(16)
    b.update_hashes(h[half:])
    direct = KMV(16)
    direct.update_hashes(h)
    assert a.merge(b) == direct
    assert a.merge(b).to_bytes() == b.merge(a).to_bytes()
    # exactness below capacity
    if len(np.unique(h)) < 16:
        assert direct.cardinality() == float(len(np.unique(h)))


def test_union_cardinality_unequal_k():
    """Set-op API is symmetric across unequal-k sketches: union joins
    intersection/difference/jaccard in accepting them via the theta
    framework (|retained below min-theta| / theta)."""
    rng = np.random.default_rng(3)
    ha = rng.integers(0, 2**64, 5_000, dtype=np.uint64)
    hb = rng.integers(0, 2**64, 5_000, dtype=np.uint64)
    a, b = KMV(64), KMV(128)
    a.update_hashes(ha)
    b.update_hashes(hb)
    true = float(np.union1d(ha, hb).size)
    est = a.union_cardinality(b)
    assert abs(est - true) / true <= 4.0 / np.sqrt(62)  # ~4σ of RSE(k=64)
    # below capacity on both sides: exact
    s, t = KMV(32), KMV(64)
    s.update_hashes(ha[:10])
    t.update_hashes(ha[5:20])
    assert s.union_cardinality(t) == float(np.union1d(ha[:10], ha[5:20]).size)
    # equal-k path unchanged: the byte-exact merge's own estimator
    a2 = KMV(64)
    a2.update_hashes(ha)
    assert a.union_cardinality(a2) == a.cardinality()
    with pytest.raises(TypeError):
        a.union_cardinality("nope")


def test_intersection_mixed_kind_error_message():
    """Mixed sketch kinds get the real diagnosis (mixed kinds), not a
    self-contradictory 'got KMV' rejection."""
    from probably_jl_spark.functions import intersection_cardinality
    from probably_jl_spark.sketches.hll import HyperLogLog

    a = KMV(64)
    a.update_hashes(_hashes(0, 100))
    h = HyperLogLog(12)
    with pytest.raises(TypeError, match="same kind.*KMV.*HyperLogLog"):
        intersection_cardinality(a, h)


def test_mins_many_helpers_match_scalar():
    """Vectorized many-blob KMV emit/decode byte-identical to the scalar
    wire helpers; the wire's count field stays authoritative (a padded
    blob decodes to exactly count mins, like mins_from_bytes)."""
    from probably_jl_spark.sketches.kmv import (
        mins_from_bytes,
        mins_many_from_bytes,
        mins_many_to_buf,
        mins_to_bytes,
    )

    rng = np.random.RandomState(11)
    k = 64
    sizes = [0, 1, 64, 30, 64, 2, 0]
    groups = [np.sort(rng.randint(0, 2**63, size=s).astype(np.uint64)) for s in sizes]
    mins = np.concatenate(groups).astype(np.uint64)
    bounds = np.zeros(len(sizes) + 1, dtype=np.int64)
    np.cumsum(sizes, out=bounds[1:])

    buf, offs = mins_many_to_buf(k, mins, bounds)
    fast = [buf[a:b].tobytes() for a, b in zip(offs[:-1], offs[1:])]
    assert fast == [mins_to_bytes(k, g) for g in groups]

    counts, out = mins_many_from_bytes(fast)
    off = 0
    for blob, c in zip(fast, counts):
        kk, e = mins_from_bytes(blob)
        assert kk == k and c == e.size
        assert np.array_equal(out[off : off + c], e)
        off += c

    padded = fast[2] + b"\x00" * 8
    counts, out = mins_many_from_bytes([padded, fast[1]])
    assert counts[0] == sizes[2] and np.array_equal(out[: counts[0]], groups[2])
    assert counts[1] == sizes[1]

    buf, offs = mins_many_to_buf(k, mins[:0], bounds[:1])
    assert [buf[a:b].tobytes() for a, b in zip(offs[:-1], offs[1:])] == []
    c0, e0 = mins_many_from_bytes([])
    assert c0.size == 0 and e0.size == 0
