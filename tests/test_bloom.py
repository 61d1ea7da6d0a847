"""Bloom laws mirroring reference test/bloom.jl."""

import numpy as np
import pytest

from probably_jl_spark.sketches.bloom import BloomFilter, constrain_bloom
from probably_jl_spark.sketches.hashing import xxhash64_any


def _hashes(keys):
    return np.array([xxhash64_any(k) for k in keys], dtype=np.uint64)


def test_param_validation():
    with pytest.raises(ValueError):
        BloomFilter(0, 3)
    with pytest.raises(ValueError):
        BloomFilter(100, 0)


def test_no_false_negatives_and_fpr():
    # reference test/bloom.jl:60-79: all 50 inserted found; <5 FP of 50 absent
    present = [f"p{i}" for i in range(50)]
    absent = [f"a{i}" for i in range(50)]
    f = BloomFilter(4096, 4)
    f.update_hashes(_hashes(present))
    assert all(f.contains(k) for k in present)
    fps = sum(f.contains(k) for k in absent)
    assert fps < 5


def test_contains_hashes_vectorized():
    present = [f"p{i}" for i in range(200)]
    f = BloomFilter(1 << 14, 5)
    f.update_hashes(_hashes(present))
    assert f.contains_hashes(_hashes(present)).all()
    probe = [f"q{i}" for i in range(200)]
    vec = f.contains_hashes(_hashes(probe))
    for k, v in zip(probe, vec.tolist()):
        assert f.contains(k) == v


def test_union_superset_and_equality():
    # reference test/bloom.jl:81-101
    a_keys = [f"x{i}" for i in range(40)]
    b_keys = [f"y{i}" for i in range(40)]
    a = BloomFilter(2048, 4)
    b = BloomFilter(2048, 4)
    a.update_hashes(_hashes(a_keys))
    b.update_hashes(_hashes(b_keys))
    u = a.copy().merge(b)
    assert all(u.contains(k) for k in a_keys + b_keys)
    assert b.copy().merge(a) == u  # commutative
    assert u.copy().merge(u) == u  # idempotent
    both = BloomFilter(2048, 4)
    both.update_hashes(_hashes(a_keys + b_keys))
    assert both == u  # OR of states == filter of union stream


def test_merge_mismatch_raises():
    with pytest.raises(ValueError):
        BloomFilter(2048, 4).merge(BloomFilter(1024, 4))
    with pytest.raises(ValueError):
        BloomFilter(2048, 4).merge(BloomFilter(2048, 3))


def test_cardinality_estimator():
    f = BloomFilter(1 << 16, 4)
    keys = [f"k{i}" for i in range(2000)]
    f.update_hashes(_hashes(keys))
    est = f.cardinality()
    assert abs(est - 2000) / 2000 < 0.15  # filter.jl:93-95 estimator


def test_empirical_fpr_within_bound():
    m, k, n = 1 << 14, 4, 1500
    f = BloomFilter(m, k)
    f.update_hashes(_hashes([f"in{i}" for i in range(n)]))
    probes = [f"out{i}" for i in range(20_000)]
    fpr = f.contains_hashes(_hashes(probes)).mean()
    bound = BloomFilter.expected_fpr(m, k, n)
    assert fpr <= 2 * bound + 0.003


def test_serialization_roundtrip():
    f = BloomFilter(999, 3)  # non-multiple-of-64 m
    f.update_hashes(_hashes([f"k{i}" for i in range(100)]))
    data = f.to_bytes()
    back = BloomFilter.from_bytes(data)
    assert back == f and back.to_bytes() == data


def test_constrain():
    plan = constrain_bloom(fpr=0.01, capacity=10_000)
    assert plan.capacity == 10_000
    assert plan.fpr <= 0.0125  # achieved close to requested
    assert plan.k in (6, 7)
    plan2 = constrain_bloom(memory=plan.memory_bytes, capacity=10_000)
    assert abs(plan2.fpr - plan.fpr) / plan.fpr < 0.2
    plan3 = constrain_bloom(fpr=0.01, memory=plan.memory_bytes)
    assert 0.5 < plan3.capacity / 10_000 < 1.5
    with pytest.raises(ValueError):
        constrain_bloom(fpr=0.01)
    with pytest.raises(ValueError):
        constrain_bloom(fpr=0.01, memory=100, capacity=100)


@pytest.mark.parametrize(
    "m,k,n",
    [
        (1 << 18, 7, 48_000),  # dense scatter (the global build's filter)
        (1 << 26, 7, 65_536),  # sparse scatter
        (1_000_003, 7, 48_000),  # dense, m not a power of two nor a multiple of 64
        ((1 << 26) + 3, 5, 1_000),  # sparse, m not a power of two
    ],
)
def test_update_sets_same_bits_as_scatter_or_reference(m, k, n):
    """update_hashes sets exactly the bits of the per-probe
    ``np.bitwise_or.at`` scatter it replaced, on both sides of the
    dense/sparse cut: the bit positions are what stored states hold."""
    from probably_jl_spark.sketches.hashing import SALT_BLOOM, mix64

    h = np.random.default_rng(m).integers(0, 2**64, n, dtype=np.uint64)
    h[:100] = h[100:200]  # repeated items set the same bits again
    ref = np.zeros((m + 63) // 64, dtype=np.uint64)
    for t in range(k):
        idx = mix64(h, SALT_BLOOM + t) % np.uint64(m)
        word = (idx >> np.uint64(6)).astype(np.int64)
        np.bitwise_or.at(ref, word, np.uint64(1) << (idx & np.uint64(63)))
    f = BloomFilter(m, k)
    f.update_hashes(h[: n // 2])
    f.update_hashes(h[n // 2 :])
    assert np.array_equal(f.words, ref)
