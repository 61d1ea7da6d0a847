"""Hypothesis property tests for the sketch-kernel laws.

The reference's own test strategy is unit/property tests over random
inputs (SURVEY.md §5.1: runtests.jl property checks for estimate
accuracy, union/merge commutativity-associativity, serialization
round-trip). The fixed-seed law tests elsewhere pin known fixtures;
these let hypothesis hunt the input space for violations of the same
laws. Pure-Python kernels only — no SparkSession, so the file runs in
seconds and can't contend with bench legs.
"""

import numpy as np
from hypothesis import example, given, settings
from hypothesis import strategies as st

from probably_jl_spark.operators.specs import merge_blobs, sketch_from_bytes
from probably_jl_spark.sketches import BloomFilter, CountMinSketch, HyperLogLog
from probably_jl_spark.sketches.cuckoo import CuckooFilter
from probably_jl_spark.sketches.kll import KLL
from probably_jl_spark.sketches.tdigest import TDigest

hashes = st.lists(
    st.integers(min_value=0, max_value=2**64 - 1), min_size=0, max_size=300
)
values = st.lists(
    st.floats(
        min_value=-1e12, max_value=1e12, allow_nan=False, allow_infinity=False
    ),
    min_size=1,
    max_size=300,
)


def _h(xs):
    return np.array(xs, dtype=np.uint64)


def _build(kind, xs):
    if kind == "hll":
        sk = HyperLogLog(12)
        sk.update_hashes(_h(xs))
    elif kind == "cms":
        sk = CountMinSketch(256, 3)
        sk.update_hashes(_h(xs))
    else:
        sk = BloomFilter(1 << 12, 4)
        sk.update_hashes(_h(xs))
    return sk


@settings(max_examples=60, deadline=None)
@given(a=hashes, b=hashes, c=hashes, kind=st.sampled_from(["hll", "cms", "bloom"]))
def test_merge_commutative_associative_roundtrip(a, b, c, kind):
    """(A + B) + C == A + (B + C) == C + (B + A), all byte-exact, and the
    merged state survives serialization byte-exactly (reference
    test/hyperloglog.jl:72-88, countmin.jl:119-138, bloom.jl:81-101)."""
    A, B, C = (_build(kind, xs).to_bytes() for xs in (a, b, c))
    left = merge_blobs(merge_blobs(A, B), C)
    right = merge_blobs(A, merge_blobs(B, C))
    rev = merge_blobs(C, merge_blobs(B, A))
    assert left == right == rev
    assert sketch_from_bytes(left).to_bytes() == left


@settings(max_examples=60, deadline=None)
@given(xs=hashes, split=st.integers(min_value=0, max_value=300))
def test_partitioned_build_equals_global(xs, split):
    """Building on any 2-way split of the input and merging equals one
    global build (the distributed-build correctness core)."""
    split = min(split, len(xs))
    for kind in ("hll", "cms", "bloom"):
        whole = _build(kind, xs).to_bytes()
        parts = merge_blobs(
            _build(kind, xs[:split]).to_bytes(), _build(kind, xs[split:]).to_bytes()
        )
        assert whole == parts


@settings(max_examples=40, deadline=None)
@given(xs=hashes)
def test_bloom_cuckoo_no_false_negatives(xs):
    bf = BloomFilter(1 << 12, 4)
    bf.update_hashes(_h(xs))
    assert bf.contains_hashes(_h(xs)).all() or not xs
    cf = CuckooFilter(1 << 12, f=12)
    ok = cf.update_hashes(_h(xs))
    if ok:  # while open, every accepted item must be found
        assert cf.contains_hashes(_h(xs)).all() or not xs


@settings(max_examples=40, deadline=None)
@given(xs=hashes)
def test_cms_never_underestimates(xs):
    sk = CountMinSketch(256, 3)
    sk.update_hashes(_h(xs))
    if xs:
        uniq, counts = np.unique(_h(xs), return_counts=True)
        est = sk.query_hashes(uniq)
        assert (est >= counts).all()


@settings(max_examples=40, deadline=None)
@given(vs=values, q=st.floats(min_value=0.01, max_value=0.99))
def test_quantile_estimates_within_value_range(vs, q):
    """t-digest/KLL quantile estimates stay inside [min, max] of the
    data, and their wire forms round-trip to equal sketches."""
    arr = np.array(vs, dtype=np.float64)
    for sk in (TDigest(100.0), KLL(100)):
        sk.update_values(arr)
        est = sk.quantile(q)
        assert arr.min() - 1e-9 <= est <= arr.max() + 1e-9
        assert sketch_from_bytes(sk.to_bytes()).to_bytes() == sk.to_bytes()


@settings(max_examples=30, deadline=None)
@given(vs=values, split=st.integers(min_value=0, max_value=300))
@example(
    vs=[-1.0,
     -1.0,
     -2.2250738585072014e-308,
     -1.1125369292536007e-308,
     -1.1125369292536007e-308],
    split=0,
).via('discovered failure')
def test_quantile_merge_rank_consistency(vs, split):
    """A merged quantile sketch ranks within the documented bound of the
    split-free build (merge may reorder compactions, so estimates need
    not be byte-equal — rank error must still hold)."""
    split = min(split, len(vs))
    arr = np.array(vs, dtype=np.float64)
    for make, bound in ((lambda: TDigest(100.0), 0.06), (lambda: KLL(100), 0.04)):
        a, b = make(), make()
        a.update_values(arr[:split])
        b.update_values(arr[split:])
        merged = sketch_from_bytes(merge_blobs(a.to_bytes(), b.to_bytes()))
        est = merged.quantile(0.5)
        # with ties the achievable rank is an interval [P(<est), P(<=est)]
        lo = (arr < est).sum() / len(arr)
        hi = (arr <= est).sum() / len(arr)
        slack = bound + 1.5 / len(arr)  # + discretization for tiny inputs
        assert lo - slack <= 0.5 <= hi + slack


@settings(max_examples=50, deadline=None)
@given(
    sizes=st.lists(st.integers(min_value=0, max_value=160), min_size=1, max_size=12),
    p=st.sampled_from([8, 10, 14]),
    seed=st.integers(min_value=0, max_value=2**31 - 1),
)
def test_hll_many_blob_helpers_equal_scalar(sizes, p, seed):
    """packed_entries_many_to_buf/from_bytes == the scalar helpers for ANY
    mix of group sizes, including empty groups and dense-v1 fallbacks
    (sizes above m/8)."""
    from probably_jl_spark.sketches.hll import (
        packed_entries_from_bytes,
        packed_entries_many_from_bytes,
        packed_entries_many_to_buf,
        packed_entries_to_bytes,
    )

    rng = np.random.RandomState(seed)
    groups = []
    for s in sizes:
        s = min(s, 1 << p)
        idx = np.sort(rng.choice(1 << p, size=s, replace=False)).astype(np.uint32)
        rho = rng.randint(1, 64 - p + 1, size=s).astype(np.uint32)
        groups.append((idx << np.uint32(6)) | rho)
    entries = (
        np.concatenate(groups).astype(np.uint32)
        if groups
        else np.empty(0, dtype=np.uint32)
    )
    bounds = np.zeros(len(groups) + 1, dtype=np.int64)
    np.cumsum([g.size for g in groups], out=bounds[1:])
    buf, offs = packed_entries_many_to_buf(p, entries, bounds)
    blobs = [buf[a:b].tobytes() for a, b in zip(offs[:-1], offs[1:])]
    assert blobs == [packed_entries_to_bytes(p, g) for g in groups]
    counts, ent = packed_entries_many_from_bytes(blobs)
    off = 0
    for blob, c in zip(blobs, counts):
        pp, e = packed_entries_from_bytes(blob)
        assert pp == p and c == e.size
        assert np.array_equal(ent[off : off + c], e)
        off += c


@settings(max_examples=50, deadline=None)
@given(
    sizes=st.lists(st.integers(min_value=0, max_value=80), min_size=1, max_size=12),
    k=st.sampled_from([16, 64, 256]),
    seed=st.integers(min_value=0, max_value=2**31 - 1),
)
def test_kmv_many_blob_helpers_equal_scalar(sizes, k, seed):
    from probably_jl_spark.sketches.kmv import (
        mins_from_bytes,
        mins_many_from_bytes,
        mins_many_to_buf,
        mins_to_bytes,
    )

    rng = np.random.RandomState(seed)
    groups = [
        np.unique(rng.randint(0, 2**63, size=s).astype(np.uint64))[: min(s, k)]
        for s in sizes
    ]
    mins = (
        np.concatenate(groups).astype(np.uint64)
        if groups
        else np.empty(0, dtype=np.uint64)
    )
    bounds = np.zeros(len(groups) + 1, dtype=np.int64)
    np.cumsum([g.size for g in groups], out=bounds[1:])
    buf, offs = mins_many_to_buf(k, mins, bounds)
    blobs = [buf[a:b].tobytes() for a, b in zip(offs[:-1], offs[1:])]
    assert blobs == [mins_to_bytes(k, g) for g in groups]
    counts, out = mins_many_from_bytes(blobs)
    off = 0
    for blob, c in zip(blobs, counts):
        kk, e = mins_from_bytes(blob)
        assert kk == k and c == e.size
        assert np.array_equal(out[off : off + c], e)
        off += c
