"""Misra-Gries heavy-hitters laws: per-item bounds, the deficit
invariant, completeness, batch-split independence (the KLL-style _B
alignment), weighted updates, merge-tree bound preservation, round-trip.

Published guarantees under test (mg.py docstring; Misra-Gries 1982,
Agarwal et al. PODS 2012):
  * est ≤ true ≤ est + deficit for every item;
  * deficit · (k+1) ≤ N − M (N total weight, M retained mass);
  * every item with true frequency > deficit is retained
    (a fortiori every item with frequency > N/(k+1)).
"""

import numpy as np
import pytest
from hypothesis import given, settings
from hypothesis import strategies as st

from probably_jl_spark.operators.specs import merge_blobs, sketch_from_bytes
from probably_jl_spark.sketches.hashing import xxhash64_any, xxhash64_long_array
from probably_jl_spark.sketches.mg import MisraGries


def _zipf_stream(n_items, n_keys, seed=7):
    """Deterministic skewed stream of key ids, then hashed like Spark."""
    rng = np.random.default_rng(seed)
    ranks = rng.zipf(1.3, size=n_items).astype(np.int64) % n_keys
    return ranks, xxhash64_long_array(ranks)


def _exact(ranks):
    keys, counts = np.unique(ranks, return_counts=True)
    return dict(zip(keys.tolist(), counts.tolist()))


def _check_laws(mg, exact, n):
    assert mg.n == n
    # deficit invariant
    assert mg.deficit * (mg.k + 1) <= mg.n - int(mg.counts.sum())
    assert mg.deficit <= mg.n // (mg.k + 1)
    for key, true in exact.items():
        est = mg.query_hash(xxhash64_any(int(key)))
        assert est <= true <= est + mg.deficit
        if true > mg.deficit:  # completeness
            assert est > 0


def test_exact_when_under_k():
    ranks = np.repeat(np.arange(10, dtype=np.int64), [5, 3, 8, 1, 9, 2, 7, 4, 6, 10])
    mg = MisraGries(16)
    mg.update_hashes(xxhash64_long_array(ranks))
    assert mg.deficit == 0
    for k, c in _exact(ranks).items():
        assert mg.query_hash(xxhash64_any(int(k))) == c


def test_skewed_stream_laws():
    ranks, h = _zipf_stream(60_000, 5_000)
    mg = MisraGries(64)
    mg.update_hashes(h)
    assert mg.deficit > 0  # non-vacuous: decrements actually happened
    _check_laws(mg, _exact(ranks), len(ranks))


def test_batch_split_independence():
    _, h = _zipf_stream(30_000, 2_000)
    a = MisraGries(32)
    a.update_hashes(h)
    b = MisraGries(32)
    for chunk in np.array_split(h, 11):  # slices cross _B boundaries
        b.update_hashes(chunk)
    assert a == b
    assert a.to_bytes() == b.to_bytes()


def test_weighted_equals_repeated():
    keys = np.array([1, 2, 3, 4, 5], dtype=np.int64)
    weights = np.array([100, 1, 50, 7, 200], dtype=np.int64)
    h = xxhash64_long_array(keys)
    w = MisraGries(8)
    w.update_hashes(h, counts=weights)
    assert w.n == int(weights.sum())
    for k, c in zip(keys, weights):
        assert w.query_hash(xxhash64_any(int(k))) == int(c)


def test_merge_preserves_bounds():
    ranks, h = _zipf_stream(80_000, 4_000, seed=11)
    parts = np.array_split(np.arange(len(h)), 5)
    sks = []
    for p in parts:
        mg = MisraGries(48)
        mg.update_hashes(h[p])
        sks.append(mg)
    # two different merge trees
    left = sks[0]
    for s in sks[1:]:
        left = left.merge(s)
    pairwise = sks[0].merge(sks[1]).merge(sks[2].merge(sks[3])).merge(sks[4])
    for merged in (left, pairwise):
        assert merged.keys.size <= 48
        _check_laws(merged, _exact(ranks), len(ranks))


def test_serialization_barrier_resume_law():
    _, h = _zipf_stream(20_000, 1_500, seed=3)
    live = MisraGries(32)
    live.update_hashes(h[:12_000])
    twin = sketch_from_bytes(live.to_bytes())
    live.update_hashes(h[12_000:])
    twin.update_hashes(h[12_000:])
    assert live == twin and live.to_bytes() == twin.to_bytes()


def test_blob_merge_and_validation():
    _, h = _zipf_stream(5_000, 300)
    a = MisraGries(16)
    a.update_hashes(h[:2_500])
    b = MisraGries(16)
    b.update_hashes(h[2_500:])
    merged = sketch_from_bytes(merge_blobs(a.to_bytes(), b.to_bytes()))
    assert isinstance(merged, MisraGries)
    assert merged.n == 5_000
    with pytest.raises(ValueError):
        MisraGries(16).merge(MisraGries(8))
    with pytest.raises(ValueError):
        MisraGries(0)
    mg = MisraGries(4)
    assert mg.is_empty()
    mg.update_hashes(h[:10])
    mg.empty()
    assert mg.is_empty() and mg.deficit == 0


@given(
    st.lists(st.integers(min_value=0, max_value=50), min_size=1, max_size=400),
    st.integers(min_value=1, max_value=12),
)
@settings(max_examples=60, deadline=None)
def test_prop_laws_any_stream(xs, k):
    ranks = np.array(xs, dtype=np.int64)
    h = xxhash64_long_array(ranks)
    mg = MisraGries(k)
    mg.update_hashes(h)
    _check_laws(mg, _exact(ranks), len(ranks))
    # round-trip
    assert sketch_from_bytes(mg.to_bytes()) == mg


def test_weight_validation_and_zero_drop():
    """Negative/fractional weights are rejected (they would wrap through
    the uint64 cast into a ~2^64 counter no trim ever drops,
    permanently breaking est ≤ true); zero weights install no phantom
    counters."""
    mg = MisraGries(4)
    h = xxhash64_long_array(np.arange(5, dtype=np.int64))
    with pytest.raises(ValueError, match="non-negative"):
        mg.update_hashes(h, counts=np.array([-1, 1, 1, 1, 1]))
    with pytest.raises(ValueError, match="integral"):
        mg.update_hashes(h, counts=np.array([0.5, 1, 1, 1, 1]))
    # rejected batches must not have mutated the state
    assert mg.is_empty() and mg.keys.size == 0
    mg.update_hashes(h[:3], counts=np.array([0, 2, 3]))
    keys, counts = mg.candidates()
    assert int(h[0]) not in keys.tolist()  # zero-weight key absent
    assert mg.n == 5 and counts.sum() == 5
    assert mg.query_hash(int(h[0])) == 0


def test_weight_sums_exact_past_2_53():
    """A key's count sum is exact for any int64 count: a float64 sum
    would round 2^60 + 1 to 2^60. A sum past 2^64 - 1, within one update
    or across updates, raises instead of wrapping, and leaves n as it
    was."""
    h = np.full(2, xxhash64_any("x"), dtype=np.uint64)
    mg = MisraGries(8)
    mg.update_hashes(h, counts=np.array([2**60 + 1, 0], dtype=np.int64))
    assert mg.query_hash(int(h[0])) == 2**60 + 1
    assert mg.n == 2**60 + 1
    big = np.full(3, 2**63 - 1, dtype=np.int64)
    with pytest.raises(ValueError, match=r"passes 2\^64 - 1"):
        MisraGries(8).update_hashes(np.full(3, h[0]), counts=big)
    mg = MisraGries(8)
    mg.update_hashes(h[:1], counts=big[:1])
    mg.update_hashes(h[:1], counts=big[:1])
    with pytest.raises(ValueError, match=r"passes 2\^64 - 1"):
        mg.update_hashes(h[:1], counts=big[:1])
    assert mg.n == 2 * (2**63 - 1)


def test_merge_refuses_total_past_2_64():
    """A merge whose count total would pass 2^64 - 1 (the wire's uint64
    n) raises the update's ValueError instead of a bare struct.error at
    ``to_bytes``, and leaves both operands as they were; a total of
    exactly 2^64 - 1 still merges and round-trips."""
    h = np.full(1, xxhash64_any("x"), dtype=np.uint64)
    states = []
    for i in range(3):
        mg = MisraGries(8)
        mg.update_hashes(h + np.uint64(i % 2), counts=np.array([2**63 - 1]))
        states.append(mg)
    two = states[0].merge(states[1])
    assert two.n == 2 * (2**63 - 1)
    with pytest.raises(ValueError, match=r"passes 2\^64 - 1"):
        two.merge(states[2])
    with pytest.raises(ValueError, match=r"passes 2\^64 - 1"):
        merge_blobs(two.to_bytes(), states[2].to_bytes())
    assert two.n == 2 * (2**63 - 1) and states[2].n == 2**63 - 1
    one = MisraGries(8)
    one.update_hashes(h, counts=np.array([1]))
    full = two.merge(one)
    assert full.n == 2**64 - 1
    assert MisraGries.from_bytes(full.to_bytes()).n == 2**64 - 1


def test_absorb_matches_double_sort_reference():
    """The searchsorted O(n) merge in _absorb must agree exactly with the
    straightforward concatenate-sort-reduceat definition."""
    rng = np.random.default_rng(11)
    for _ in range(100):
        keys = np.unique(rng.integers(0, 120, rng.integers(0, 60)).astype(np.uint64))
        counts = rng.integers(1, 9, keys.size).astype(np.uint64)
        uh = np.unique(rng.integers(0, 120, rng.integers(0, 60)).astype(np.uint64))
        uc = rng.integers(1, 9, uh.size).astype(np.uint64)
        mg = MisraGries(10_000, keys.copy(), counts.copy())
        mg._absorb(uh, uc)
        allk = np.concatenate([keys, uh])
        allc = np.concatenate([counts, uc])
        order = np.argsort(allk, kind="stable")
        uniq, start = np.unique(allk[order], return_index=True)
        ref_counts = np.add.reduceat(allc[order], start) if allk.size else allc
        assert np.array_equal(mg.keys, uniq)
        assert np.array_equal(mg.counts, ref_counts)
