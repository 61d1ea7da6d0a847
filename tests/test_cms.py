"""CMS laws mirroring reference test/countmin.jl."""

import numpy as np
import pytest

from probably_jl_spark.sketches.cms import CountMinSketch, params_from_error
from probably_jl_spark.sketches.hashing import xxhash64_any


def _add_keys(cms, keyed_counts):
    keys = list(keyed_counts)
    h = np.array([xxhash64_any(k) for k in keys], dtype=np.uint64)
    c = np.array([keyed_counts[k] for k in keys], dtype=np.uint64)
    cms.update_hashes(h, c)


def test_param_validation():
    # reference: len >= 1, ntables >= 2 (sketch.jl:25-31; test :6-27)
    with pytest.raises(ValueError):
        CountMinSketch(0, 4)
    with pytest.raises(ValueError):
        CountMinSketch(100, 1)
    assert CountMinSketch(100, 2).table.shape == (2, 100)
    # kind check, not just itemsize (code-review r5): int32/float32 share
    # itemsize 4 with uint32 but would break the round-trip law
    with pytest.raises(ValueError, match="unsigned"):
        CountMinSketch(100, 2, np.int32)
    with pytest.raises(ValueError, match="unsigned"):
        CountMinSketch(100, 2, np.float32)


def test_params_from_error():
    w, d = params_from_error(0.001, 0.01)
    assert w == 2000 and d == 7  # width=2/eps, depth=ceil(log2(1/delta))


def test_never_underreports():
    # reference test/countmin.jl:93-117: after random keyed adds, est >= true
    rs = np.random.default_rng(11)
    keyed = {f"key-{i}": int(rs.integers(10, 16)) for i in range(100)}
    cms = CountMinSketch(512, 4)
    _add_keys(cms, keyed)
    for k, v in keyed.items():
        assert cms.query(k) >= v
        assert cms.haskey(k)


def test_error_bound():
    """est <= true + eps*T w.p. 1-delta (docs/src/countmin.md:6)."""
    rs = np.random.default_rng(12)
    keyed = {f"k{i}": int(rs.integers(1, 50)) for i in range(2000)}
    total = sum(keyed.values())
    eps, delta = 0.01, 0.01
    w, d = params_from_error(eps, delta)
    cms = CountMinSketch(w, d)
    _add_keys(cms, keyed)
    violations = sum(1 for k, v in keyed.items() if cms.query(k) > v + eps * total)
    assert violations <= delta * len(keyed) * 3  # 3x slack on the tail prob


def test_saturation():
    # reference test/countmin.jl:114-116: UInt8 cells cap at 255
    cms = CountMinSketch(64, 4, dtype=np.uint8)
    h = np.array([xxhash64_any("x")], dtype=np.uint64)
    cms.update_hashes(h, np.array([300], dtype=np.uint64))
    assert cms.query("x") == 255
    cms.update_hashes(h, np.array([10], dtype=np.uint64))
    assert cms.query("x") == 255  # stays saturated, no wraparound


def test_count_sums_exact_past_2_53():
    """Per-cell count sums are exact for any int64 count (a float64 sum
    rounds 2^60 + 1 to 2^60): a uint64-cell CMS holds 2^60 + 1 and
    saturates at 2^64 - 1 instead of wrapping; a uint32-cell CMS still
    saturates at 2^32 - 1."""
    from probably_jl_spark.operators.specs import SketchSpec

    h = np.full(2, xxhash64_any("x"), dtype=np.uint64)
    c = np.array([2**60 + 1, 0], dtype=np.uint64)
    params = {"width": 64, "depth": 3, "dtype": np.uint64}
    spec = SketchSpec("c", "cms", key_cols=("k",), params=params)
    wide = spec.new()
    spec.update(wide, h, None, c)
    assert wide.query("x") == 2**60 + 1
    wide.update_hashes(h, np.full(2, 2**63, dtype=np.uint64))
    assert wide.query("x") == 2**64 - 1
    narrow = CountMinSketch(64, 3)
    narrow.update_hashes(h, c)
    assert narrow.query("x") == 2**32 - 1


def test_merge_law():
    # reference test/countmin.jl:119-138: (x+y)[k] == x[k] + y[k]
    for seed in range(5):
        rs = np.random.default_rng(seed)
        ka = {f"a{i}": int(rs.integers(1, 20)) for i in range(50)}
        kb = {f"a{i}": int(rs.integers(1, 20)) for i in range(30)}  # overlapping
        x = CountMinSketch(1024, 4)
        y = CountMinSketch(1024, 4)
        _add_keys(x, ka)
        _add_keys(y, kb)
        merged = x.copy().merge(y)
        for k in set(ka) | set(kb):
            assert merged.query(k) == x.query(k) + y.query(k)
        assert y.copy().merge(x) == merged  # commutative


def test_merge_mismatch_raises():
    with pytest.raises(ValueError):
        CountMinSketch(100, 4).merge(CountMinSketch(100, 5))
    with pytest.raises(ValueError):
        CountMinSketch(100, 4).merge(CountMinSketch(128, 4))
    with pytest.raises(ValueError):
        CountMinSketch(100, 4, np.uint8).merge(CountMinSketch(100, 4, np.uint32))


def test_merge_saturating():
    x = CountMinSketch(64, 2, dtype=np.uint8)
    y = CountMinSketch(64, 2, dtype=np.uint8)
    h = np.array([xxhash64_any("x")], dtype=np.uint64)
    x.update_hashes(h, np.array([200], dtype=np.uint64))
    y.update_hashes(h, np.array([200], dtype=np.uint64))
    assert x.merge(y).query("x") == 255


def test_fprof_and_bookkeeping():
    cms = CountMinSketch(100, 4)
    assert cms.is_empty() and cms.fprof() == 0.0
    _add_keys(cms, {"a": 1})
    assert not cms.is_empty()
    assert 0 < cms.fprof() <= (1 / 100) ** 4 * 1.001
    cms.clear()
    assert cms.is_empty()


def test_serialization_roundtrip():
    for dt in (np.uint8, np.uint32, np.uint64):
        cms = CountMinSketch(333, 5, dtype=dt)
        _add_keys(cms, {f"k{i}": i + 1 for i in range(200)})
        data = cms.to_bytes()
        back = CountMinSketch.from_bytes(data)
        assert back == cms and back.to_bytes() == data


def test_query_hashes_vectorized_matches_scalar():
    rs = np.random.default_rng(4)
    keyed = {f"k{i}": int(rs.integers(1, 9)) for i in range(300)}
    cms = CountMinSketch(256, 4)
    _add_keys(cms, keyed)
    keys = list(keyed)
    h = np.array([xxhash64_any(k) for k in keys], dtype=np.uint64)
    vec = cms.query_hashes(h)
    for k, e in zip(keys, vec.tolist()):
        assert cms.query(k) == e
