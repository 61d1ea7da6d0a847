"""t-digest / KLL accuracy + merge laws (SURVEY.md §2.5, BASELINE.md)."""

import numpy as np
import pytest

from probably_jl_spark.sketches.kll import KLL
from probably_jl_spark.sketches.tdigest import TDigest

QS = [0.01, 0.1, 0.25, 0.5, 0.75, 0.9, 0.99]


def _rank_error(sketch_quantile, data_sorted, q):
    """Distance from q to the true rank *interval* of the estimate — ties
    in discrete data make a single value own a rank range, any point of
    which is a correct answer."""
    est = sketch_quantile(q)
    n = data_sorted.size
    lo = np.searchsorted(data_sorted, est, side="left") / n
    hi = np.searchsorted(data_sorted, est, side="right") / n
    if lo <= q <= hi:
        return 0.0
    return min(abs(q - lo), abs(q - hi))


# Inputs that are hard for t-digest (ROADMAP D4): a heavy tail, values
# spread over 12 decades, and the same values arriving sorted.
HARD = ["pareto", "exp_spaced", "exp_spaced_sorted"]


def _hard_input(dist, rs, n):
    if dist == "pareto":
        return rs.pareto(1.1, n) + 1.0  # continuous Pareto, alpha=1.1, x_m=1
    data = 10.0 ** rs.uniform(0, 12, n)
    return np.sort(data) if dist == "exp_spaced_sorted" else data


@pytest.mark.parametrize("dist", ["uniform", "lognormal", "zipfy", *HARD])
def test_tdigest_rank_error(dist):
    rs = np.random.default_rng(7)
    n = 200_000
    if dist == "uniform":
        data = rs.random(n)
    elif dist == "lognormal":
        data = rs.lognormal(3.0, 1.2, n)
    elif dist == "zipfy":
        data = np.floor(rs.pareto(1.2, n) * 10)
    else:
        data = _hard_input(dist, rs, n)
    td = TDigest(200)
    for chunk in np.array_split(data, 20):
        td.update_values(chunk)
    s = np.sort(data)
    for q in QS:
        err = _rank_error(td.quantile, s, q)
        # t-digest rank error: very small at extreme tails, <~1.2%
        # mid-range at delta=200 (empirical gates; heavy-tie discrete
        # distributions add interpolation noise at tie boundaries)
        bound = 0.012 if 0.1 <= q <= 0.9 else 0.006
        assert err <= bound, f"{dist} q={q} rank err {err:.4f}"


def test_tdigest_merge_matches_single():
    rs = np.random.default_rng(8)
    data = rs.lognormal(2, 1, 100_000)
    parts = np.array_split(data, 16)
    digests = []
    for p in parts:
        d = TDigest(200)
        d.update_values(p)
        digests.append(d)
    merged = digests[0]
    for d in digests[1:]:
        merged.merge(d)
    s = np.sort(data)
    for q in QS:
        assert _rank_error(merged.quantile, s, q) <= 0.015
    assert merged.n == pytest.approx(100_000)


def test_tdigest_min_max_exact():
    td = TDigest(100)
    td.update_values(np.array([5.0, 1.0, 9.0]))
    assert td.quantile(0.0) == 1.0 and td.quantile(1.0) == 9.0


def test_tdigest_bounded_size():
    td = TDigest(100)
    rs = np.random.default_rng(9)
    for _ in range(50):
        td.update_values(rs.random(10_000))
    assert td.means.size <= 2 * 100  # centroid count bounded ~O(delta)


def test_tdigest_serialization_roundtrip():
    td = TDigest(150)
    td.update_values(np.random.default_rng(1).random(5000))
    back = TDigest.from_bytes(td.to_bytes())
    assert back == td and back.to_bytes() == td.to_bytes()
    assert back.quantile(0.5) == td.quantile(0.5)


def test_tdigest_merge_delta_mismatch():
    with pytest.raises(ValueError):
        TDigest(100).merge(TDigest(200))


# ---------------------------------------------------------------------- KLL


@pytest.mark.parametrize("dist", ["uniform", "lognormal", *HARD])
def test_kll_rank_error(dist):
    rs = np.random.default_rng(17)
    n = 200_000
    if dist in HARD:
        data = _hard_input(dist, rs, n)
    else:
        data = rs.random(n) if dist == "uniform" else rs.lognormal(3, 1.2, n)
    kll = KLL(200)
    for chunk in np.array_split(data, 20):
        kll.update_values(chunk)
    assert kll.n == n
    s = np.sort(data)
    bound = KLL.error_bound(200)  # 1%
    for q in QS:
        err = _rank_error(kll.quantile, s, q)
        assert err <= bound, f"{dist} q={q} rank err {err:.4f}"


def test_kll_merge_matches_single():
    rs = np.random.default_rng(18)
    data = rs.lognormal(2, 1, 100_000)
    parts = np.array_split(data, 16)
    sketches = []
    for p in parts:
        k = KLL(200)
        k.update_values(p)
        sketches.append(k)
    merged = sketches[0]
    for sk in sketches[1:]:
        merged.merge(sk)
    assert merged.n == 100_000
    s = np.sort(data)
    for q in QS:
        assert _rank_error(merged.quantile, s, q) <= 2 * KLL.error_bound(200)


def test_kll_deterministic():
    """Counter-based compaction coin => identical states across rebuilds."""
    data = np.random.default_rng(3).random(50_000)
    a, b = KLL(128), KLL(128)
    a.update_values(data)
    b.update_values(data)
    assert a == b and a.to_bytes() == b.to_bytes()


def test_kll_bounded_size():
    kll = KLL(200)
    rs = np.random.default_rng(4)
    for _ in range(50):
        kll.update_values(rs.random(20_000))
    # resident: O(k) compacted levels + the <=_B exact level-0 tail that
    # awaits the next global compaction boundary (slicing invariance)
    from probably_jl_spark.sketches.kll import _B

    total_items = sum(lv.size for lv in kll.levels)
    assert total_items <= 3 * 200 + _B
    # wire form compacts the tail: O(k) bytes (capacity sum is 3k plus
    # the per-level floor-of-2 slack)
    wire = KLL.from_bytes(kll.to_bytes())
    assert sum(lv.size for lv in wire.levels) <= 3 * 200 + 64


def test_kll_rank_and_quantiles_api():
    kll = KLL(200)
    kll.update_values(np.arange(10_000, dtype=np.float64))
    r = kll.rank(5000.0)
    assert abs(r - 5001) <= 2 / 200 * 10_000 + 1
    qs = kll.quantiles(QS)
    assert all(qs[i] <= qs[i + 1] for i in range(len(qs) - 1))


def test_kll_serialization_roundtrip():
    kll = KLL(96)
    kll.update_values(np.random.default_rng(5).random(30_000))
    data = kll.to_bytes()
    back = KLL.from_bytes(data)
    assert back == kll and back.to_bytes() == data


def test_kll_merge_k_mismatch():
    with pytest.raises(ValueError):
        KLL(100).merge(KLL(200))


def test_tdigest_nan_values_keep_weights_aligned():
    """Review finding: NaN filtering must drop the matching weights too."""
    td = TDigest(100)
    td.update_values(np.array([1.0, np.nan, 3.0]), np.array([1.0, 5.0, 2.0]))
    assert td.n == 3.0  # 1 + 2, not 1 + 5
    assert td.quantile(0.99) == 3.0


def test_hll_saturated_cardinality_no_crash():
    from probably_jl_spark.sketches.hll import HyperLogLog

    h = HyperLogLog(4)
    h.registers.fill(61)  # q+1 at p=4: fully saturated -> estimate inf
    assert h.cardinality() == (1 << 63) - 1


def test_batch_slicing_invariance():
    """Code-review r02 finding: sketch bytes must depend on the VALUE
    SEQUENCE only, never on how callers slice it into (Arrow) batches —
    otherwise the checkpoint byte-identical resume law breaks whenever a
    partition spans >1 batch. Compactions are aligned to global ingest
    counts, so any slicing of the same stream gives identical bytes."""
    import numpy as np

    from probably_jl_spark.sketches.kll import KLL
    from probably_jl_spark.sketches.tdigest import TDigest

    rng = np.random.default_rng(3)
    vals = rng.normal(size=50_000)
    slicings = [
        [vals],                                   # one call
        np.array_split(vals, 7),                  # mid-size chunks
        np.array_split(vals, [10_000, 10_001, 33_333]),  # ragged
        np.array_split(vals, 501),                # many small chunks
    ]
    td_bytes, kll_bytes = set(), set()
    for chunks in slicings:
        td, kl = TDigest(200.0), KLL(200)
        for c in chunks:
            if len(c):
                td.update_values(c)
                kl.update_values(c)
        td_bytes.add(td.to_bytes())
        kll_bytes.add(kl.to_bytes())
    assert len(td_bytes) == 1, "t-digest bytes depend on batch slicing"
    assert len(kll_bytes) == 1, "KLL bytes depend on batch slicing"


def test_tdigest_buffer_does_not_alias_caller_array():
    """Review r02: buffered pending values must be copies — mutating the
    caller's array between updates must not change the digest."""
    rng = np.random.default_rng(9)
    b1, b2 = rng.random(1000), rng.random(1000)
    scratch = np.empty(1000)
    td_scratch = TDigest(200.0)
    scratch[:] = b1
    td_scratch.update_values(scratch)
    scratch[:] = b2  # caller reuses its buffer
    td_scratch.update_values(scratch)
    td_fresh = TDigest(200.0)
    td_fresh.update_values(b1)
    td_fresh.update_values(b2)
    assert td_scratch.to_bytes() == td_fresh.to_bytes()


def test_serialization_barrier_resume_law():
    """ADVICE r02: a live sketch that serialized at point X and its
    deserialized twin must continue ingesting byte-identically.
    to_bytes is a mutating barrier (flush/compact in place) and the
    ingest alignment (_ingested / n) rides in the header, so bytes are a
    deterministic function of (value sequence, serialization points) —
    never of which process holds the sketch."""
    from probably_jl_spark.sketches.kll import KLL
    from probably_jl_spark.sketches.tdigest import TDigest

    rng = np.random.default_rng(17)
    head, tail = rng.normal(size=7_001), rng.normal(size=13_003)

    for mk in (lambda: TDigest(200.0), lambda: KLL(200)):
        live = mk()
        live.update_values(head)
        twin = type(live).from_bytes(live.to_bytes())
        live.update_values(tail)
        twin.update_values(tail)
        assert live.to_bytes() == twin.to_bytes(), type(live).__name__
        # and a second serialization is idempotent (barrier already taken)
        assert live.to_bytes() == live.to_bytes()


def test_tdigest_ingested_survives_roundtrip():
    """The _B-boundary alignment counter is part of the wire header."""
    from probably_jl_spark.sketches.tdigest import TDigest

    td = TDigest(200.0)
    td.update_values(np.arange(5_555, dtype=np.float64))
    rt = TDigest.from_bytes(td.to_bytes())
    assert rt._ingested == td._ingested == 5_555


def test_tdigest_reads_v1_blobs():
    """code-review r3: the r2 wire format (v1, no ingest counter) must
    still deserialize — old checkpoint states are merge/query-safe."""
    import struct

    from probably_jl_spark.sketches import codec
    from probably_jl_spark.sketches.tdigest import TDigest

    td = TDigest(200.0)
    td.update_values(np.arange(10_000, dtype=np.float64))
    td._flush()
    v1_hdr = struct.pack("<dQdd", td.delta, td.means.size, td.vmin, td.vmax)
    v1 = codec.wrap(
        codec.KIND_TDIGEST, v1_hdr, td.means.tobytes() + td.weights.tobytes(), version=1
    )
    old = TDigest.from_bytes(v1)
    assert old._ingested == 0
    assert abs(old.quantile(0.5) - td.quantile(0.5)) < 1e-9
    # and it merges with a v2 sketch
    merged = old.merge(TDigest.from_bytes(td.to_bytes()))
    assert merged.n == 20_000


def test_tdigest_eq_includes_extremes_and_weight_guards():
    """vmin/vmax are state (quantile(0)/quantile(1)/cdf read them; the
    wire serializes them): digests with identical centroids but
    different extremes must not compare equal. Weights are validated at
    the ingestion boundary like build.py's count columns."""
    x, y = TDigest(10.0), TDigest(10.0)
    x.update_values(np.array([0, 2, 4, 6, 10, 12, 14, 16], dtype=float))
    y.update_values(np.array([0.5, 1.5, 4, 6, 10, 12, 14, 16], dtype=float))
    assert x != y  # same centroids after collapse, different vmin
    with pytest.raises(ValueError, match="finite"):
        TDigest().update_values(np.array([1.0, 2.0]), np.array([1.0, np.nan]))
    with pytest.raises(ValueError, match=">= 0"):
        TDigest().update_values(np.array([1.0]), np.array([-5.0]))
