"""The one Arrow builder loop of the grouped and rollup stages and its
deferred key coder (operators/grouped.py::_arrow_builder, _KeyCoder),
driven without Spark: codes match one factorize over all keys, the Arrow
encoder matches a pandas factorize reference, flush points match a
per-batch live-key count, the byte budget never changes a builder's
output, the generic stage 1 matches a per-batch, per-key sketch loop
byte for byte, the emitter chunks every flush under ``_EMIT_BYTES``,
and it refuses a state past int32 offsets."""

import numpy as np
import pandas as pd
import pyarrow as pa
import pytest

from probably_jl_spark.operators import grouped
from probably_jl_spark.operators.grouped import (
    _ORD_COL,
    _KeyCoder,
    _arrow_builder,
    _pa_encode,
    _row_builder,
    _SketchKernel,
)
from probably_jl_spark.operators.rollup import _rollup_builder
from probably_jl_spark.operators.specs import SketchSpec


def _batches(df: pd.DataFrame, size: int) -> list[pd.DataFrame]:
    return [df.iloc[i : i + size].reset_index(drop=True) for i in range(0, len(df), size)]


def _arrow(batches: list[pd.DataFrame]) -> list[pa.RecordBatch]:
    """Pandas batches as Arrow ones; a NaN or None cell becomes null, as
    the key projection hands a NaN key to the builders."""
    return [pa.RecordBatch.from_pandas(b, preserve_index=False) for b in batches]


def _pa_keys_of(group_cols):
    return lambda rb: pa.StructArray.from_arrays([rb.column(c) for c in group_cols], group_cols)


def _coder_codes(batches, keys_of, fold_after, encode=_pa_encode):
    """Per-row global codes and the final uniques from the coder,
    consolidating after the batch indexes in ``fold_after`` and at the
    end."""
    coder = _KeyCoder(encode)
    out = []
    for i, pdf in enumerate(batches):
        codes, uniques = encode([keys_of(pdf)])
        coder.add(uniques, codes, None, {}, 0)
        if i in fold_after:
            out.append(coder.consolidate()[0])
    out.append(coder.consolidate()[0])
    return np.concatenate(out), coder.keys


@pytest.mark.parametrize("fold_after", [set(), {0}, {1, 2, 4}, set(range(20))])
def test_coder_codes_equal_one_factorize(fold_after):
    rs = np.random.default_rng(7)
    n = 1000
    f = rs.integers(0, 40, n).astype(np.float64)
    f[rs.random(n) < 0.1] = np.nan
    df = pd.DataFrame({"f": f, "s": rs.choice(["a", "b", "c"], n)})
    batches = _arrow(_batches(df, 97))

    got, _ = _coder_codes(batches, _pa_keys_of(["f"]), fold_after)
    want, uniq = pd.factorize(df["f"], use_na_sentinel=False)
    assert (got == want).all()
    assert np.isnan(uniq).sum() == 1  # NaN keys form one group

    got, _ = _coder_codes(batches, _pa_keys_of(["f", "s"]), fold_after)
    want, _ = pd.MultiIndex.from_frame(df[["f", "s"]]).factorize(use_na_sentinel=False)
    assert (got == want).all()


def _key_rows(keys) -> list[tuple]:
    """Coder uniques as tuples, with every missing value as None."""
    if isinstance(keys, pa.StructArray):
        rows = zip(*[c.to_pylist() for c in keys.flatten()])
    else:
        rows = (k if isinstance(k, tuple) else (k,) for k in keys)
    return [tuple(None if pd.isna(x) else x for x in r) for r in rows]


@pytest.mark.parametrize("group_cols", [["s"], ["s", "i"]])
@pytest.mark.parametrize("fold_after", [set(), {0, 3, 9}])
def test_pa_encode_matches_pd_encode(group_cols, fold_after):
    """The Arrow encoder of every builder gives a pandas ``factorize``
    reference's codes and first-seen uniques, null keys and null parts of
    multi-column keys included, across coder consolidations. The pandas
    side sees what Spark hands ``mapInPandas``: None strings and NaN for
    a null integer."""
    rs = np.random.default_rng(5)
    n = 2000
    s = rs.choice(np.array(["a", "b", "c", "d", None], dtype=object), n)
    i = rs.integers(0, 7, n)
    i_null = rs.random(n) < 0.1
    pdf = pd.DataFrame({"s": s, "i": np.where(i_null, np.nan, i)})
    arrow = pa.table({"s": pa.array(s, type=pa.string()), "i": pa.array(i, mask=i_null)})
    starts = range(0, n, 97)
    pd_batches = [pdf.iloc[k : k + 97].reset_index(drop=True) for k in starts]
    pa_batches = [arrow.slice(k, 97) for k in starts]

    def pa_keys(t):
        return pa.StructArray.from_arrays(
            [t.column(c).combine_chunks() for c in group_cols], group_cols
        )

    def pd_keys(pdf):
        if len(group_cols) == 1:
            return pd.Index(pdf[group_cols[0]])
        return pd.MultiIndex.from_frame(pdf[list(group_cols)])

    def pd_encode(parts):
        keys = parts[0].append(parts[1:]) if len(parts) > 1 else parts[0]
        codes, uniques = keys.factorize(use_na_sentinel=False)
        return np.asarray(codes, dtype=np.int64), uniques

    want, want_keys = _coder_codes(pd_batches, pd_keys, fold_after, encode=pd_encode)
    got, got_keys = _coder_codes(pa_batches, pa_keys, fold_after)
    assert (got == want).all()
    assert [f.name for f in got_keys.type] == group_cols
    assert _key_rows(got_keys) == _key_rows(want_keys)
    assert len(got_keys) == len(want_keys) >= 5


def _flushes(builder, batches) -> list[tuple[list, list]]:
    return [
        (o.column("k").to_pylist(), o.column("n_rows").to_pylist()) for o in builder(iter(batches))
    ]


def test_coder_flushes_on_live_count_batches():
    """Under a cap, the fold builder flushes on exactly the batches where
    a per-batch live-key count passes the cap, with the same keys (first-
    seen order) and row counts."""
    rs = np.random.default_rng(3)
    df = pd.DataFrame({"k": rs.integers(0, 300, 5000)})
    batches = _arrow(_batches(df, 64))

    def stash(rb):
        return None, {}, 0

    for cap in (1, 10, 100, 250, 1000):
        want, live = [], {}
        for rb in batches:
            for k in rb.column("k").to_pylist():
                live[k] = live.get(k, 0) + 1
            if len(live) > cap:
                want.append((list(live), list(live.values())))
                live = {}
        if live:
            want.append((list(live), list(live.values())))
        got = _flushes(_arrow_builder("grouped_sketch", ["k"], cap, True, dict, stash), batches)
        assert got == want, cap


def _state_batches() -> list[pa.RecordBatch]:
    """State rows with repeated keys: HLL, KMV and (generic) CMS columns."""
    from probably_jl_spark.sketches.cms import CountMinSketch
    from probably_jl_spark.sketches.hll import HyperLogLog
    from probably_jl_spark.sketches.kmv import KMV

    rs = np.random.default_rng(11)
    rows = []
    for i in range(300):
        h = rs.integers(0, 2**64, rs.integers(1, 50), dtype=np.uint64)
        hll, kmv, cms = HyperLogLog(10), KMV(32), CountMinSketch(64, 3)
        hll.update_hashes(h)
        kmv.update_hashes(h)
        cms.update_hashes(h)
        rows.append((f"k{rs.integers(0, 40)}", int(h.size), hll.to_bytes(), kmv.to_bytes(), cms.to_bytes()))
    df = pd.DataFrame(rows, columns=["k", "n_rows", "u", "m", "c"])
    return _arrow(_batches(df, 23))


def test_merge_builder_output_ignores_byte_budget(monkeypatch):
    """The state merge consolidating on every batch (a one-byte budget)
    emits the same keys, row counts and state bytes as with one
    consolidation per partition."""
    batches = _state_batches()
    calls = []
    real = _KeyCoder.consolidate

    def counting(self):
        calls.append(len(self._pend))
        return real(self)

    monkeypatch.setattr(_KeyCoder, "consolidate", counting)
    one = list(_rollup_builder(["k"], ["u", "m", "c"], None, False)(iter(batches)))
    assert [c for c in calls if c] == [len(batches)]

    calls.clear()
    monkeypatch.setattr(grouped, "_FOLD_BYTES", 1)
    every = list(_rollup_builder(["k"], ["u", "m", "c"], None, False)(iter(batches)))
    assert [c for c in calls if c] == [1] * len(batches)

    assert len(one) == len(every) == 1
    pd.testing.assert_frame_equal(one[0].to_pandas(), every[0].to_pandas())


_ALL_KINDS = [
    SketchSpec("hll", "hll", key_cols=("a",), params={"p": 8}),
    SketchSpec("cms", "cms", key_cols=("a",), count_col="n", params={"width": 64, "depth": 3}),
    SketchSpec("bloom", "bloom", key_cols=("a",), params={"m": 1 << 10, "k": 3}),
    SketchSpec("kmv", "kmv", key_cols=("b",), params={"k": 16}),
    SketchSpec("mg", "mg", key_cols=("b",), params={"k": 4}),
    SketchSpec("cuckoo", "cuckoo", key_cols=("b",), params={"len": 64}),
    SketchSpec("td", "tdigest", value_col="x", params={"delta": 20.0}),
    SketchSpec("kll", "kll", value_col="x", params={"k": 8}),
]
_ALL_COLS = {
    "hll": {"h": "__h0"},
    "cms": {"h": "__h0", "c": "__c0"},
    "bloom": {"h": "__h0"},
    "kmv": {"h": "__h1"},
    "mg": {"h": "__h1"},
    "cuckoo": {"h": "__h1"},
    "td": {"v": "__v0"},
    "kll": {"v": "__v0"},
}


def _raw_batches() -> list[pd.DataFrame]:
    """Raw rows as pandas batches (the per-key reference reads them, the
    builders read them through `_arrow`): float32 keys with NaN, string
    keys with None, hash, value and count columns."""
    rs = np.random.default_rng(17)
    n = 1500
    f = rs.integers(0, 6, n).astype(np.float32)
    f[rs.random(n) < 0.15] = np.nan
    s = rs.choice(np.array(["p", "q", "r", None], dtype=object), n)
    df = pd.DataFrame({
        "f": f,
        "s": s,
        "__h0": rs.integers(-(2**63), 2**63 - 1, n, dtype=np.int64),
        "__h1": rs.integers(0, 40, n).astype(np.int64) * 7919,
        "__v0": rs.lognormal(0.0, 2.0, n),
        "__c0": rs.integers(0, 5, n).astype(np.int64),
    })
    cuts = [0, 400, 650, 1200, n]
    return [df.iloc[i:j].reset_index(drop=True) for i, j in zip(cuts, cuts[1:])]


def _wide_batches() -> list[pd.DataFrame]:
    """`_raw_batches`' payload columns under ~2k distinct integer keys
    ``i`` (a null long reaches pandas as NaN), most keys in several of
    the 4 batches."""
    rs = np.random.default_rng(23)
    n = 6000
    i = rs.integers(0, 2048, n).astype(np.float64)
    i[rs.random(n) < 0.01] = np.nan
    df = pd.DataFrame({
        "i": i,
        "__h0": rs.integers(-(2**63), 2**63 - 1, n, dtype=np.int64),
        "__h1": rs.integers(0, 40, n).astype(np.int64) * 7919,
        "__v0": rs.lognormal(0.0, 2.0, n),
        "__c0": rs.integers(0, 5, n).astype(np.int64),
    })
    cuts = [0, 1600, 2900, 4700, n]
    return [df.iloc[i:j].reset_index(drop=True) for i, j in zip(cuts, cuts[1:])]


def _reference_stage1(specs, group_cols, col_map, cap, batches) -> dict:
    """{(ord, key): (n_rows, blobs)} from a per-batch loop that keeps a
    {key -> sketches} dict, one ``spec.update`` per (batch, key) on the
    key's rows in row order, missing key parts as None, flushed when
    the dict passes ``cap`` keys."""
    from probably_jl_spark.operators.build import batch_arrays

    out, states, flush = {}, {}, 0

    def emit():
        for key, (n, sks) in states.items():
            out[((-1 << 20) | flush, key)] = (n, [sks[s.name].to_bytes() for s in specs])

    for pdf in batches:
        arrays = batch_arrays(pdf, specs, col_map)
        rows: dict = {}
        for i, key in enumerate(zip(*[pdf[c] for c in group_cols])):
            rows.setdefault(tuple(None if pd.isna(x) else x for x in key), []).append(i)
        for key, idx in rows.items():
            ent = states.setdefault(key, [0, {s.name: s.new() for s in specs}])
            ent[0] += len(idx)
            for s in specs:
                s.update(ent[1][s.name], *(None if a is None else a[idx] for a in arrays[s.name]))
        if len(states) > cap:
            emit()
            flush, states = flush + 1, {}
    emit()
    return out


@pytest.mark.parametrize("group_cols", [["f"], ["s"], ["f", "s"], ["i"]])
@pytest.mark.parametrize("cap", [1 << 16, 3])
def test_generic_stage1_matches_per_key_reference(group_cols, cap):
    """The generic route's stage 1 (the shared coder over one sketch per
    key, one update per key per consolidation) emits, per (ord, key), the
    row count and state bytes of a per-batch {key -> sketch} loop, for
    every sketch kind, NaN and null keys, one and two key columns, ~2k
    keys whose rows span batches (``i``), and a cap that flushes
    mid-partition. Row order inside a flush may differ; stage 2 orders
    by ord."""
    batches = _wide_batches() if group_cols == ["i"] else _raw_batches()
    want = _reference_stage1(_ALL_KINDS, group_cols, _ALL_COLS, cap, batches)
    got = {}
    stage1 = _row_builder(_ALL_KINDS, group_cols, _ALL_COLS, cap, _SketchKernel())
    for out in stage1(iter(_arrow(batches))):
        for _, r in out.to_pandas().iterrows():
            key = tuple(None if pd.isna(r[c]) else r[c] for c in group_cols)
            assert (r[_ORD_COL], key) not in got
            got[(r[_ORD_COL], key)] = (r["n_rows"], [r[s.state_col] for s in _ALL_KINDS])
    assert got.keys() == want.keys()
    for k, (n, blobs) in want.items():
        assert got[k][0] == n, k
        for s, a, b in zip(_ALL_KINDS, got[k][1], blobs):
            assert a == b, (k, s.name)
    if cap == 3:
        assert len({o for o, _ in want}) > 1  # the cap did flush
    assert any(None in k for _, k in want)


class _HugeStateKernel:
    """Kernel stub whose single group claims a 2^31 + 8 byte state."""

    @staticmethod
    def init_acc():
        return None

    def row_payloads(self, spec, arrays):
        return arrays[0]

    def absorb_payloads(self, acc, spec, g, pays):
        return acc

    def emit_buf(self, acc, spec, n):
        return np.zeros(16, dtype=np.uint8), np.array([0, (1 << 31) + 8], dtype=np.int64)


def test_arrow_emit_refuses_state_past_int32_offsets():
    specs = [SketchSpec("u", "hll", key_cols=("user_id",))]
    col_map = {"u": {"h": "__h0"}}
    rb = pa.RecordBatch.from_arrays(
        [pa.array(["a", "a"]), pa.array([1, 2], type=pa.int64())],
        names=["g", "__h0"],
    )
    fn = _row_builder(specs, ["g"], col_map, None, _HugeStateKernel(), with_ord=False)
    with pytest.raises(ValueError, match=r"grouped_sketch: state column 'state_u'"):
        list(fn(iter([rb])))


def _state_bytes(rb: pa.RecordBatch) -> int:
    """Bytes of a batch's state (binary) columns."""
    return sum(len(b) for c in rb.columns if pa.types.is_binary(c.type) for b in c.to_pylist())


@pytest.mark.parametrize("stage", ["rollup_stage1", "generic_stage1"])
def test_emit_chunks_every_flush_under_byte_bound(monkeypatch, stage):
    """With ``_EMIT_BYTES`` at a few KB, a flush holding many times that
    comes out as several RecordBatches, each with fewer state bytes than
    the bound, which concatenated equal the unchunked output row for
    row: rollup's stage 1 over state rows and the generic stage 1 over
    raw rows."""
    if stage == "rollup_stage1":
        builder = _rollup_builder(["k"], ["u", "m", "c"], 1 << 16, True)
        batches = _state_batches()
    else:
        builder = _row_builder(_ALL_KINDS, ["f", "s"], _ALL_COLS, 1 << 16, _SketchKernel())
        batches = _arrow(_raw_batches())

    whole = list(builder(iter(batches)))
    assert len(whole) == 1
    bound = 4096
    assert _state_bytes(whole[0]) > 4 * bound
    monkeypatch.setattr(grouped, "_EMIT_BYTES", bound)
    chunks = list(builder(iter(batches)))
    assert len(chunks) > 1
    assert all(_state_bytes(rb) < bound for rb in chunks)
    assert pa.Table.from_batches(chunks).equals(pa.Table.from_batches(whole))
