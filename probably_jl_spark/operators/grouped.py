"""Grouped sketches built as streaming partition-local partials
(north_rule skew handling).

Per-group sketches (e.g. distinct conv_ids per tool, turn-length digest
per role) never materialize a group's rows. Every sketch is mergeable, so
each route does two jobs only: assign group codes, then fold states.

One Arrow builder loop (``_arrow_builder``) runs every grouped and
rollup stage, over raw rows or over state rows: it codes each batch's
group columns, folds the batch into one accumulator per output column,
flushes on a live-key cap and emits zero-copy RecordBatches.

* Generic route (any spec mix): a ``mapInArrow`` stage 1 keeps one
  sketch per key per input partition (``_SketchKernel``: one
  ``spec.update`` per key per coder consolidation, on the key's rows in
  batch and row order) and emits one small *state* row per (partition,
  key); only those states shuffle, and a per-key ``applyInPandas``
  merges them in ascending partition order.
* Vectorized routes (all-HLL or all-KMV spec lists): no per-group Python;
  the kind's kernel folds (code, payload) arrays. The direct route
  shuffles raw (key, hash) rows once and emits final states from one
  ``mapInArrow`` stage. The partial route builds map-side partials,
  hash-repartitions them and merges them with rollup's state fold
  (``operators/rollup.py::_rollup_builder``); both of its stages run the
  Arrow loop inside ``mapInPandas`` through the ``_in_pandas`` adapter,
  kept only while perfbench tells the routes apart by plan node kind
  (ROADMAP D6).

One key rule holds on every route. Each grouped and rollup projection
passes its group columns through ``_group_key``, which turns a float
key's -0.0 into 0.0 and its NaN into null, so {0.0, -0.0} form one group
and {NaN, null} one group, emitted as null; a nested key raises at plan
time. ``_pa_encode`` dictionary-encodes each key column, a null key
coded at first sight.

One deferred key coder (``_KeyCoder``) assigns first-seen group codes. It
stashes each batch's own encoded uniques and codes, and consolidates them
with ONE encode over known keys + stashed uniques when the pending bytes
(codes, payloads, state blobs) pass ``_FOLD_BYTES``, or when live plus
pending keys could pass the builder's flush cap — so flush points match a
per-batch live-key count exactly.

Skew/fan-in controls:

* ``max_states_per_partition`` bounds stage-1 memory on high-cardinality
  keys (per-user sketches): when the live keys exceed the cap, partials
  are flushed mid-partition and rebuilt — merges make that lossless.
* ``salt_buckets=S > 1`` bounds the generic route's per-key fan-in on
  huge clusters: states first merge on ``(key, partition_id mod S)``, then
  the S survivors merge per key — two state shuffles, never row shuffles.

Merges apply in ascending partition-id order, so grouped states are
deterministic across identical runs even for merge-order-sensitive kinds
(t-digest/KLL) — the checkpoint resume law (plans/checkpoint.py) depends
on this.
"""

from __future__ import annotations

import numpy as np
import pandas as pd
import pyarrow as pa
from pyspark.sql import DataFrame
from pyspark.sql import functions as F
from pyspark.sql.types import ArrayType, BinaryType, DoubleType, FloatType, LongType, MapType
from pyspark.sql.types import StructField, StructType

from ..sketches import codec
from .build import batch_arrays, plan_exprs, sql_ident
from .specs import SketchSpec, merge_blobs

_SALT_COL = "__salt"
_ORD_COL = "__ord"  # min partition id feeding a state row: merge sort key
_NROWS_COL = "n_rows"


def _named(fn, name: str):
    """``fn`` named for its role (``grouped_stage1``, ``generic_merge``,
    ...): Spark prints a Python UDF's name in its plan node and UI."""
    fn.__name__ = name
    return fn


def _grouped_schema(
    df: DataFrame, group_cols: list[str], specs: list[SketchSpec], with_ord: bool = False
) -> StructType:
    fields = [df.schema[c] for c in group_cols]
    fields = [StructField(f.name, f.dataType) for f in fields]
    if with_ord:
        fields.append(StructField(_ORD_COL, LongType()))
    fields.append(StructField(_NROWS_COL, LongType()))
    fields += [StructField(s.state_col, BinaryType()) for s in specs]
    return StructType(fields)


def _absorb_max(acc: np.ndarray, packed: np.ndarray) -> np.ndarray:
    """Merge a sorted unique-by-key packed batch into the sorted
    accumulator, register-max on key collisions — the searchsorted O(n)
    merge (same shape as sketches/mg.py _absorb, max instead of add)."""
    if acc.size == 0:
        return packed
    ak = acc >> np.int64(6)
    bk = packed >> np.int64(6)
    pos = np.searchsorted(ak, bk)
    safe = np.minimum(pos, ak.size - 1)
    match = ak[safe] == bk
    hit = pos[match]
    if hit.size:
        # equal key => comparing packed values compares rho directly
        # (setitem form: acc[hit] fancy-indexes a COPY, so out= would be lost)
        acc[hit] = np.maximum(acc[hit], packed[match])
    new = ~match
    if new.any():
        acc = np.insert(acc, pos[new], packed[new])
    return acc


_MASK24 = np.int64((1 << 24) - 1)


class _HllKernel:
    """Per-kind hooks for the vectorized grouped and rollup builders. The
    HLL accumulator is one sorted int64 array of ``(group_code << 24) |
    (register_idx << 6) | rho`` (idx needs <= 18 bits at p <= 18, rho <=
    61 needs 6), merged with register-max dedup — 8 B per nonzero (group,
    register), so with sparse HLL states (sketches/hll.py) both
    accumulator and shuffled partials stay proportional to what the
    groups saw."""

    def __init__(self, specs: list[SketchSpec]):
        self.ps = {s.name: s.new().p for s in specs}

    @staticmethod
    def init_acc():
        return np.empty(0, dtype=np.int64)

    def row_payloads(self, spec, arrays: tuple) -> np.ndarray:
        """Group-independent per-row payload (register_idx << 6 | rho)
        of a batch's ``(h, v, c)`` arrays: computed per batch, combined
        with the deferred group codes at consolidation."""
        from ..sketches.hashing import trailing_zeros64

        p, h = self.ps[spec.name], arrays[0]
        guard = np.uint64(1 << (64 - p))
        rho = trailing_zeros64(h | guard).astype(np.int64) + np.int64(1)
        idx = (h >> np.uint64(64 - p)).astype(np.int64)
        return (idx << np.int64(6)) | rho

    def absorb_payloads(self, acc, spec, g: np.ndarray, pays: list):
        from ..sketches.hll import _dedup_max_rho

        packed = (g << np.int64(24)) | np.concatenate(pays)
        packed.sort()
        return _absorb_max(acc, _dedup_max_rho(packed))

    def absorb_states(self, acc, spec, g: np.ndarray, blobs):
        from ..sketches.hll import _dedup_max_rho, packed_entries_many_from_bytes

        counts, ent = packed_entries_many_from_bytes(blobs)
        if not ent.size:
            return acc
        packed = (np.repeat(g, counts) << np.int64(24)) | ent.astype(np.int64)
        packed.sort()
        return _absorb_max(acc, _dedup_max_rho(packed))

    def emit_buf(self, acc, spec, n: int):
        from ..sketches.hll import packed_entries_many_to_buf

        bounds = np.searchsorted(acc >> np.int64(24), np.arange(n + 1))
        return packed_entries_many_to_buf(
            self.ps[spec.name], (acc & _MASK24).astype(np.uint32), bounds
        )


class _KmvKernel:
    """KMV hooks for the vectorized grouped and rollup builders: the
    accumulator is a (group_code int64, hash uint64) array pair in
    (group, hash) order, capped at the k smallest distinct hashes per
    group each fold (`_kmv_combine`) — unlike HLL's 24-bit payload the
    64-bit hash cannot share an int64 with the group code, so this kind
    lexsorts the pair instead of sorting one packed array."""

    def __init__(self, specs: list[SketchSpec]):
        self.ks = {s.name: s.new().k for s in specs}

    @staticmethod
    def init_acc():
        return (np.empty(0, dtype=np.int64), np.empty(0, dtype=np.uint64))

    def row_payloads(self, spec, arrays: tuple) -> np.ndarray:
        return arrays[0]

    def absorb_payloads(self, acc, spec, g: np.ndarray, pays: list):
        return _kmv_combine(acc[0], acc[1], g, np.concatenate(pays), self.ks[spec.name])

    def absorb_states(self, acc, spec, g: np.ndarray, blobs):
        from ..sketches.kmv import mins_many_from_bytes

        counts, hh = mins_many_from_bytes(blobs)
        if not hh.size:
            return acc
        gg = np.repeat(g, counts)
        return _kmv_combine(acc[0], acc[1], gg, hh, self.ks[spec.name])

    def emit_buf(self, acc, spec, n: int):
        from ..sketches.kmv import mins_many_to_buf

        g_acc, h_acc = acc
        bounds = np.searchsorted(g_acc, np.arange(n + 1))
        return mins_many_to_buf(self.ks[spec.name], h_acc, bounds)


def _kmv_combine(
    g_acc: np.ndarray, h_acc: np.ndarray, g: np.ndarray, h: np.ndarray, k: int
) -> tuple[np.ndarray, np.ndarray]:
    """Fold (group, hash) pairs into the per-group k-min accumulator:
    lexsort by (group, hash), drop duplicate pairs, keep the k smallest
    hashes per group. Pure set function of the pairs seen — KMV's
    byte-exact commutative merge — so any batch slicing or merge order
    yields identical accumulators."""
    gg = np.concatenate([g_acc, g])
    hh = np.concatenate([h_acc, h])
    if gg.size == 0:
        return gg, hh
    order = np.lexsort((hh, gg))
    gg, hh = gg[order], hh[order]
    keep = np.empty(gg.size, dtype=bool)
    keep[0] = True
    keep[1:] = (gg[1:] != gg[:-1]) | (hh[1:] != hh[:-1])
    gg, hh = gg[keep], hh[keep]
    # rank within group = position minus the group's first position
    rank = np.arange(gg.size) - np.searchsorted(gg, gg)
    sel = rank < k
    return gg[sel], hh[sel]


class _SketchKernel:
    """Hooks of the generic route, for any spec kind: the accumulator is
    one sketch per group code and a row's payload is its ``(h, v, c)``
    arrays. A consolidation's payloads are concatenated in batch order,
    one stable sort of the codes groups them, and each group gets ONE
    ``spec.update`` on its rows in row order. Every kind's state depends
    on its update sequence alone, not on how it is sliced into calls
    (kll.py's ``_B`` note), so this equals one update per (batch, key)
    byte for byte (test_generic_stage1_matches_per_key_reference)."""

    @staticmethod
    def init_acc():
        return []

    @staticmethod
    def row_payloads(spec, arrays: tuple) -> tuple:
        return arrays

    @staticmethod
    def absorb_payloads(acc, spec, g: np.ndarray, pays: list):
        arrays = [None if a[0] is None else np.concatenate(a) for a in zip(*pays)]
        top = int(g.max())
        acc += [spec.new() for _ in range(top + 1 - len(acc))]
        # numpy's stable sort is a radix sort on ints of <= 16 bits
        order = np.argsort(g.astype(np.min_scalar_type(top)), kind="stable")
        for idx in np.split(order, np.flatnonzero(np.diff(g[order])) + 1):
            spec.update(acc[g[idx[0]]], *(None if a is None else a[idx] for a in arrays))
        return acc

    @staticmethod
    def emit_buf(acc, spec, n: int):
        return codec.blob_buffers([sk.to_bytes() for sk in acc[:n]])


_VEC_KERNELS = {"hll": _HllKernel, "kmv": _KmvKernel}

# pending bytes (codes, row counts, payloads, state blobs) per deferred
# consolidation; ~4M raw rows of one spec at 16 B/row
_FOLD_BYTES = 1 << 26


def _pa_encode(parts: list):
    """(codes, uniques) of the concatenated struct arrays of the key
    columns, first-seen order. Each column is dictionary-encoded, a null
    key coded at first sight; the per-column codes fold pairwise as
    ``codes * card + codes_j``, re-encoded after each step, so codes stay
    below the row count and the product below n² fits int64. The uniques
    are the first-occurrence rows."""
    keys = pa.concat_arrays(parts) if len(parts) > 1 else parts[0]
    codes = None
    for col in keys.flatten():
        enc = col.dictionary_encode(null_encoding="encode")
        c = enc.indices.to_numpy().astype(np.int64)
        if codes is not None:
            enc = pa.array(codes * len(enc.dictionary) + c).dictionary_encode()
            c = enc.indices.to_numpy().astype(np.int64)
        codes = c
    # codes are first-seen ordered: a row is a first occurrence exactly
    # where the running max code grows
    first = np.flatnonzero(np.diff(np.maximum.accumulate(codes), prepend=-1))
    return codes, keys.take(first)


class _KeyCoder:
    """Deferred group coder of the builder loop (`_arrow_builder`).
    ``add`` stashes one batch (its own uniques, its codes into
    them, its row counts and payloads); ``consolidate`` maps every stashed
    batch through ONE ``encode`` of known keys + stashed uniques — known
    keys lead, so first-seen codes never change — and returns the global
    code per pending row plus the payloads in batch order. Re-coding each
    batch against the live keys instead costs O(live keys) per batch,
    quadratic in a high-cardinality partition.

    ``add`` asks for a consolidation when the pending bytes pass
    ``_FOLD_BYTES`` or when live keys plus pending uniques could pass
    ``cap``: consolidating then lets the builder flush on exactly the
    batches a per-batch live-key count would."""

    def __init__(self, encode, cap: int | None = None):
        self.encode, self.cap = encode, cap
        self.reset()

    def reset(self) -> None:
        self.keys = None  # known uniques in code order
        self.n_rows = np.zeros(0, dtype=np.int64)
        self._pend: list = []
        self._n_uniq = self._n_bytes = 0

    def __len__(self) -> int:
        return 0 if self.keys is None else len(self.keys)

    def add(self, uniques, codes: np.ndarray, rows, payload, nbytes: int) -> bool:
        """Stash a batch; ``rows`` holds per-row counts, None for one each."""
        self._pend.append((uniques, codes, rows, payload))
        self._n_uniq += len(uniques)
        self._n_bytes += codes.nbytes + nbytes + (0 if rows is None else rows.nbytes)
        return self._n_bytes >= _FOLD_BYTES or (
            self.cap is not None and len(self) + self._n_uniq > self.cap
        )

    def consolidate(self) -> tuple[np.ndarray, list]:
        pend, self._pend, self._n_uniq, self._n_bytes = self._pend, [], 0, 0
        if not pend:
            return np.empty(0, dtype=np.int64), []
        parts = ([] if self.keys is None else [self.keys]) + [p[0] for p in pend]
        codes, self.keys = self.encode(parts)
        offs = np.cumsum([0] + [len(u) for u in parts])
        base = len(parts) - len(pend)
        g = np.concatenate(
            [codes[offs[base + i] : offs[base + i + 1]][p[1]] for i, p in enumerate(pend)]
        )
        if len(self) > self.n_rows.size:
            self.n_rows = np.concatenate(
                [self.n_rows, np.zeros(len(self) - self.n_rows.size, dtype=np.int64)]
            )
        if pend[0][2] is None:
            self.n_rows += np.bincount(g, minlength=self.n_rows.size)
        else:
            # np.add.at keeps the row counts exact int64 (bincount
            # weights would round past 2^53 — a stated design case for
            # hot keys)
            np.add.at(self.n_rows, g, np.concatenate([p[2] for p in pend]))
        return g, [p[3] for p in pend]


class _KernelCol:
    """Raw-row accumulator of one spec: its kind kernel's fold."""

    def __init__(self, kernel, spec: SketchSpec):
        self.kernel, self.spec = kernel, spec
        self.reset()

    def reset(self) -> None:
        self.acc = self.kernel.init_acc()

    def absorb(self, g: np.ndarray, payloads: list) -> None:
        self.acc = self.kernel.absorb_payloads(self.acc, self.spec, g, payloads)

    def emit_buf(self, n: int):
        return self.kernel.emit_buf(self.acc, self.spec, n)


def _row_payloads(batch, specs: list[SketchSpec], col_map: dict, kernel) -> tuple[dict, int]:
    """({state col: payload}, payload bytes) of an Arrow batch of raw
    rows: each spec's ``(h, v, c)`` arrays from `batch_arrays`, through
    the kernel's ``row_payloads``. The bytes are those of the arrays, a
    column shared by specs counted once per spec; every kernel's payload
    is that size."""
    arrays = batch_arrays(batch, specs, col_map)
    pay = {s.state_col: kernel.row_payloads(s, arrays[s.name]) for s in specs}
    return pay, sum(a.nbytes for t in arrays.values() for a in t if a is not None)


def _fold(coder: _KeyCoder, cols: dict) -> None:
    g, pays = coder.consolidate()
    if g.size:
        for c, acc in cols.items():
            acc.absorb(g, [p[c] for p in pays])


# state bytes of one emitted RecordBatch, over all its state columns: the
# JVM reads each batch whole into direct memory, which concurrent tasks
# share, and a pa.BinaryArray's offsets are int32
_EMIT_BYTES = 1 << 26
_INT32_MAX = (1 << 31) - 1


def _emit(op: str, group_cols: list[str], coder: _KeyCoder, cols: dict, ord_tag: int | None):
    """RecordBatches of the coder's keys, ``ord_tag`` (if any), row counts
    and each column's ``emit_buf`` states, chunked so no batch holds
    ``_EMIT_BYTES`` of states or more (one state past that goes alone).
    Zero-copy: the group columns ARE the coder's uniques and each state
    column wraps its (buf, offs) pair into a BinaryArray."""
    n = len(coder)
    keys, nr = coder.keys.flatten(), coder.n_rows[:n]
    bufs = {c: acc.emit_buf(n) for c, acc in cols.items()}
    total = np.zeros(n + 1, dtype=np.int64)  # state bytes of rows [0, i)
    for _, offs in bufs.values():
        total += offs
    names = [*group_cols, *([] if ord_tag is None else [_ORD_COL]), _NROWS_COL, *bufs]
    start = 0
    while start < n:
        stop = max(int(np.searchsorted(total, total[start] + _EMIT_BYTES)) - 1, start + 1)
        arrays = [k.slice(start, stop - start) for k in keys]
        if ord_tag is not None:
            arrays.append(pa.array(np.full(stop - start, ord_tag, dtype=np.int64)))
        arrays.append(pa.array(nr[start:stop], type=pa.int64()))
        for c, (buf, offs) in bufs.items():
            if offs[stop] - offs[start] > _INT32_MAX:
                raise ValueError(
                    f"{op}: state column {c!r} holds a "
                    f"{int(offs[stop] - offs[start])}-byte group state, past the "
                    "2^31-byte offsets of an Arrow binary column"
                )
            rel = (offs[start : stop + 1] - offs[start]).astype(np.int32)
            chunk = np.ascontiguousarray(buf[offs[start] : offs[stop]])
            arrays.append(
                pa.Array.from_buffers(
                    pa.binary(), stop - start, [None, pa.py_buffer(rel), pa.py_buffer(chunk)]
                )
            )
        yield pa.RecordBatch.from_arrays(arrays, names=names)
        start = stop


def _arrow_builder(
    op: str, group_cols: list[str], cap: int | None, with_ord: bool, new_cols, stash
):
    """``mapInArrow`` body of every grouped and rollup stage: raw rows
    (the direct route and stage 1 of the partial and generic routes,
    `_row_builder`, whose accumulators are all `_KernelCol`) and state
    rows (both rollup stages, which include the partial route's merge).
    The group columns of each batch code through `_pa_encode` and one
    `_KeyCoder`. ``stash(rb)`` -> (per-row counts or None, {out col:
    payload}, payload bytes); ``new_cols()`` -> {out col: accumulator
    with ``absorb(g, payloads)`` (a consolidation's payloads in batch
    order), ``emit_buf(n)`` -> (uint8 buf, int64 offs) and ``reset()``}.
    Flushes when the live keys pass ``cap`` (None: never, so every key's
    state is final); ``with_ord`` tags the output with the merge order key
    ``pid << 20 | flush``, so mid-partition flushes keep a total
    deterministic merge order even for one (key, pid). ``op`` names the
    operator in errors."""

    def fn(batches):
        from pyspark import TaskContext

        ctx = TaskContext.get()
        pid = ctx.partitionId() if ctx is not None else -1
        flush = 0
        coder = _KeyCoder(_pa_encode, cap)
        cols = new_cols()

        def emit():
            return _emit(op, group_cols, coder, cols, (pid << 20) | flush if with_ord else None)

        for rb in batches:
            if rb.num_rows == 0:
                continue
            keys = pa.StructArray.from_arrays([rb.column(c) for c in group_cols], group_cols)
            codes, uniques = _pa_encode([keys])
            if not coder.add(uniques, codes, *stash(rb)):
                continue
            _fold(coder, cols)
            if cap is not None and len(coder) > cap:
                yield from emit()
                flush += 1
                coder.reset()
                for acc in cols.values():
                    acc.reset()
        _fold(coder, cols)
        if len(coder):
            yield from emit()

    return fn


def _row_builder(
    specs: list[SketchSpec],
    group_cols: list[str],
    col_map: dict,
    cap: int | None,
    kernel,
    with_ord: bool = True,
):
    """The Arrow loop over raw rows, each column a `_KernelCol` over
    ``kernel`` (`_HllKernel` or `_KmvKernel` on the direct and partial
    routes, `_SketchKernel` on the generic one). Stage 1 of the partial
    and generic routes: flush-capped partials tagged with their merge
    order. The direct route (``cap=None, with_ord=False``): rows arrive
    hash-partitioned on the group columns, so its states are final. Every
    kernel flushes on the same batches, and the HLL/KMV kernels emit the
    generic route's bytes (test_grouped_hll_fast_path_byte_identical and
    its KMV twin; test_grouped_direct_route_byte_identical)."""

    def stash(rb):
        return (None, *_row_payloads(rb, specs, col_map, kernel))

    def new_cols():
        return {s.state_col: _KernelCol(kernel, s) for s in specs}

    return _arrow_builder("grouped_sketch", group_cols, cap, with_ord, new_cols, stash)


def _in_pandas(fn, schema: StructType):
    """``mapInPandas`` body running the Arrow builder ``fn``: each pandas
    batch converts to Arrow under ``schema`` (the input's Spark schema),
    so a key column's type does not drift with a batch's nulls, and each
    output batch converts back to pandas. Only the partial route uses it:
    perfbench's route check tells that route by its MapInPandas nodes,
    and ROADMAP D6 deletes route and adapter together."""
    from pyspark.sql.pandas.types import to_arrow_schema

    arrow = pa.schema(
        # mapInPandas hands timestamps over as naive datetime64[ns]
        pa.field(f.name, pa.timestamp("ns") if pa.types.is_timestamp(f.type) else f.type)
        for f in to_arrow_schema(schema)
    )

    def run(pdfs):
        rbs = (pa.RecordBatch.from_pandas(p, schema=arrow, preserve_index=False) for p in pdfs)
        for rb in fn(rbs):
            yield rb.to_pandas()

    return run


def _preagg_dedup_ratio(df: DataFrame, group_cols: list[str], sample_rows: int) -> float:
    """Distinct-group fraction of a bounded row sample — the decision
    input for the vectorized route: map-side partials shrink the state
    exchange by roughly this factor's inverse, so a ratio near 1 means
    pre-aggregation only adds work. ``coalesce(1)`` before ``limit``
    makes it one task with no exchange: it reads partitions in order and
    stops after ``sample_rows`` rows (no full scan), so the sample keeps
    the within-partition locality the partial builder would see."""
    row = (
        df.select(*group_cols)
        .coalesce(1)
        .limit(sample_rows)
        .agg(
            F.count(F.lit(1)).alias("n"),
            F.count_distinct(*[F.col(c) for c in group_cols]).alias("d"),
        )
        .collect()[0]
    )
    return row["d"] / max(row["n"], 1)


def _merge_groups(specs: list[SketchSpec], group_cols: list[str], with_ord: bool):
    """applyInPandas fn over state rows: deterministic (partition-ordered)
    per-key merge. Emits `_ORD_COL` = min input ord when feeding another
    merge level."""

    def fn(keys: tuple, pdf: pd.DataFrame) -> pd.DataFrame:
        pdf = pdf.sort_values(_ORD_COL, kind="stable")
        row = {c: k for c, k in zip(group_cols, keys)}
        if with_ord:
            row[_ORD_COL] = int(pdf[_ORD_COL].min())
        row[_NROWS_COL] = int(pdf[_NROWS_COL].sum())
        for s in specs:
            acc = None
            for blob in pdf[s.state_col]:
                acc = merge_blobs(acc, blob)
            row[s.state_col] = acc
        return pd.DataFrame([row])

    return fn


def _auto_salt_buckets(n_partitions: int, target_fan_in: int = 256) -> int:
    """Default merge fan-in bound (VERDICT r02 #4): with S salt buckets a
    key's final merge reads S rows and each level-1 merge reads
    ~n_partitions/S — S = nparts/256 caps both near `target_fan_in`, so a
    100k-partition scan never funnels 100k state rows of one key into a
    single applyInPandas group. <= target partitions need no extra level."""
    return max(1, n_partitions // target_fan_in)


def _pre_merge_states(
    df: DataFrame,
    group_cols: list[str],
    specs: list[SketchSpec],
    salt_buckets: int | None,
    max_states_per_partition: int,
) -> DataFrame:
    """The generic route's stage 1 (`_row_builder` over `_SketchKernel`,
    one sketch per key) plus the optional salted level-1 merge: the state
    rows feeding the final per-key merge. Exposed for fan-in tests and as
    the per-key reference of the HLL/KMV fast-path tests."""
    exprs, col_map = plan_exprs(specs)
    prepared = df.selectExpr(*[_group_key(df, c, "grouped_sketch") for c in group_cols], *exprs)
    if salt_buckets is None:
        try:
            # plan -> RDD conversion is metadata-only for batch plans
            # (verified safe on foreachBatch callback threads too); the
            # fallback covers plans that cannot convert (e.g. an
            # un-materialized streaming source)
            salt_buckets = _auto_salt_buckets(prepared.rdd.getNumPartitions())
        except Exception:
            salt_buckets = 1

    stage1 = _row_builder(specs, group_cols, col_map, max_states_per_partition, _SketchKernel())
    partials = prepared.mapInArrow(
        _named(stage1, "generic_stage1"),
        schema=_grouped_schema(df, group_cols, specs, with_ord=True),
    )
    if salt_buckets > 1:
        level1 = partials.withColumn(
            _SALT_COL, F.pmod(F.shiftright(F.col(_ORD_COL), 20), F.lit(salt_buckets))
        )
        mid_cols = group_cols + [_SALT_COL]
        mid_schema = _grouped_schema(level1, mid_cols, specs, with_ord=True)
        partials = (
            level1.groupBy(*mid_cols)
            .applyInPandas(
                _named(_merge_groups(specs, mid_cols, with_ord=True), "generic_salt_merge"),
                schema=mid_schema,
            )
            .drop(_SALT_COL)
        )
    return partials


def _group_key(df: DataFrame, c: str, op: str) -> str:
    """Group column ``c`` as a SQL expression for ``selectExpr``, keeping
    its type: the one key rule of every grouped and rollup projection.
    Arrow's ``dictionary_encode`` hashes floats bitwise, so a float key's
    -0.0 becomes 0.0 and its NaN becomes null: {0.0, -0.0} form one group
    and {NaN, null} one group, emitted as null. Nested types have no Arrow
    dictionary kernel and raise here, naming ``op`` and the column."""
    t = df.schema[c].dataType
    if isinstance(t, (ArrayType, MapType, StructType)):
        raise ValueError(
            f"{op}: group column {c!r} has nested type {t.simpleString()}, "
            "which cannot be a group key"
        )
    col = sql_ident(c)
    if isinstance(t, (DoubleType, FloatType)):
        zero = f"CAST(0 AS {t.simpleString()})"
        alias = "`" + c.replace("`", "``") + "`"
        return f"CASE WHEN {col} = 0 THEN {zero} WHEN NOT isnan({col}) THEN {col} END AS {alias}"
    return col


def grouped_sketch(
    df: DataFrame,
    group_cols: list[str],
    specs: list[SketchSpec],
    salt_buckets: int | None = None,
    max_states_per_partition: int = 1 << 16,
    pre_partial: bool | None = None,
) -> DataFrame:
    """Per-group sketch states: returns one row per group with
    ``group_cols + [n_rows] + state_<name> binary`` columns.

    Rows never shuffle on the generic route: partition-local partial
    states are built in one streaming pass over the shared key coder,
    one sketch per key, then only states move.
    ``salt_buckets=S`` adds a pre-merge level on (key, partition mod S)
    to bound per-key fan-in on very wide scans; the default (None)
    derives S from the scan's partition count so fan-in stays ~256 at any
    width.

    All-HLL and all-KMV spec lists take a vectorized route instead (see
    the module doc): no per-key ``applyInPandas`` and no salt level (the
    streaming state merge has no per-key fan-in limit, so
    ``salt_buckets`` is moot there). ``pre_partial`` picks its stage-1
    shape (guide §2.3 "aggregate before you shuffle" — which cuts BOTH
    ways):

    * ``True``: map-side partial states, hash-repartitioned and merged
      by rollup's streaming state fold — right when each scan partition
      repeats its group keys, so partials shrink the exchange
      (low-cardinality keys, clustered layouts).
    * ``False``: shuffle the raw (group, hash) projection once and build
      FINAL states in a single post-shuffle ``mapInArrow`` pass. At group cardinality
      near the row count (rows scattered by a round-robin write) the
      partial route wraps, exchanges, and re-parses ~one state blob per
      INPUT row — measured 69s vs 31s on the 20M-conv bench shape.
    * ``None`` (default): decide from a bounded distinct-ratio sample of
      the scan (``_preagg_dedup_ratio``; > 0.5 distinct per sampled row
      =>> direct). One single-task ``limit`` job with no exchange; never a
      full scan.

    Both shapes emit byte-identical states — HLL/KMV states are pure set
    functions of the hashes seen (gated by
    test_grouped_direct_route_byte_identical).

    Group columns may be of any non-nested type and follow one rule on
    every route (``_group_key``): -0.0 and 0.0 are one key, NaN and null
    one null key; a nested group column raises here."""
    kinds = {s.kind for s in specs}
    if len(kinds) == 1 and next(iter(kinds)) in _VEC_KERNELS:
        from .rollup import _rollup_builder

        kernel = _VEC_KERNELS[next(iter(kinds))](specs)
        exprs, col_map = plan_exprs(specs)
        prepared = df.selectExpr(*[_group_key(df, c, "grouped_sketch") for c in group_cols], *exprs)
        if pre_partial is None:
            pre_partial = _preagg_dedup_ratio(df, group_cols, 200_000) <= 0.5
        out_schema = _grouped_schema(df, group_cols, specs, with_ord=False)
        if not pre_partial:
            direct = _row_builder(specs, group_cols, col_map, None, kernel, with_ord=False)
            return prepared.repartition(*group_cols).mapInArrow(
                _named(direct, "grouped_direct"), schema=out_schema
            )
        stage1 = _row_builder(specs, group_cols, col_map, max_states_per_partition, kernel)
        partials = prepared.mapInPandas(
            _named(_in_pandas(stage1, prepared.schema), "grouped_stage1"),
            schema=_grouped_schema(df, group_cols, specs, with_ord=True),
        )
        # HLL/KMV merges are order-insensitive: no sort before the fold
        merge = _rollup_builder(group_cols, [s.state_col for s in specs], None, with_ord=False)
        shuffled = partials.repartition(*group_cols).drop(_ORD_COL)
        return shuffled.mapInPandas(
            _named(_in_pandas(merge, out_schema), "grouped_merge"), schema=out_schema
        )
    partials = _pre_merge_states(df, group_cols, specs, salt_buckets, max_states_per_partition)
    out_schema = StructType([f for f in partials.schema.fields if f.name != _ORD_COL])
    return partials.groupBy(*group_cols).applyInPandas(
        _named(_merge_groups(specs, group_cols, with_ord=False), "generic_merge"),
        schema=out_schema,
    )
