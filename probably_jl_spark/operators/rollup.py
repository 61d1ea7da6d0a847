"""Sketch-state rollup: re-merge grouped sketch STATE rows to a coarser
key without touching raw data — the sublinear reaggregation that is the
point of mergeable sketches at 100 TB (Agarwal et al., "Mergeable
Summaries", PODS 2012). Build per-(tool, hour) states once, then answer
per-(tool, day), per-tool, and global questions by merging KB-sized
states instead of rescanning 10^12 turns.

``rollup_states`` has the same no-hot-key two-stage shape as the grouped
build (operators/grouped.py): stage 1 folds each input partition's state
rows into one partial per coarse key (byte-bounded memory), so a coarse
key covering the whole table costs one partial per partition — never a
single-task row pile-up; stage 2 hash-repartitions only those folded
partials on the coarse key and merges each partition in ONE streaming
pass, rows pre-sorted by (key, origin order) so merge-order-sensitive
kinds (t-digest, KLL, cuckoo) apply partials in ascending partition order
— the same determinism law as the grouped build, with no per-key pandas
group materialization at any fan-in.

Both stages are ``mapInArrow`` runs of the grouped build's one Arrow
builder loop (``operators/grouped.py::_arrow_builder``: the shared
deferred key coder over ``_pa_encode``, byte-budgeted consolidation,
zero-copy emit under ``_EMIT_BYTES``, stage 1 flushed under the
``_STATE_BYTES`` budget) over ``_ColAcc`` columns — the
only vectorized state merge in the library; the grouped partial route
runs stage 2 as its merge, unsorted, because its HLL/KMV merges do not
depend on order. The stage-1 projection passes the group columns through
``_group_key``, the grouped build's key rule: -0.0 and 0.0 are one key,
NaN and null one null key, and a nested key raises at plan time. State
columns are read as the Arrow binary columns they arrive as. Column
routing is detected executor-side from the blobs' own kind bytes: HLL
and KMV columns fold through the grouped kernels
(`_HllKernel`/`_KmvKernel`: joined-buffer many-blob decode -> packed
accumulator -> flat-buffer emit, no per-state-row Python), every other
kind folds through the generic ``merge_blobs`` dispatch and emits
through ``codec.blob_buffers``. Because HLL and KMV states are canonical pure set functions,
rolling up fine-grained states is BYTE-identical to building the coarse
states directly from the raw rows (gated by test + the rollup_day_to_type
oracle query); order-sensitive kinds stay inside their published bounds.
"""

from __future__ import annotations

import numpy as np
import pyarrow as pa
from pyspark.sql import DataFrame
from pyspark.sql import functions as F
from pyspark.sql.types import BinaryType, LongType, StructField, StructType

from ..sketches import codec
from .build import _column, sql_ident
from .grouped import _NROWS_COL, _ORD_COL, _VEC_KERNELS, _arrow_builder, _group_key, _named
from .specs import SketchSpec, merge_blobs


def _check_uniform_param(blobs: pa.Array, col: str, kind: str, expect: int | None):
    """All blobs of a rollup column must agree on the sizing parameter
    (HLL p at byte 8; KMV k as <u4 at bytes 8:12) — a mixed-parameter
    merge would silently produce garbage registers, so it raises. One
    gather over the blobs' joined buffer, with an explicit length guard so
    a truncated blob gets a contextful error instead of a bare gather
    IndexError."""
    flat, offs = codec.blob_buffers(blobs)
    starts, lens = offs[:-1], np.diff(offs)
    need = 9 if kind == "hll" else 16
    if int(lens.min()) < need:
        raise ValueError(
            f"rollup_states: column {col!r} holds a sketch blob too "
            f"short for a {kind} header ({int(lens.min())} < {need} bytes)"
        )
    if kind == "hll":
        vals = flat[starts + 8].astype(np.int64)
    else:
        vals = flat[(starts[:, None] + np.arange(8, 12)).ravel()].view("<u4").astype(np.int64)
    if expect is None:
        expect = int(vals[0])
    if (vals != expect).any():
        raise ValueError(
            f"rollup_states: column {col!r} mixes {kind} states with "
            f"different sizing parameters ({sorted(set(vals.tolist()) | {expect})}); "
            "only same-parameter states are mergeable"
        )
    return expect


class _ColAcc:
    """Per-column state accumulator, routed by the column's own kind
    byte at first sight: 'hll' / 'kmv' delegate to the grouped build's
    vectorized kernels (one shared implementation of the packed fold and
    flat-buffer emit), anything else folds a {group code -> blob} dict
    through the generic ``merge_blobs`` dispatch (one Python merge per
    STATE row — rollup inputs are state tables, never raw rows).
    Payloads arrive as one Arrow binary array per pending batch
    (``_rollup_builder``). The bytes it holds are the kernel's arrays or
    the dict's blobs (``held``). A new key is taken to add the longest
    blob of its batch: exact for the dict, an estimate for the kernels,
    which unpack a dense HLL blob to 8 bytes per register; the builder
    measures the held bytes after each fold either way."""

    def __init__(self, col: str):
        self.col = col
        self.kind: str | None = None
        self.param: int | None = None  # p (hll) / k (kmv)
        self.kernel = None
        self.spec: SketchSpec | None = None
        self.acc = None
        self.held = 0

    def absorb(self, g: np.ndarray, payloads: list) -> None:
        blobs = pa.concat_arrays(payloads) if len(payloads) > 1 else payloads[0]
        # a null state cell (outer-joined or hand-built state table) is
        # documented as unsupported — name the column instead of dying
        # deep in the executor with a bare TypeError (ADVICE r5)
        if blobs.null_count:
            raise ValueError(
                f"rollup_states: column {self.col!r} contains null state blobs"
            )
        if self.kind is None:
            k = codec.peek_kind(blobs[0].as_py())
            self.kind = {codec.KIND_HLL: "hll", codec.KIND_KMV: "kmv"}.get(k, "generic")
            self.reset()
        if self.kind == "generic":
            acc = self.acc
            for code, blob in zip(g.tolist(), blobs.to_pylist()):
                old = acc.get(code)
                acc[code] = merge_blobs(old, blob)
                self.held += len(acc[code]) - (0 if old is None else len(old))
            return
        self.param = _check_uniform_param(blobs, self.col, self.kind, self.param)
        if self.kernel is None:
            pkey = "p" if self.kind == "hll" else "k"
            self.spec = SketchSpec(
                self.col, self.kind, key_cols=("_",), params={pkey: self.param}
            )
            self.kernel = _VEC_KERNELS[self.kind]([self.spec])
            self.acc = self.kernel.init_acc()
        self.acc = self.kernel.absorb_states(self.acc, self.spec, g, blobs)

    @staticmethod
    def key_bytes(payload) -> int:
        return int(np.diff(codec.blob_buffers(payload)[1]).max(initial=0))

    def nbytes(self) -> int:
        if self.kernel is not None:
            return self.kernel.acc_bytes(self.acc, self.spec)
        return self.held

    def emit_buf(self, n: int):
        if self.kind == "generic":
            return codec.blob_buffers([self.acc[i] for i in range(n)])
        return self.kernel.emit_buf(self.acc, self.spec, n)

    def reset(self) -> None:
        self.held = 0
        if self.kind == "generic":
            self.acc = {}
        elif self.kernel is not None:
            self.acc = self.kernel.init_acc()


def _rollup_builder(group_cols: list[str], state_cols: list[str], with_ord: bool):
    """The Arrow loop over state rows, for both rollup stages and the
    grouped partial route's merge. Stage 1 (``with_ord=True``):
    byte-bounded partials, one per (partition, coarse key), tagged with
    the deterministic merge order key. Stage 2 (``with_ord=False``): one
    streaming pass over a hash-partitioned partition — pending batches
    fold in row order, so a (key, ord)-sorted input applies every group's
    partials in ascending origin order (the grouped build's determinism
    law) with no per-key group materialization. The checks and decoders
    read each batch's binary state columns in place."""

    def stash(rb):
        pay = {c: rb.column(c) for c in state_cols}
        rows = _column(rb, _NROWS_COL, np.int64, 0)
        return rows, pay, sum(a.nbytes for a in pay.values())

    return _arrow_builder(
        "rollup_states", group_cols, with_ord, lambda: {c: _ColAcc(c) for c in state_cols}, stash
    )


def rollup_states(
    states_df: DataFrame,
    group_cols: list[str],
    state_cols: list[str] | None = None,
) -> DataFrame:
    """Re-merge sketch-state rows to the coarser key ``group_cols``:
    returns one row per coarse group with ``group_cols + [n_rows] +
    state columns`` (``n_rows`` sums the input's ``n_rows`` when present,
    else reports 0). ``group_cols=[]`` rolls everything up to ONE global
    row. ``state_cols`` defaults to every binary column.

    Input is any state table this library produces (``grouped_sketch``
    output, checkpoint tables, previous rollups) — kinds are detected
    from the blobs themselves, HLL/KMV take the fully vectorized kernel
    path in BOTH stages, and mixed sizing parameters within a column
    raise rather than merge garbage. State columns must be non-null.

    Scale shape: stage 1 holds at most ``_STATE_BYTES`` (64 MB) of keys,
    row counts and states (operators/grouped.py; the HLL/KMV kernels'
    arrays, every other kind's blobs; no parameter sets it) and flushes
    before it would pass them (flushes are lossless — merges are
    associative). It emits one partial per (partition, coarse key), so a
    coarse key absorbing the entire input costs #partitions state rows,
    not a single-task row pile-up; only those partials shuffle, and the
    final merge streams each hash-partition in one pass (no per-key
    pandas group, so fan-in needs no salt level). Partials apply in
    ascending partition order (deterministic — same law as the grouped
    build)."""
    all_group = list(group_cols)
    df = states_df
    if not all_group:
        df = df.withColumn("__all", F.lit(0))
        all_group = ["__all"]
    if state_cols is None:
        state_cols = [
            f.name
            for f in df.schema.fields
            if isinstance(f.dataType, BinaryType) and f.name not in all_group
        ]
    if not state_cols:
        raise ValueError("rollup_states: no binary state columns to roll up")
    fields = [StructField(df.schema[c].name, df.schema[c].dataType) for c in all_group]
    fields.append(StructField(_ORD_COL, LongType()))
    fields.append(StructField(_NROWS_COL, LongType()))
    fields += [StructField(c, BinaryType()) for c in state_cols]
    part_schema = StructType(fields)
    if _NROWS_COL not in df.columns:
        df = df.withColumn(_NROWS_COL, F.lit(0).cast(LongType()))
    keep = [_group_key(df, c, "rollup_states") for c in all_group]
    keep += [sql_ident(c) for c in [_NROWS_COL, *state_cols]]
    stage1 = _rollup_builder(all_group, state_cols, with_ord=True)
    partials = df.selectExpr(*keep).mapInArrow(_named(stage1, "rollup_stage1"), schema=part_schema)
    out_schema = StructType([f for f in part_schema.fields if f.name != _ORD_COL])
    out = (
        partials.repartition(*all_group)
        .sortWithinPartitions(*all_group, _ORD_COL)
        .mapInArrow(
            _named(_rollup_builder(all_group, state_cols, with_ord=False), "rollup_merge"),
            schema=out_schema,
        )
    )
    if not group_cols:
        out = out.drop("__all")
    return out
