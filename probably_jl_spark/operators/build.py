"""Distributed sketch build: scan → JVM hash → vectorized partition-local
build → treeReduce merge (SURVEY.md §3.1/§4.3 canonical plan).

Physical plan this module produces:

```
Scan parquet/Iceberg (pruned: only hashed key cols + value cols read)
  → Project(xxhash64(keys) AS __h_*, CAST(value AS double) AS __v_*)   [codegen]
  → mapInPandas(fused build: numpy scatter updates, one state row/partition)
  → RDD.treeReduce(merge serialized states, depth≈log4(#partitions))
  → driver: estimators over ≤MB of final state
```

Catalyst keeps predicate pushdown/column pruning because the projection is
declarative; the only Python is the Arrow-batched partition-local build.
No shuffle at all for global sketches; grouped sketches (grouped.py) add
exactly one hash shuffle on the (salted) group key.
"""

from __future__ import annotations

import functools
import math
import time
from dataclasses import dataclass

import numpy as np
import pandas as pd
from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F
from pyspark.sql.types import (
    ArrayType,
    BinaryType,
    DoubleType,
    LongType,
    IntegerType,
    StringType,
    StructField,
    StructType,
)

from .specs import SketchSpec, merge_blobs, sketch_from_bytes

LINEAGE_COLS = ["partition_id", "n_rows", "build_ms", "input_files"]


def plan_columns(specs: list[SketchSpec]) -> tuple[list, dict]:
    """Deduplicated projection plan: specs sharing the same key tuple /
    value column share one physical column (one xxhash64 evaluation, one
    Arrow transfer). Returns (columns, col_map) where col_map maps
    spec.name -> {'h': col, 'v': col, 'c': col}."""
    cols: list = []
    col_map: dict[str, dict[str, str]] = {}
    hash_cols: dict[tuple, str] = {}
    val_cols: dict[str, str] = {}
    cnt_cols: dict[str, str] = {}
    if len({s.name for s in specs}) != len(specs):
        raise ValueError("duplicate spec names")
    for s in specs:
        m: dict[str, str] = {}
        if s.key_cols:
            key = tuple(s.key_cols)
            if key not in hash_cols:
                hash_cols[key] = f"__h{len(hash_cols)}"
                cols.append(F.xxhash64(*key).alias(hash_cols[key]))
            m["h"] = hash_cols[key]
        if s.value_col:
            if s.value_col not in val_cols:
                val_cols[s.value_col] = f"__v{len(val_cols)}"
                cols.append(F.col(s.value_col).cast("double").alias(val_cols[s.value_col]))
            m["v"] = val_cols[s.value_col]
        if s.count_col:
            if s.count_col not in cnt_cols:
                cnt_cols[s.count_col] = f"__c{len(cnt_cols)}"
                cols.append(F.col(s.count_col).cast("long").alias(cnt_cols[s.count_col]))
            m["c"] = cnt_cols[s.count_col]
        col_map[s.name] = m
    return cols, col_map


def prepare(df: DataFrame, specs: list[SketchSpec], lineage: bool = True) -> tuple[DataFrame, dict]:
    """JVM-side projection: one xxhash64 per *unique* key tuple (whole-stage
    codegen), double casts for value specs, optional count col, and
    input_file_name for lineage. Selecting only these columns is what lets
    the parquet scan prune to the referenced columns."""
    cols, col_map = plan_columns(specs)
    if lineage:
        cols.append(F.input_file_name().alias("__file"))
    return df.select(*cols), col_map


def batch_arrays(pdf: pd.DataFrame, specs: list[SketchSpec], col_map: dict) -> dict:
    """Convert each physical column to numpy once per Arrow batch and fan
    the shared views out to every spec."""
    cache: dict[str, np.ndarray] = {}
    out: dict[str, tuple] = {}
    for s in specs:
        m = col_map[s.name]
        h = v = c = None
        if "h" in m:
            cname = m["h"]
            if cname not in cache:
                cache[cname] = pdf[cname].to_numpy(dtype=np.int64, na_value=0).view(np.uint64)
            h = cache[cname]
        if "v" in m:
            cname = m["v"]
            if cname not in cache:
                cache[cname] = pdf[cname].to_numpy(dtype=np.float64, na_value=np.nan)
            v = cache[cname]
        if "c" in m:
            cname = m["c"]
            if cname not in cache:
                signed = pdf[cname].to_numpy(dtype=np.int64, na_value=0)
                # guard BEFORE the uint64 reinterpretation: -1 would wrap
                # to 2^64-1, sailing past MG's own negative-weight check
                # (mg.py) and poisoning CMS cells with garbage counts
                if signed.size and int(signed.min()) < 0:
                    raise ValueError(
                        f"count column {cname!r} contains negative values; "
                        "CMS/MG counts must be >= 0"
                    )
                cache[cname] = signed.astype(np.uint64)
            c = cache[cname]
        out[s.name] = (h, v, c)
    return out


def partials_schema(specs: list[SketchSpec]) -> StructType:
    fields = [
        StructField("partition_id", IntegerType()),
        StructField("n_rows", LongType()),
        StructField("build_ms", DoubleType()),
        StructField("input_files", ArrayType(StringType())),
    ]
    fields += [StructField(s.state_col, BinaryType()) for s in specs]
    return StructType(fields)


def _build_partition(specs: list[SketchSpec], lineage: bool, col_map: dict):
    """Returns the mapInPandas function: consumes Arrow batches, keeps one
    sketch per spec for the whole partition, emits a single state row."""

    def sketch_partials(batches):
        from pyspark import TaskContext

        t0 = time.perf_counter()
        sketches = {s.name: s.new() for s in specs}
        n_rows = 0
        files: set[str] = set()
        for pdf in batches:
            n_rows += len(pdf)
            if lineage and "__file" in pdf.columns and len(pdf):
                files.update(pdf["__file"].unique().tolist())
            arrays = batch_arrays(pdf, specs, col_map)
            for s in specs:
                h, v, c = arrays[s.name]
                s.update(sketches[s.name], h, v, c)
        ctx = TaskContext.get()
        pid = ctx.partitionId() if ctx is not None else -1
        row = {
            "partition_id": pid,
            "n_rows": n_rows,
            "build_ms": (time.perf_counter() - t0) * 1000.0,
            "input_files": sorted(files),
        }
        for s in specs:
            row[s.state_col] = sketches[s.name].to_bytes()
        yield pd.DataFrame([row])

    return sketch_partials


def build_partials(df: DataFrame, specs: list[SketchSpec], lineage: bool = True) -> DataFrame:
    """One fused vectorized pass: every spec updated from the same Arrow
    batches; one partial-state row per input partition."""
    if not specs:
        raise ValueError("build_partials: specs is empty; pass at least one SketchSpec")
    prepared, col_map = prepare(df, specs, lineage=lineage)
    return prepared.mapInPandas(
        _build_partition(specs, lineage, col_map), schema=partials_schema(specs)
    )


# driver-side merge gate: collect partials directly when the fan-in and
# the (upper-bounded) state bytes are small — the treeReduce level costs
# one extra scheduling wave, which is pure serial time per job (r6: the
# fused build's fixed cost is ~2.3s of a 6.6s 8-executor leg; dropping
# the wave helps both legs AND the measured scaling ratio).
_DRIVER_MERGE_MAX_PARTIALS = 256
_DRIVER_MERGE_MAX_BYTES = 64 << 20


def _est_partial_bytes(specs: list[SketchSpec]) -> int:
    """Upper bound on one partial row's serialized state bytes, sized per
    kind from the spec's parameters: the empty wire (header; bloom, cms
    and cuckoo wires are their whole fixed-size table) plus the most the
    wire grows with content — dense HLL registers (the sparse wire
    densifies at m/8 entries), k KMV hashes, k MG (key, count) pairs,
    <= delta t-digest (mean, weight) centroids, and KLL's <= 3k + 2H items
    plus H level sizes for H <= 64 levels."""
    total = 0
    for s in specs:
        sk = s.new()
        total += len(sk.to_bytes())
        if s.kind == "hll":
            total += 1 << sk.p
        elif s.kind == "kmv":
            total += 8 * sk.k
        elif s.kind == "mg":
            total += 16 * sk.k
        elif s.kind == "tdigest":
            total += 16 * math.ceil(sk.delta)
        elif s.kind == "kll":
            total += 8 * (3 * sk.k + 2 * 64) + 4 * 64
    return total


def tree_merge(partials: DataFrame, specs: list[SketchSpec], depth: int | None = None) -> dict:
    """treeReduce-style merge of partial states (the reference's own
    parallelization story, docs/src/hyperloglog.md:16): partial rows are
    combined executor-side in a tree, so the driver receives one row no
    matter how many partitions were scanned.

    Small fan-ins (<= 256 partials whose states bound under 64MB) skip
    the tree and fold on the driver instead: ``collect()`` preserves
    partition order, so the left fold merges in ascending partition id —
    deterministic for the merge-order-sensitive kinds (t-digest/KLL/MG),
    exactly like the grouped route's ordered merges. Order-insensitive
    kinds (HLL/CMS/Bloom/KMV) are byte-identical either way
    (test_distributed_equals_local). Zero partials give empty sketches
    and ``__n_rows`` 0 on both paths."""
    state_cols = [s.state_col for s in specs]
    sel = partials.select(*state_cols, "n_rows")
    rdd = sel.rdd
    nparts = max(1, rdd.getNumPartitions())

    def merge_rows(a, b):
        # None is the identity: an empty partition or input folds to None
        if a is None or b is None:
            return b if a is None else a
        merged = [merge_blobs(x, y) for x, y in zip(a[:-1], b[:-1])]
        return (*merged, a[-1] + b[-1])

    if (
        depth is None
        and nparts <= _DRIVER_MERGE_MAX_PARTIALS
        and nparts * _est_partial_bytes(specs) <= _DRIVER_MERGE_MAX_BYTES
    ):
        row = functools.reduce(merge_rows, (tuple(r) for r in sel.collect()), None)
    else:
        # NB: do NOT coalesce() here — a non-shuffle coalesce propagates
        # into the mapInPandas stage and would serialize the build itself;
        # the tree adds only ~sqrt(nparts) reduce tasks on top of the scan
        # tasks.
        if depth is None:
            # each extra level is one more scheduling wave (~0.5s fixed):
            # depth 2 handles thousands of ≤MB state rows; go deeper only
            # at real cluster fan-in (100k+ partials)
            depth = 2 if nparts <= 2048 else max(3, int(math.ceil(math.log(nparts, 32))))
        row = rdd.map(tuple).treeAggregate(None, merge_rows, merge_rows, depth=depth)
    if row is None:  # no partials: every sketch empty, like an empty build
        return {**{s.name: s.new() for s in specs}, "__n_rows": 0}
    out = {s.name: sketch_from_bytes(row[i]) for i, s in enumerate(specs)}
    out["__n_rows"] = row[-1]
    return out


@dataclass
class BuildResult:
    sketches: dict
    n_rows: int
    metrics: dict


def sketch_table(df: DataFrame, specs: list[SketchSpec]) -> BuildResult:
    """End-to-end global sketch build: fused scan → partials → tree merge.

    Pre-aggregated ``(key, count)`` input (SURVEY.md §1.2
    "Multiplicities") needs no separate path: a CMS spec with
    ``count_col`` adds each row's count, so
    ``sketch_table(df.groupBy(k).count(), [SketchSpec(..., count_col="count")])``
    gives the per-row build's CMS bytes (saturating adds are monotone)
    with only the distinct keys crossing the Arrow boundary; ``n_rows``
    then counts the aggregated rows."""
    t0 = time.perf_counter()
    # no input_file_name lineage: tree_merge reads only the states and n_rows
    merged = tree_merge(build_partials(df, specs, lineage=False), specs)
    n = merged.pop("__n_rows")
    wall = time.perf_counter() - t0
    metrics = {
        "n_rows": n,
        "wall_sec": wall,
        "rows_per_sec": n / wall if wall > 0 else float("nan"),
        "specs": {s.name: s.kind for s in specs},
    }
    return BuildResult(sketches=merged, n_rows=n, metrics=metrics)
