"""Distributed sketch build: scan → JVM hash → vectorized partition-local
build → merge (SURVEY.md §3.1/§4.3 canonical plan).

Physical plan this module produces:

```
Scan parquet/Iceberg (pruned: only hashed key cols + value cols read)
  → Project(xxhash64(keys) AS __h*, CAST(value AS DOUBLE) AS __v*)   [codegen]
  → mapInArrow(fused build: numpy updates, one state row/partition)
  → merge: driver fold of the collected rows (small fan-in) or
    RDD.treeAggregate (depth≈log32(#partitions))
  → driver: estimators over ≤MB of final state
```

Catalyst keeps predicate pushdown/column pruning because the projection is
declarative (one ``selectExpr`` of SQL strings: one JVM call to plan it);
the only Python is the Arrow-batched partition-local build. No shuffle at
all for global sketches; grouped sketches (grouped.py) add exactly one
hash shuffle on the (salted) group key.
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


def sql_ident(name: str) -> str:
    """``name`` as a Spark SQL identifier that resolves like ``F.col(name)``:
    dots split nested fields and a backticked part is taken literally (a
    doubled backtick inside it is one backtick), as in Spark's
    ``UnresolvedAttribute.parseAttributeName``; every part is re-quoted."""
    parts, cur, quoted, i = [], [], False, 0
    while i < len(name):
        ch = name[i]
        if quoted:
            if ch != "`":
                cur.append(ch)
            elif name[i + 1 : i + 2] == "`":
                cur.append("`")
                i += 1
            else:
                quoted = False
                if name[i + 1 : i + 2] not in ("", "."):
                    raise ValueError(f"invalid column name {name!r}")
        elif ch == "`":
            if cur:
                raise ValueError(f"invalid column name {name!r}")
            quoted = True
        elif ch == ".":
            if i == 0 or name[i - 1] == "." or i == len(name) - 1:
                raise ValueError(f"invalid column name {name!r}")
            parts.append("".join(cur))
            cur = []
        else:
            cur.append(ch)
        i += 1
    if quoted:
        raise ValueError(f"invalid column name {name!r}")
    parts.append("".join(cur))
    return ".".join("`" + p.replace("`", "``") + "`" for p in parts)


def plan_exprs(specs: list[SketchSpec]) -> tuple[list[str], dict]:
    """Deduplicated projection plan as SQL expression strings: specs
    sharing the same key tuple / value column share one physical column
    (one xxhash64 evaluation, one Arrow transfer). Returns (exprs,
    col_map) where col_map maps spec.name -> {'h': col, 'v': col, 'c': col}.
    Strings let a caller plan the whole projection with one
    ``selectExpr`` instead of a py4j round trip per column operation."""
    exprs: list[str] = []
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
                hash_cols[key] = name = f"__h{len(hash_cols)}"
                exprs.append(f"xxhash64({', '.join(map(sql_ident, key))}) AS {name}")
            m["h"] = hash_cols[key]
        if s.value_col:
            if s.value_col not in val_cols:
                val_cols[s.value_col] = name = f"__v{len(val_cols)}"
                exprs.append(f"CAST({sql_ident(s.value_col)} AS DOUBLE) AS {name}")
            m["v"] = val_cols[s.value_col]
        if s.count_col:
            if s.count_col not in cnt_cols:
                cnt_cols[s.count_col] = name = f"__c{len(cnt_cols)}"
                # a null count crosses as 0: a null makes PySpark's
                # Arrow->pandas conversion widen the column to float64, where
                # 2^63 - 1 rounds to 2^63 and wraps negative in int64
                exprs.append(f"COALESCE(CAST({sql_ident(s.count_col)} AS BIGINT), 0) AS {name}")
            m["c"] = cnt_cols[s.count_col]
        col_map[s.name] = m
    return exprs, col_map


def plan_columns(specs: list[SketchSpec]) -> tuple[list, dict]:
    """`plan_exprs` as Columns, for callers that mix them with other
    Columns in one ``select``."""
    exprs, col_map = plan_exprs(specs)
    return [F.expr(e) for e in exprs], col_map


def prepare(df: DataFrame, specs: list[SketchSpec], lineage: bool = True) -> tuple[DataFrame, dict]:
    """JVM-side projection: one xxhash64 per *unique* key tuple (whole-stage
    codegen), double casts for value specs, optional count col, and
    input_file_name for lineage. Selecting only these columns is what lets
    the parquet scan prune to the referenced columns."""
    exprs, col_map = plan_exprs(specs)
    if lineage:
        exprs.append("input_file_name() AS __file")
    return df.selectExpr(*exprs), col_map


def _column(batch, cname: str, dtype, na) -> np.ndarray:
    """Physical column ``cname`` of a pandas DataFrame or an Arrow
    RecordBatch as a ``dtype`` array, nulls as ``na``."""
    if isinstance(batch, pd.DataFrame):
        return batch[cname].to_numpy(dtype=dtype, na_value=na)
    col = batch.column(cname)
    if col.null_count:
        col = col.fill_null(na)
    return col.to_numpy(zero_copy_only=False).astype(dtype, copy=False)


def batch_arrays(batch, specs: list[SketchSpec], col_map: dict) -> dict:
    """Convert each physical column of a pandas or Arrow batch to numpy
    once and fan the shared arrays out to every spec as (h, v, c): null
    hashes read 0, null values NaN, null counts 0."""
    cache: dict[str, np.ndarray] = {}
    out: dict[str, tuple] = {}
    for s in specs:
        m = col_map[s.name]
        h = v = c = None
        if "h" in m:
            cname = m["h"]
            if cname not in cache:
                cache[cname] = _column(batch, cname, np.int64, 0).view(np.uint64)
            h = cache[cname]
        if "v" in m:
            cname = m["v"]
            if cname not in cache:
                cache[cname] = _column(batch, cname, np.float64, np.nan)
            v = cache[cname]
        if "c" in m:
            cname = m["c"]
            if cname not in cache:
                signed = _column(batch, cname, np.int64, 0)
                # guard BEFORE the uint64 reinterpretation: -1 would wrap
                # to 2^64-1, sailing past MG's own negative-weight check
                # (mg.py) and poisoning CMS cells with garbage counts
                if signed.size and int(signed.min()) < 0:
                    raise ValueError(
                        f"count column {s.count_col!r} contains negative values; "
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


def _build_partition(specs: list[SketchSpec], lineage: bool, col_map: dict, schema):
    """Returns the mapInArrow function: consumes Arrow batches, keeps one
    sketch per spec for the whole partition, emits one RecordBatch of one
    state row with the Arrow ``schema`` of `partials_schema`."""

    def sketch_partials(batches):
        import pyarrow as pa
        import pyarrow.compute as pc
        from pyspark import TaskContext

        t0 = time.perf_counter()
        sketches = {s.name: s.new() for s in specs}
        n_rows = 0
        files: set[str] = set()
        for rb in batches:
            if rb.num_rows == 0:
                continue
            n_rows += rb.num_rows
            if lineage:
                files.update(pc.unique(rb.column("__file")).to_pylist())
            arrays = batch_arrays(rb, specs, col_map)
            for s in specs:
                s.update(sketches[s.name], *arrays[s.name])
        ctx = TaskContext.get()
        row = {
            "partition_id": ctx.partitionId() if ctx is not None else -1,
            "n_rows": n_rows,
            "build_ms": (time.perf_counter() - t0) * 1000.0,
            "input_files": sorted(files),
        }
        for s in specs:
            row[s.state_col] = sketches[s.name].to_bytes()
        yield pa.RecordBatch.from_pylist([row], schema=schema)

    return sketch_partials


def build_partials(df: DataFrame, specs: list[SketchSpec], lineage: bool = True) -> DataFrame:
    """One fused vectorized pass: every spec updated from the same Arrow
    batches; one partial-state row per input partition."""
    from pyspark.sql.pandas.types import to_arrow_schema

    if not specs:
        raise ValueError("build_partials: specs is empty; pass at least one SketchSpec")
    prepared, col_map = prepare(df, specs, lineage=lineage)
    schema = partials_schema(specs)
    fn = _build_partition(specs, lineage, col_map, to_arrow_schema(schema))
    return prepared.mapInArrow(fn, schema=schema)


# driver-side merge gate: collect partials directly when the fan-in and
# the (upper-bounded) state bytes are small — the treeReduce level costs
# one extra scheduling wave, which is pure serial time per job (r6: the
# fused build's fixed cost is ~2.3s of a 6.6s 8-executor leg; dropping
# the wave helps both legs AND the measured scaling ratio).
_DRIVER_MERGE_MAX_PARTIALS = 256
_DRIVER_MERGE_MAX_BYTES = 64 << 20


def _est_partial_bytes(specs: list[SketchSpec]) -> int:
    """Upper bound on one partial row's state bytes: each spec's fixed
    plus growth bytes (`SketchSpec.size_model`)."""
    return sum(sum(s.size_model()) for s in specs)


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
    return _merge_partials(partials, specs, depth)[0]


def _merge_partials(partials: DataFrame, specs: list[SketchSpec], depth: int | None):
    """`tree_merge` plus its phase split: ``plan_s`` (planning the
    partials and choosing the path), ``job_s`` (the collect or the
    treeAggregate), ``merge_s`` (the driver fold and decode),
    ``n_partials`` (partitions of ``partials``, one state row each from
    `build_partials`), ``merge_path`` (``"driver_fold"`` or ``"tree"``)
    and ``state_bytes`` (the merged state blobs; 0 with no partials)."""
    t0 = time.perf_counter()
    state_cols = [s.state_col for s in specs]
    rdd = partials.rdd
    nparts = max(1, rdd.getNumPartitions())

    def states(r):
        return (*(r[c] for c in state_cols), r["n_rows"])

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
        path = "driver_fold"
        t1 = time.perf_counter()
        rows = partials.collect()
        t2 = time.perf_counter()
        row = functools.reduce(merge_rows, map(states, rows), None)
    else:
        # NB: do NOT coalesce() here — a non-shuffle coalesce propagates
        # into the mapInArrow stage and would serialize the build itself;
        # the tree adds only ~sqrt(nparts) reduce tasks on top of the scan
        # tasks.
        if depth is None:
            # each extra level is one more scheduling wave (~0.5s fixed):
            # depth 2 handles thousands of ≤MB state rows; go deeper only
            # at real cluster fan-in (100k+ partials)
            depth = 2 if nparts <= 2048 else max(3, int(math.ceil(math.log(nparts, 32))))
        path = "tree"
        t1 = time.perf_counter()
        row = rdd.map(states).treeAggregate(None, merge_rows, merge_rows, depth=depth)
        t2 = time.perf_counter()
    if row is None:  # no partials: every sketch empty, like an empty build
        out = {**{s.name: s.new() for s in specs}, "__n_rows": 0}
        state_bytes = 0
    else:
        out = {s.name: sketch_from_bytes(row[i]) for i, s in enumerate(specs)}
        out["__n_rows"] = row[-1]
        state_bytes = sum(len(b) for b in row[:-1])
    info = {
        "plan_s": t1 - t0,
        "job_s": t2 - t1,
        "merge_s": time.perf_counter() - t2,
        "n_partials": nparts,
        "merge_path": path,
        "state_bytes": state_bytes,
    }
    return out, info


@dataclass
class BuildResult:
    sketches: dict
    n_rows: int
    metrics: dict


def sketch_table(df: DataFrame, specs: list[SketchSpec]) -> BuildResult:
    """End-to-end global sketch build: fused scan → partials → tree merge.

    ``metrics`` holds ``n_rows``, ``wall_sec``, ``rows_per_sec`` and
    ``specs`` (name -> kind), plus the phase split of `_merge_partials`
    with ``plan_s`` also counting the partials' plan construction;
    ``plan_s + job_s + merge_s <= wall_sec``.

    Pre-aggregated ``(key, count)`` input (SURVEY.md §1.2
    "Multiplicities") needs no separate path: a CMS spec with
    ``count_col`` adds each row's count, so
    ``sketch_table(df.groupBy(k).count(), [SketchSpec(..., count_col="count")])``
    gives the per-row build's CMS bytes (saturating adds are monotone)
    with only the distinct keys crossing the Arrow boundary; ``n_rows``
    then counts the aggregated rows."""
    t0 = time.perf_counter()
    # no input_file_name lineage: the merge reads only the states and n_rows
    partials = build_partials(df, specs, lineage=False)
    plan_s = time.perf_counter() - t0
    merged, info = _merge_partials(partials, specs, None)
    n = merged.pop("__n_rows")
    wall = time.perf_counter() - t0
    metrics = {
        "n_rows": n,
        "wall_sec": wall,
        "rows_per_sec": n / wall if wall > 0 else float("nan"),
        **info,
        "plan_s": plan_s + info["plan_s"],
        "specs": {s.name: s.kind for s in specs},
    }
    return BuildResult(sketches=merged, n_rows=n, metrics=metrics)
