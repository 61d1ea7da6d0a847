"""The fused build's ``mapInArrow`` body (operators/build.py), run
without Spark: its state row must be byte-equal to per-spec in-process
updates on the same arrays, for every sketch kind, and it must keep
``batch_arrays``' null and negative-count rules."""

import numpy as np
import pyarrow as pa
import pytest
from pyspark.sql.pandas.types import to_arrow_schema

from probably_jl_spark.operators.build import (
    _build_partition,
    partials_schema,
    plan_exprs,
    sql_ident,
)
from probably_jl_spark.operators.specs import KINDS, SketchSpec

SPECS = [
    SketchSpec("hll", "hll", key_cols=("u",)),
    SketchSpec("cms", "cms", key_cols=("t",), count_col="n", params={"width": 256, "depth": 4}),
    SketchSpec("bloom", "bloom", key_cols=("u", "t"), params={"m": 1 << 14, "k": 4}),
    SketchSpec("cuckoo", "cuckoo", key_cols=("u",), params={"len": 1 << 14}),
    SketchSpec("smallcuckoo", "smallcuckoo", key_cols=("u",), params={"len": 1 << 14}),
    SketchSpec("tdigest", "tdigest", value_col="x"),
    SketchSpec("kll", "kll", value_col="x", params={"k": 64}),
    SketchSpec("kmv", "kmv", key_cols=("u",), params={"k": 64}),
    SketchSpec("mg", "mg", key_cols=("t",), count_col="n", params={"k": 8}),
]


def _batches(col_map, sizes, seed=0):
    """Arrow batches of the projected columns: int64 hashes (six distinct
    ones in the CMS/MG key column; nulls in every hash column but the
    Bloom filter's), double values and int64 counts, both with nulls;
    ``sizes`` may include 0 for an empty batch."""
    rng = np.random.default_rng(seed)
    names = sorted({c for m in col_map.values() for c in m.values()})

    def column(name, n):
        if name.startswith("__v"):
            a, t = rng.normal(size=n), pa.float64()
        elif name.startswith("__c"):
            a, t = rng.integers(0, 5, n, dtype=np.int64), pa.int64()
        else:
            a, t = rng.integers(-(2**63), 2**63, n, dtype=np.int64), pa.int64()
            if name == col_map["cms"]["h"]:
                a %= 6
        if name == col_map["bloom"]["h"]:
            return pa.array(a, t)
        return pa.array([None if j % 7 == 3 else x for j, x in enumerate(a.tolist())], t)

    return [
        pa.RecordBatch.from_arrays([column(c, n) for c in names], names=names) for n in sizes
    ]


def test_projection_covers_every_kind():
    assert {s.kind for s in SPECS} == set(KINDS)
    exprs, col_map = plan_exprs(SPECS)
    # one physical column per distinct key tuple / value / count column
    assert len(exprs) == 5
    assert col_map["hll"]["h"] == col_map["kmv"]["h"] and col_map["cms"]["c"] == col_map["mg"]["c"]


def test_arrow_body_equals_per_spec_updates():
    """The body's one RecordBatch holds, per spec, the bytes of one sketch
    updated batch by batch in process with null hashes as 0, null values
    as NaN and null counts as 0, plus the row count; an empty batch
    changes nothing."""
    _, col_map = plan_exprs(SPECS)
    batches = _batches(col_map, [3000, 0, 2500, 1, 4000])
    schema = to_arrow_schema(partials_schema(SPECS))
    (out,) = list(_build_partition(SPECS, False, col_map, schema)(iter(batches)))
    assert out.schema == schema and out.num_rows == 1
    row = out.to_pylist()[0]
    assert row["n_rows"] == 9501 and row["partition_id"] == -1 and row["input_files"] == []

    ref = {s.name: s.new() for s in SPECS}
    for rb in batches:
        for s in SPECS:
            m = col_map[s.name]
            h = v = c = None
            if "h" in m:
                h = np.array(
                    [0 if x is None else x for x in rb.column(m["h"]).to_pylist()], dtype=np.int64
                ).view(np.uint64)
            if "v" in m:
                v = np.array(
                    [np.nan if x is None else x for x in rb.column(m["v"]).to_pylist()],
                    dtype=np.float64,
                )
            if "c" in m:
                c = np.array(
                    [0 if x is None else x for x in rb.column(m["c"]).to_pylist()], dtype=np.uint64
                )
            s.update(ref[s.name], h, v, c)
    for s in SPECS:
        assert row[s.state_col] == ref[s.name].to_bytes(), s.name


def test_arrow_body_lineage_files():
    """With lineage, the row lists each batch's distinct input files once, sorted."""
    specs = SPECS[:1]
    _, col_map = plan_exprs(specs)
    batches = [
        pa.RecordBatch.from_arrays(
            [pa.array(range(len(files)), pa.int64()), pa.array(files, pa.string())],
            names=[col_map["hll"]["h"], "__file"],
        )
        for files in (["b", "a", "b"], [], ["c", "a"])
    ]
    schema = to_arrow_schema(partials_schema(specs))
    (out,) = list(_build_partition(specs, True, col_map, schema)(iter(batches)))
    assert out.to_pylist()[0]["input_files"] == ["a", "b", "c"]


def test_arrow_body_negative_count_raises_naming_column():
    specs = [SketchSpec("f", "cms", key_cols=("k",), count_col="weight")]
    _, col_map = plan_exprs(specs)
    rb = pa.RecordBatch.from_arrays(
        [pa.array([1, 2, 3], pa.int64()), pa.array([3, None, -1], pa.int64())],
        names=[col_map["f"]["h"], col_map["f"]["c"]],
    )
    body = _build_partition(specs, False, col_map, to_arrow_schema(partials_schema(specs)))
    with pytest.raises(ValueError, match="count column 'weight' contains negative values"):
        list(body(iter([rb])))


@pytest.mark.parametrize(
    "name,ident",
    [
        ("plain", "`plain`"),
        ("s.x", "`s`.`x`"),
        ("my col", "`my col`"),
        ("`a``b`", "`a``b`"),
        ("`x.y`", "`x.y`"),
        ("`x.y`.z", "`x.y`.`z`"),
    ],
)
def test_sql_ident_parts(name, ident):
    """Parts split and unquoted as ``F.col`` parses a name, re-quoted."""
    assert sql_ident(name) == ident


@pytest.mark.parametrize("name", ["a..b", ".a", "a.", "a`b", "`a`b", "`a"])
def test_sql_ident_rejects_malformed(name):
    with pytest.raises(ValueError, match="invalid column name"):
        sql_ident(name)
