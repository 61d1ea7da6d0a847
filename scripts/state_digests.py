#!/usr/bin/env python
"""Print one sha256 per (case, state column) of the sketch states the
library builds over a fixed seeded input, as one JSON map.

    python scripts/state_digests.py > digests.json

Run it on two checkouts and diff the maps: a change that must keep every
state byte (a refactor of a builder, a route or a kernel) prints the same
map. The input is ``synth_transcripts(n_convs=2000, seed=7)`` in 4
partitions, plus a nullable count column and a float key holding NaN
and null. The cases:

* ``sketch_table`` over all 9 kinds (CMS and MG with the count column);
* ``grouped_sketch`` on the direct and the partial route (HLL, then KMV)
  and the generic route (all 9 kinds), each over ``(role, tool)`` and
  ``(fk,)``, with ``max_states_per_partition=3`` so that stage 1 flushes;
* ``rollup_states`` of the generic and direct states to ``role`` and to
  one global row.

A grouped case hashes its rows in key order: the key, ``n_rows`` and the
state blob of each row. Needs a local Spark (``local[2]``, ~1 minute).
"""

from __future__ import annotations

import hashlib
import json
import os
import sys

sys.path.insert(0, os.path.dirname(os.path.dirname(os.path.abspath(__file__))))

ALL_KINDS = [
    ("hll", "hll", {"key_cols": ("conv_id",), "params": {"p": 10}}),
    ("cms", "cms", {"key_cols": ("tool",), "count_col": "cnt", "params": {"width": 256, "depth": 3}}),
    ("bloom", "bloom", {"key_cols": ("conv_id",), "params": {"m": 1 << 12, "k": 3}}),
    ("cuckoo", "cuckoo", {"key_cols": ("conv_id", "turn_idx"), "params": {"len": 1 << 15}}),
    ("scuckoo", "smallcuckoo", {"key_cols": ("conv_id",), "params": {"len": 1 << 12}}),
    ("td", "tdigest", {"value_col": "turn_idx", "params": {"delta": 50.0}}),
    ("kll", "kll", {"value_col": "turn_idx", "params": {"k": 32}}),
    ("kmv", "kmv", {"key_cols": ("conv_id",), "params": {"k": 64}}),
    ("mg", "mg", {"key_cols": ("tool",), "count_col": "cnt", "params": {"k": 8}}),
]


def _sha(parts) -> str:
    h = hashlib.sha256()
    for p in parts:
        h.update(p if isinstance(p, bytes) else repr(p).encode())
    return h.hexdigest()


def _grouped_digests(out: dict, case: str, df, group_cols: list[str]) -> None:
    rows = df.collect()
    rows.sort(key=lambda r: tuple((r[c] is None, r[c]) for c in group_cols))
    keys = [tuple(r[c] for c in group_cols) for r in rows]
    out[f"{case}/n_rows"] = _sha([(k, r["n_rows"]) for k, r in zip(keys, rows)])
    for c in df.columns:
        if c.startswith("state_"):
            out[f"{case}/{c}"] = _sha(x for k, r in zip(keys, rows) for x in (k, bytes(r[c])))


def main() -> int:
    from pyspark.sql import SparkSession
    from pyspark.sql import functions as F

    from probably_jl_spark.operators.build import sketch_table
    from probably_jl_spark.operators.grouped import grouped_sketch
    from probably_jl_spark.operators.rollup import rollup_states
    from probably_jl_spark.operators.specs import SketchSpec
    from probably_jl_spark.sources.transcripts import synth_transcripts

    spark = (
        SparkSession.builder.master("local[2]")
        .config("spark.default.parallelism", "4")
        .config("spark.sql.shuffle.partitions", "4")
        .config("spark.sql.execution.arrow.maxRecordsPerBatch", "10000")
        .config("spark.ui.enabled", "false")
        .getOrCreate()
    )
    spark.sparkContext.setLogLevel("ERROR")
    h = F.pmod(F.xxhash64("conv_id", "turn_idx"), F.lit(1000))
    df = (
        synth_transcripts(spark, n_convs=2000, seed=7)
        .withColumn("cnt", F.when(h % 11 == 0, F.lit(None)).otherwise(h % 5).cast("long"))
        .withColumn(
            "fk",
            F.when(h % 7 == 0, F.lit(float("nan")))
            .when(h % 7 == 1, F.lit(None).cast("double"))
            .otherwise((F.col("turn_idx") % 4).cast("double")),
        )
        .cache()
    )
    df.count()
    specs = [SketchSpec(n, k, **kw) for n, k, kw in ALL_KINDS]
    by_name = {s.name: s for s in specs}
    out: dict[str, str] = {}

    res = sketch_table(df, specs)
    for s in specs:
        out[f"sketch_table/{s.state_col}"] = _sha([res.sketches[s.name].to_bytes()])

    states = {}
    for keys in (["role", "tool"], ["fk"]):
        tag = ",".join(keys)
        for kind in ("hll", "kmv"):
            for route, pre in (("direct", False), ("partial", True)):
                case = f"{route}[{tag}]/{kind}"
                g = grouped_sketch(
                    df, keys, [by_name[kind]], max_states_per_partition=3, pre_partial=pre
                )
                _grouped_digests(out, case, g, keys)
                states[case] = g
        case = f"generic[{tag}]"
        g = grouped_sketch(df, keys, specs, max_states_per_partition=3)
        _grouped_digests(out, case, g, keys)
        states[case] = g

    for src in ("generic[role,tool]", "direct[role,tool]/hll"):
        _grouped_digests(out, f"rollup[role]<-{src}", rollup_states(states[src], ["role"]), ["role"])
        glob = rollup_states(states[src], [])
        _grouped_digests(out, f"rollup[]<-{src}", glob, [])

    print(json.dumps(out, indent=1, sort_keys=True))
    spark.stop()
    return 0


if __name__ == "__main__":
    sys.exit(main())
