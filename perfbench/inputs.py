"""Seeded benchmark inputs and their exact answers.

One input per (scale, seed), shared by every workload: synthetic
transcripts from ``sources.transcripts.synth_transcripts``, written as
parquet under ``.perfbench_cache/`` in the checkout.
Exact answers (group sizes, distinct counts, value arrays) are computed
with pandas straight from the written parquet, independently of the
library, and cached next to it. ``grouped_states`` additionally needs a
per-conversation state table, global Bloom/CMS states and a probe table.
The states are library output, so they are cached per seed and per
version of the library's sources: a changed library rebuilds them instead
of reading states an older version wrote.

Everything here runs outside the timed regions.
"""

from __future__ import annotations

import functools
import hashlib
import json
import math
import os
import shutil
from dataclasses import dataclass

import numpy as np
import pandas as pd
import pyarrow as pa
import pyarrow.parquet as pq

# conversations per input; ~3.8 turns each
SCALES = {"full": 25_000, "smoke": 2_000}
FILES = 4  # parquet files per table: one scan task per core
NULL = "\x00null"  # stand-in for a null group key when matching outputs
CMS_PARAMS = {"width": 2048, "depth": 5}
KLL_K = 200
TDIGEST_DELTA = 200.0


def bloom_params(n_convs: int) -> dict:
    """About 10 bits per distinct conversation, rounded up to a power of
    two, with the k that minimizes the false-positive rate."""
    m = 1 << max(6, math.ceil(math.log2(10 * n_convs)))
    return {"m": m, "k": max(1, round(math.log(2) * m / n_convs))}


def transcript_specs(n_convs: int) -> list:
    """The seven global transcript sketches."""
    from probably_jl_spark.operators.specs import SketchSpec

    return [
        SketchSpec("convs", "hll", key_cols=("conv_id",)),
        SketchSpec("conv_tool", "hll", key_cols=("conv_id", "tool")),
        SketchSpec("role_freq", "cms", key_cols=("role",), params=CMS_PARAMS),
        SketchSpec("tool_freq", "cms", key_cols=("tool",), params=CMS_PARAMS),
        SketchSpec("conv_member", "bloom", key_cols=("conv_id",), params=bloom_params(n_convs)),
        SketchSpec("turn_len_td", "tdigest", value_col="text_len", params={"delta": TDIGEST_DELTA}),
        SketchSpec("turn_len_kll", "kll", value_col="text_len", params={"k": KLL_K}),
    ]


def state_specs(n_convs: int) -> list:
    """Global states that ``grouped_states`` queries: the direct
    HLL(conv_id, tool) its rollup must reproduce byte for byte, the
    conversation Bloom filter and a per-conversation turn-count CMS."""
    from probably_jl_spark.operators.specs import SketchSpec

    return [
        SketchSpec("conv_tool", "hll", key_cols=("conv_id", "tool")),
        SketchSpec("conv_member", "bloom", key_cols=("conv_id",), params=bloom_params(n_convs)),
        SketchSpec("conv_turns", "cms", key_cols=("conv_id",), params=CMS_PARAMS),
    ]


@functools.lru_cache(maxsize=1)
def library_digest() -> str:
    """Hash of the library's Python sources (paths and contents)."""
    import probably_jl_spark

    pkg = os.path.dirname(os.path.abspath(probably_jl_spark.__file__))
    h = hashlib.sha256()
    for dirpath, dirnames, filenames in os.walk(pkg):
        dirnames.sort()
        for f in sorted(filenames):
            if f.endswith(".py"):
                path = os.path.join(dirpath, f)
                h.update(os.path.relpath(path, pkg).encode() + b"\0")
                with open(path, "rb") as fh:
                    h.update(fh.read())
    return h.hexdigest()[:16]


def parquet_files(d: str) -> list[str]:
    return sorted(os.path.join(d, f) for f in os.listdir(d) if f.endswith(".parquet"))


def keyed(s: pd.Series) -> pd.Series:
    """Null group keys as a comparable sentinel."""
    return s.astype(object).where(s.notna(), NULL)


@dataclass
class Input:
    dir: str
    n_convs: int
    seed: int
    scalars: dict

    @property
    def transcripts(self) -> str:
        return os.path.join(self.dir, "transcripts")

    @property
    def states_dir(self) -> str:
        return os.path.join(self.dir, "states-" + library_digest())

    @property
    def states(self) -> str:
        return os.path.join(self.states_dir, "states")

    @property
    def probes(self) -> str:
        return os.path.join(self.states_dir, "probes")

    def exact(self, name: str) -> pd.DataFrame:
        return pd.read_parquet(os.path.join(self.dir, "exact", name + ".parquet"))

    def state_blob(self, name: str) -> bytes:
        with open(os.path.join(self.states_dir, name + ".bin"), "rb") as fh:
            return fh.read()

    def state_scalars(self) -> dict:
        with open(os.path.join(self.states_dir, "scalars.json")) as fh:
            return json.load(fh)

    def columns(self, *cols: str) -> pd.DataFrame:
        return pq.read_table(self.transcripts, columns=list(cols)).to_pandas()


def ensure_input(spark, cache: str, scale: str, seed: int) -> Input:
    n = SCALES[scale]
    d = os.path.join(cache, f"input-n{n}-seed{seed}")
    if not os.path.exists(os.path.join(d, "scalars.json")):
        tmp = d + ".tmp"
        shutil.rmtree(tmp, ignore_errors=True)
        os.makedirs(tmp)
        _write_transcripts(spark, os.path.join(tmp, "transcripts"), n, seed)
        scalars = _exact_answers(tmp, n)
        with open(os.path.join(tmp, "scalars.json"), "w") as fh:
            json.dump(scalars, fh)
        shutil.rmtree(d, ignore_errors=True)
        os.rename(tmp, d)
    with open(os.path.join(d, "scalars.json")) as fh:
        scalars = json.load(fh)
    return Input(d, n, seed, scalars)


def _write_transcripts(spark, path: str, n: int, seed: int) -> None:
    from pyspark.sql import functions as F

    from probably_jl_spark.sources.transcripts import synth_transcripts

    tr = synth_transcripts(spark, n_convs=n, seed=seed)
    tr.select(
        "conv_id",
        "turn_idx",
        "role",
        "tool",
        F.length("text").cast("double").alias("text_len"),
    ).repartition(FILES).write.parquet(path)


def _exact_answers(d: str, n: int) -> dict:
    t = pq.read_table(os.path.join(d, "transcripts")).to_pandas()
    t["tool_k"] = keyed(t["tool"])
    ex = os.path.join(d, "exact")
    os.makedirs(ex)

    def save(name: str, df: pd.DataFrame) -> None:
        df.reset_index().to_parquet(os.path.join(ex, name + ".parquet"), index=False)

    save(
        "per_conv",
        t.groupby("conv_id").agg(n_rows=("tool_k", "size"), distinct=("tool_k", "nunique")),
    )
    save(
        "per_role_tool",
        t.groupby(["role", "tool_k"]).agg(n_rows=("conv_id", "size"), distinct=("conv_id", "nunique")),
    )
    save(
        "per_role",
        t.groupby("role").agg(n_rows=("conv_id", "size"), distinct=("conv_id", "nunique")),
    )
    pair = t["conv_id"] + "\x01" + t["tool_k"]
    return {
        "n_convs": n,
        "turns": int(len(t)),
        "distinct_convs": int(t["conv_id"].nunique()),
        "distinct_conv_tool": int(pair.nunique()),
        "role_counts": [[k, int(v)] for k, v in t["role"].value_counts().items()],
        "tool_counts": [
            [None if k == NULL else k, int(v)] for k, v in t["tool_k"].value_counts().items()
        ],
    }


def ensure_states(spark, inp: Input) -> None:
    """State table, global states and probes for ``grouped_states``."""
    d = inp.states_dir
    if os.path.exists(os.path.join(d, "scalars.json")):
        return
    from pyspark.sql import functions as F

    from probably_jl_spark.operators.build import sketch_table
    from probably_jl_spark.operators.grouped import grouped_sketch

    tmp = d + ".tmp"
    shutil.rmtree(tmp, ignore_errors=True)
    os.makedirs(tmp)
    df = spark.read.parquet(inp.transcripts)
    specs = state_specs(inp.n_convs)
    grouped_sketch(df, ["conv_id"], [specs[0]]).withColumn(
        "conv_prefix", F.expr("substring(conv_id, 1, length(conv_id) - 1)")
    ).write.parquet(os.path.join(tmp, "states"))
    res = sketch_table(df, specs)
    for s in specs:
        with open(os.path.join(tmp, s.name + ".bin"), "wb") as fh:
            fh.write(res.sketches[s.name].to_bytes())

    t = inp.columns("conv_id", "tool")
    t["tool_k"] = keyed(t["tool"])
    t["conv_prefix"] = t["conv_id"].str[:-1]
    t["pair"] = t["conv_id"] + "\x01" + t["tool_k"]
    per_prefix = t.groupby("conv_prefix").agg(
        n_rows=("pair", "size"), distinct=("pair", "nunique")
    )
    per_prefix.reset_index().to_parquet(os.path.join(tmp, "per_prefix.parquet"), index=False)

    # 2N probes: every conversation (present) and N ids that never occur
    turns = t.groupby("conv_id").size()
    absent = [f"conv-{i:08d}" for i in range(inp.n_convs, 2 * inp.n_convs)]
    probes = pd.DataFrame(
        {
            "conv_id": list(turns.index) + absent,
            "present": [True] * len(turns) + [False] * len(absent),
            "exact": np.concatenate([turns.to_numpy(), np.zeros(len(absent), dtype=np.int64)]),
        }
    )
    probes = probes.sample(frac=1.0, random_state=inp.seed).reset_index(drop=True)
    os.makedirs(os.path.join(tmp, "probes"))
    for i, part in enumerate(np.array_split(np.arange(len(probes)), FILES)):
        pq.write_table(
            pa.Table.from_pandas(probes.iloc[part], preserve_index=False),
            os.path.join(tmp, "probes", f"part-{i:05d}.parquet"),
        )
    with open(os.path.join(tmp, "scalars.json"), "w") as fh:
        json.dump({"state_rows": int(len(turns)), "probes": int(len(probes))}, fh)
    shutil.rmtree(d, ignore_errors=True)
    os.rename(tmp, d)
