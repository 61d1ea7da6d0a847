"""In-process probe of the ``sketches`` layer: update throughput per kind,
merge and estimate cost, on a seeded array with the global_build spec
parameters. No Spark involved, so these numbers isolate the numpy
kernels from scan, transfer and scheduling."""

from __future__ import annotations

import statistics
import time

import numpy as np

from inputs import transcript_specs
from workloads import QS

KINDS = ("hll", "cms", "bloom", "tdigest", "kll")
ROWS = 1_000_000
PARTS = 4
REPEATS = 3


def _median_time(fn) -> float:
    times = []
    for _ in range(REPEATS):
        t0 = time.perf_counter()
        fn()
        times.append(time.perf_counter() - t0)
    return statistics.median(times)


def sketch_layer(n_convs: int, seed: int, rows: int = ROWS) -> dict:
    from probably_jl_spark.operators.specs import merge_blobs

    rng = np.random.default_rng(seed)
    h = rng.integers(0, np.iinfo(np.uint64).max, size=rows, dtype=np.uint64, endpoint=True)
    v = np.round(rng.lognormal(4.0, 1.0, size=rows))
    specs = {}
    for s in transcript_specs(n_convs):
        specs.setdefault(s.kind, s)

    def update(spec, hh, vv):
        sk = spec.new()
        spec.update(sk, hh, vv, None)
        return sk

    out = {}
    for kind in KINDS:
        t = _median_time(lambda: update(specs[kind], h, v))
        out[f"sketches.update_mrows_s.{kind}"] = rows / t / 1e6

    chunks = np.array_split(np.arange(rows), PARTS)
    partials = {
        kind: [update(specs[kind], h[c], v[c]).to_bytes() for c in chunks] for kind in KINDS
    }

    def merge_all():
        merged = {}
        for kind, blobs in partials.items():
            acc = None
            for b in blobs:
                acc = merge_blobs(acc, b)
            merged[kind] = acc
        return merged

    out["sketches.merge_s"] = _median_time(merge_all)

    from probably_jl_spark.operators.specs import sketch_from_bytes

    merged = {k: sketch_from_bytes(b) for k, b in merge_all().items()}
    probe = h[: min(rows, 100_000)]

    def estimate_all():
        merged["hll"].cardinality()
        merged["cms"].query_hashes(probe)
        merged["bloom"].contains_hashes(probe)
        for q in QS:
            merged["tdigest"].quantile(q)
            merged["kll"].quantile(q)

    out["sketches.estimate_s"] = _median_time(estimate_all)
    return out
