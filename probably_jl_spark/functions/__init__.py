"""Driver-side estimators and batch-query functions over final sketch
states (SURVEY.md §2.6 "Estimator/query functions").

Point/quantile queries run on the driver against the merged ≤MB state;
batch variants broadcast the serialized state and evaluate inside Arrow
pandas UDFs so a DataFrame of millions of probe keys never leaves the
executors.
"""

from __future__ import annotations

import uuid

import numpy as np
import pandas as pd
from pyspark.sql import DataFrame
from pyspark.sql import functions as F

from ..operators.specs import sketch_from_bytes
from ..sketches import codec
from ..sketches.bloom import BloomFilter
from ..sketches.cms import CountMinSketch
from ..sketches.cuckoo import CuckooFilter
from ..sketches.hll import HyperLogLog
from ..sketches.kll import KLL
from ..sketches.kmv import KMV
from ..sketches.mg import MisraGries
from ..sketches.tdigest import TDigest


def estimate_cardinality(state) -> int:
    sk = _materialize(state)
    if isinstance(sk, (HyperLogLog, BloomFilter, KMV)):
        card = sk.cardinality()
        return int(card) if np.isfinite(card) else -1
    raise TypeError(f"no cardinality estimator for {type(sk).__name__}")


def query_count(state, key, int_bytes: int = 8) -> int:
    """int_bytes=4 when the distributed build keyed on an int32 column."""
    sk = _materialize(state)
    if not isinstance(sk, CountMinSketch):
        raise TypeError("query_count expects a count-min state")
    return sk.query(key, int_bytes)


def contains(state, key, int_bytes: int = 8) -> bool:
    """int_bytes=4 when the distributed build keyed on an int32 column."""
    sk = _materialize(state)
    if isinstance(sk, (BloomFilter, CuckooFilter)):
        return sk.contains(key, int_bytes)
    raise TypeError("contains expects a Bloom or cuckoo state")


def quantile(state, q: float) -> float:
    sk = _materialize(state)
    if isinstance(sk, (TDigest, KLL)):
        return sk.quantile(q)
    raise TypeError("quantile expects a t-digest or KLL state")


def intersection_cardinality(a, b) -> float:
    """Distinct-count of the INTERSECTION of two HLL (or Bloom) states by
    inclusion-exclusion: |A| + |B| - |A u B| (the union is the lossless
    register-max / bitwise-OR merge). Errors compound — roughly
    1.04/sqrt(m) * (|A| + |B| + |A u B|) at one sigma — so this is an
    overlap *signal* (e.g. distinct users active in BOTH segments), not a
    precision estimator; it can go slightly negative for disjoint sets
    and is clamped at 0."""
    sa, sb = _materialize(a), _materialize(b)
    if type(sa) is not type(sb):
        raise TypeError(
            "intersection_cardinality expects two states of the same kind, "
            f"got {type(sa).__name__} and {type(sb).__name__}"
        )
    if isinstance(sa, KMV):
        # KMV keeps actual hash samples, so the intersection is estimated
        # DIRECTLY on the retained sample below min-theta (kmv.py) — error
        # ~ union/sqrt(k-2), much tighter than inclusion-exclusion when
        # the overlap is small relative to the operands
        return sa.intersection_cardinality(sb)
    if not isinstance(sa, (HyperLogLog, BloomFilter)):
        raise TypeError(
            f"intersection_cardinality expects HLL/Bloom/KMV states, got {type(sa).__name__}"
        )
    union = sa.copy().merge(sb)
    return max(0.0, float(sa.cardinality()) + float(sb.cardinality()) - float(union.cardinality()))


def difference_cardinality(a, b) -> float:
    """Distinct-count of A \\ B from two KMV states: counted directly on
    the retained hash samples below min-theta (kmv.py docstring). HLL
    cannot answer this (inclusion-exclusion gives A-minus-B only via two
    compounding subtractions); pass KMV states."""
    sa, sb = _materialize(a), _materialize(b)
    if not (isinstance(sa, KMV) and isinstance(sb, KMV)):
        raise TypeError("difference_cardinality expects two KMV states")
    return sa.difference_cardinality(sb)


def heavy_hitters(state, threshold: int | None = None):
    """Candidate heavy items from a Misra-Gries state: list of
    (item_hash, est, est + deficit) sorted by est descending. With
    ``threshold`` only items whose UPPER bound reaches it are returned —
    the summary guarantees no item with true frequency > state.deficit
    (a fortiori > n/(k+1)) is missing."""
    sk = _materialize(state)
    if not isinstance(sk, MisraGries):
        raise TypeError("heavy_hitters expects a Misra-Gries state")
    hashes, ests = sk.candidates()
    order = np.argsort(ests)[::-1]
    out = [
        (int(hashes[i]), int(ests[i]), int(ests[i]) + sk.deficit) for i in order
    ]
    if threshold is not None:
        out = [t for t in out if t[2] >= threshold]
    return out


def _materialize(state):
    if isinstance(state, (bytes, bytearray)):
        return sketch_from_bytes(state)
    return state


def _state_blob(state, fn: str, kinds: dict) -> bytes:
    """``state``'s wire bytes, checked on the driver by the blob's kind
    byte (no decode) against ``kinds`` ({codec kind: name}): a state of
    another kind raises a TypeError naming ``fn``, not an executor error."""
    blob = bytes(state if isinstance(state, (bytes, bytearray)) else state.to_bytes())
    if codec.peek_kind(blob) not in kinds:
        raise TypeError(f"{fn} expects a {' or '.join(kinds.values())} state")
    return blob


# ----------------------------------------------------------- batch queries

# per-worker-process decode cache for broadcast sketch states, keyed by a
# driver-generated token captured in the UDF closure (worker-side
# Broadcast objects expose no stable id). Without it every Arrow batch
# re-ran sketch_from_bytes — for a SmallCuckoo (full combinadic bitstream
# decode) or a multi-MB Bloom that decode dominates the probe. Small LRU
# so long-lived workers probing many different states stay bounded.
# Probes only ever READ the cached sketch (contains_hashes/query_hashes).
from collections import OrderedDict

_BC_SKETCH_CACHE: OrderedDict = OrderedDict()
_BC_SKETCH_CACHE_MAX = 8


def _cached_sketch(token: str, bc):
    sk = _BC_SKETCH_CACHE.get(token)
    if sk is None:
        sk = _BC_SKETCH_CACHE[token] = sketch_from_bytes(bc.value)
        while len(_BC_SKETCH_CACHE) > _BC_SKETCH_CACHE_MAX:
            _BC_SKETCH_CACHE.popitem(last=False)
    else:
        _BC_SKETCH_CACHE.move_to_end(token)
    return sk


def batch_contains(
    keys_df: DataFrame,
    key_cols: list[str],
    state,
    out_col: str = "member",
    hashed: bool = False,
) -> DataFrame:
    """Membership for every row of keys_df against a broadcast Bloom or
    cuckoo state: JVM xxhash64 on the keys, vectorized probe in a pandas
    UDF — no per-row Python, no shuffle. ``hashed=True`` declares that
    ``key_cols`` is a single column ALREADY holding xxhash64 item hashes
    (e.g. a precomputed content-hash column shared with the filter's
    update path), skipping the re-hash."""
    blob = _state_blob(
        state, "batch_contains", {codec.KIND_BLOOM: "Bloom", codec.KIND_CUCKOO: "cuckoo"}
    )
    bc = keys_df.sparkSession.sparkContext.broadcast(blob)

    token = uuid.uuid4().hex  # stable across closure pickling

    @F.pandas_udf("boolean")
    def probe(h: pd.Series) -> pd.Series:
        sk = _cached_sketch(token, bc)  # decode once per worker, not per batch
        hs = h.to_numpy(dtype=np.int64).view(np.uint64)
        return pd.Series(sk.contains_hashes(hs))

    if hashed:
        if len(key_cols) != 1:
            raise ValueError("hashed=True takes exactly one hash column")
        return keys_df.withColumn(out_col, probe(F.col(key_cols[0])))
    return keys_df.withColumn(out_col, probe(F.xxhash64(*key_cols)))


def batch_query_counts(keys_df: DataFrame, key_cols: list[str], state, out_col: str = "est_count") -> DataFrame:
    """CMS (or Misra-Gries lower-bound) point-frequency estimates for
    every row of keys_df (both expose the same vectorized
    ``query_hashes`` contract)."""
    blob = _state_blob(
        state, "batch_query_counts", {codec.KIND_CMS: "count-min", codec.KIND_MG: "Misra-Gries"}
    )
    bc = keys_df.sparkSession.sparkContext.broadcast(blob)

    token = uuid.uuid4().hex  # stable across closure pickling

    @F.pandas_udf("long")
    def probe(h: pd.Series) -> pd.Series:
        sk = _cached_sketch(token, bc)  # decode once per worker, not per batch
        hs = h.to_numpy(dtype=np.int64).view(np.uint64)
        return pd.Series(sk.query_hashes(hs).astype(np.int64))

    return keys_df.withColumn(out_col, probe(F.xxhash64(*key_cols)))
