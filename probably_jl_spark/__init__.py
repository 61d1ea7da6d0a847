"""probably_jl_spark — a PySpark-native distributed sketch / approximate-
aggregation library: mergeable HyperLogLog, count-min, Bloom, cuckoo,
t-digest, KLL, KMV (theta-style set ops) and Misra-Gries states built inside vectorized Arrow UDFs over transcript
tables, merged treeReduce-style. See SURVEY.md / README.md."""

from .operators.build import BuildResult, build_partials, sketch_table, tree_merge
from .operators.grouped import grouped_sketch
from .operators.specs import SketchSpec, merge_blobs, sketch_from_bytes
from .sketches.bloom import BloomFilter, constrain_bloom
from .sketches.cms import CountMinSketch, params_from_error
from .sketches.cuckoo import CuckooFilter, CuckooOverflowError, constrain_cuckoo
from .sketches.hll import HyperLogLog
from .sketches.kll import KLL
from .sketches.kmv import KMV
from .sketches.mg import MisraGries
from .sketches.tdigest import TDigest

from ._worker import install as _install_worker_gate

# Unpickling any library UDF imports this package, so this call reaches
# every PySpark worker that runs library code; on the driver it is a no-op.
_install_worker_gate()

__version__ = "0.1.0"

__all__ = [
    "BloomFilter", "BuildResult", "CountMinSketch", "CuckooFilter",
    "CuckooOverflowError",
    "HyperLogLog", "KLL", "KMV", "MisraGries", "SketchSpec", "TDigest", "build_partials",
    "constrain_bloom", "constrain_cuckoo", "grouped_sketch", "merge_blobs",
    "params_from_error", "sketch_from_bytes", "sketch_table", "tree_merge",
]
