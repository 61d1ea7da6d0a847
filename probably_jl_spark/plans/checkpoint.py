"""Checkpoint-resumable sketch build with per-bucket lineage + metrics
(north_rule; SURVEY.md §2.6 sink / §4.2 checkpoint convention).

The input is split into ``n_buckets`` deterministic hash buckets
(``pmod(xxhash64(bucket_cols, seed), n_buckets)``). Each run:

1. reads the checkpoint table (parquet dir) and collects finished bucket
   ids;
2. processes **only the missing buckets** in a single Spark job
   (filter pushes into the scan; one shuffle of *states* on the bucket id);
3. appends one state row per bucket — bucket id, n_rows, build_ms,
   serialized state per spec, attempt id — the per-partition lineage;
4. merges all bucket rows into the final sketches with a deterministic
   two-level tree: executor-side per-group merges in ascending-bucket
   order (``pmod(bucket, G)`` groups), then a driver fold over the G
   group states in group order. The driver never sees per-bucket *state
   blobs* — it receives G ≈ 64 merged rows plus the per-bucket lineage
   scalars (bucket id, n_rows, attempt), capped at ``_LINEAGE_LIMIT``
   entries in the metrics (VERDICT r01 "What's wrong #5").

Because every sketch merge is associative, the per-bucket build is
deterministic (hash contract + counter-based randomness), and the merge
order is a fixed function of bucket ids (NOT of file/partition layout),
a resumed run produces **byte-identical** final states to an
uninterrupted one — including merge-order-sensitive kinds (t-digest,
KLL, cuckoo), per ADVICE r01. The law is tested in tests/test_checkpoint.

The manifest guarding against config drift goes through the Hadoop
FileSystem API, so ``ckpt_dir`` may be any Hadoop-supported URI
(file:, hdfs:, s3a:, ...) — not just a local path.
"""

from __future__ import annotations

import json
import time
import uuid

import pandas as pd
from pyspark.sql import DataFrame, SparkSession, Window
from pyspark.sql import functions as F

from ..operators.build import BuildResult
from ..operators.grouped import _ORD_COL, _grouped_schema, _merge_groups, _named, grouped_sketch
from ..operators.specs import SketchSpec, merge_blobs, sketch_from_bytes

BUCKET_COL = "__bucket"
_GRP_COL = "__grp"
# executor-side merge groups G of the two-level merge (fewer when there
# are fewer buckets), and the cap on per-bucket lineage rows collected
# into the metrics
_MERGE_GROUPS = 64
_LINEAGE_LIMIT = 10_000


class CheckpointedSketchBuild:
    def __init__(
        self,
        spark: SparkSession,
        specs: list[SketchSpec],
        ckpt_dir: str,
        n_buckets: int = 64,
        bucket_cols: tuple[str, ...] = ("conv_id",),
        seed: int = 0xC0DE,
    ):
        self.spark = spark
        self.specs = specs
        self.ckpt_dir = ckpt_dir
        self.n_buckets = n_buckets
        self.bucket_cols = bucket_cols
        self.seed = seed
        self.merge_groups = max(1, min(_MERGE_GROUPS, n_buckets))

    # ------------------------------------------------------------ state
    def _read_ckpt_eager(self, materialize):
        """Run ``materialize(df)`` on the state table under a tiny columnar
        batch size: state rows are MBs each (a 2^26-bit Bloom is 8 MB), and
        the default 4096-row vectorized-reader batch tries to reserve
        rows x size bytes of heap at once (observed OOM at the 1 GB default
        driver heap via spark-submit). The conf must stay small until the
        *action* runs — reads are lazy — hence the eager wrapper."""
        key = "spark.sql.parquet.columnarReaderBatchSize"
        prev = self.spark.conf.get(key, None)
        self.spark.conf.set(key, "8")
        try:
            return materialize(self.spark.read.parquet(self.ckpt_dir))
        finally:
            if prev is None:
                self.spark.conf.unset(key)
            else:
                self.spark.conf.set(key, prev)

    def done_buckets(self) -> set[int]:
        try:
            rows = self._read_ckpt_eager(
                lambda df: df.select(BUCKET_COL).distinct().collect()
            )
        except Exception:
            return set()
        return {r[BUCKET_COL] for r in rows}

    def _with_bucket(self, df: DataFrame) -> DataFrame:
        return df.withColumn(
            BUCKET_COL,
            F.pmod(F.xxhash64(*self.bucket_cols, F.lit(self.seed)), F.lit(self.n_buckets)),
        )

    # ------------------------------------------------------------ merge
    def _dedup(self, df: DataFrame) -> DataFrame:
        """One row per bucket from possibly re-appended attempts
        (concurrent/retried runs): non-empty rows outrank empty markers,
        then first attempt wins — real states are deterministic, so any
        non-empty attempt carries the same bytes."""
        w = Window.partitionBy(BUCKET_COL).orderBy(
            (F.col("n_rows") == 0).cast("int").asc(), F.col("attempt").asc()
        )
        return df.withColumn("__rn", F.row_number().over(w)).filter(F.col("__rn") == 1).drop("__rn")

    def _merge_all(self, deduped: DataFrame) -> tuple[dict, int]:
        """Deterministic two-level merge: per-group executor merges in
        ascending bucket order (the grouped build's ordered per-key merge,
        with the bucket id as its order key), then a driver fold in group
        order."""
        by_group = deduped.select(
            F.pmod(F.col(BUCKET_COL), F.lit(self.merge_groups)).alias(_GRP_COL),
            F.col(BUCKET_COL).alias(_ORD_COL),
            "n_rows",
            *[s.state_col for s in self.specs],
        )
        grouped = by_group.groupBy(_GRP_COL).applyInPandas(
            _named(_merge_groups(self.specs, [_GRP_COL], with_ord=False), "checkpoint_merge"),
            schema=_grouped_schema(by_group, [_GRP_COL], self.specs),
        )
        rows = sorted(grouped.collect(), key=lambda r: r[_GRP_COL])
        sketches = {}
        for s in self.specs:
            acc = None
            for r in rows:
                acc = merge_blobs(acc, bytes(r[s.state_col]))
            sketches[s.name] = sketch_from_bytes(acc)
        n_rows = sum(r["n_rows"] for r in rows)
        return sketches, n_rows

    # -------------------------------------------------------------- run
    def run(self, df: DataFrame, limit_buckets: set[int] | None = None) -> BuildResult:
        """Process missing buckets (optionally capped to ``limit_buckets``
        to simulate/control partial progress), append their state rows,
        then merge everything finished so far."""
        t0 = time.perf_counter()
        self._check_manifest()
        done = self.done_buckets()
        missing = set(range(self.n_buckets)) - done
        if limit_buckets is not None:
            missing &= set(limit_buckets)

        built_now = 0
        if missing:
            bucketed = self._with_bucket(df).filter(
                F.col(BUCKET_COL).isin([int(b) for b in missing])
            )
            # persist the per-bucket STATE rows (<= n_buckets small rows):
            # the write populates the cache, and `produced` below reads
            # the cached result instead of a second full source scan
            # (code-review r5 — resume paid 2x source I/O)
            # pre_partial pinned: bucket keys are coarse by construction,
            # so the map-side-partial shape is always right here and the
            # default's cardinality-sample job is skipped
            per_bucket = grouped_sketch(
                bucketed, [BUCKET_COL], self.specs, pre_partial=True
            ).persist()
            try:
                attempt = uuid.uuid4().hex[:12]
                out = per_bucket.withColumn("attempt", F.lit(attempt))
                out.write.mode("append").parquet(self.ckpt_dir)
                # groupBy drops empty buckets: mark them done with empty
                # states. Derive which buckets actually had rows from the
                # COMPUTED result (cached above), not from reading the
                # checkpoint back — a transient read error there must not
                # spawn empty markers shadowing real rows.
                produced = {
                    r[BUCKET_COL] for r in per_bucket.select(BUCKET_COL).collect()
                }
            finally:
                per_bucket.unpersist()
            empty = sorted(missing - produced)
            if empty:
                rows = []
                for b in empty:
                    row = {BUCKET_COL: b, "n_rows": 0, "attempt": attempt}
                    for s in self.specs:
                        row[s.state_col] = s.new().to_bytes()
                    rows.append(row)
                self.spark.createDataFrame(pd.DataFrame(rows)).write.mode("append").parquet(
                    self.ckpt_dir
                )
            built_now = len(missing)

        # ------------------------------------------------------- merge
        def materialize(ckpt: DataFrame):
            deduped = self._dedup(ckpt)
            # lineage scalars only (no state blobs), capped for the driver
            lineage = [
                {BUCKET_COL: r[BUCKET_COL], "n_rows": r["n_rows"], "attempt": r["attempt"]}
                for r in deduped.select(BUCKET_COL, "n_rows", "attempt")
                .orderBy(BUCKET_COL)
                .limit(_LINEAGE_LIMIT)
                .collect()
            ]
            # the separate count() action is only needed when the cap hid rows
            done_count = (
                len(lineage) if len(lineage) < _LINEAGE_LIMIT else deduped.count()
            )
            sketches, n_rows = self._merge_all(deduped)
            return sketches, n_rows, lineage, done_count

        sketches, n_rows, lineage, done_count = self._read_ckpt_eager(materialize)
        wall = time.perf_counter() - t0
        metrics = {
            "n_rows": n_rows,
            "wall_sec": wall,
            "buckets_total": self.n_buckets,
            "buckets_done": done_count,
            "buckets_built_this_run": built_now,
            "lineage": lineage,
            "lineage_truncated": done_count > len(lineage),
        }
        return BuildResult(sketches=sketches, n_rows=n_rows, metrics=metrics)

    def is_complete(self) -> bool:
        return len(self.done_buckets()) >= self.n_buckets

    # --------------------------------------------------------- manifest
    def _manifest_fs_path(self):
        jvm = self.spark._jvm
        path = jvm.org.apache.hadoop.fs.Path(self.ckpt_dir, "_build_manifest.json")
        fs = path.getFileSystem(self.spark._jsc.hadoopConfiguration())
        return fs, path

    def _check_manifest(self) -> None:
        """A checkpoint dir is bound to one build config: resuming with a
        different bucketing/spec set would silently double-count rows, so
        it's a hard error instead. Uses the Hadoop FileSystem API so the
        dir may live on any object store (file:/hdfs:/s3a:/...)."""
        config = {
            "n_buckets": self.n_buckets,
            "bucket_cols": list(self.bucket_cols),
            "seed": self.seed,
            "specs": sorted(s.name for s in self.specs),
        }
        fs, path = self._manifest_fs_path()
        if fs.exists(path):
            stream = fs.open(path)
            try:
                data = self.spark._jvm.org.apache.commons.io.IOUtils.toString(
                    stream, "UTF-8"
                )
            finally:
                stream.close()
            existing = json.loads(data)
            if existing != config:
                raise ValueError(
                    f"checkpoint dir {self.ckpt_dir} was built with config "
                    f"{existing}, cannot resume with {config}"
                )
        else:
            fs.mkdirs(path.getParent())
            stream = fs.create(path, True)
            try:
                stream.write(json.dumps(config).encode("utf-8"))
            finally:
                stream.close()
