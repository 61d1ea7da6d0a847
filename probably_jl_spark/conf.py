"""Recommended Spark configuration for sketch builds at cluster scale.

``sketch_build_conf(scale)`` returns the config dict we'd pass to
spark-submit for a 100 TB / 10^12-turn build, with the reasoning encoded
next to each knob. ``apply_conf(builder, conf)`` chains them onto a
SparkSession.Builder. Local tests/bench use the same function with
scale="local" so the two paths never drift.
"""

from __future__ import annotations


def sketch_build_conf(scale: str = "cluster", cores: int = 32) -> dict[str, str]:
    common = {
        # Arrow batches are the unit of numpy work: 64k rows amortizes
        # Python dispatch without blowing executor memory (~16B/row of
        # hashed cols => ~1MB per in-flight batch per spec set).
        "spark.sql.execution.arrow.maxRecordsPerBatch": "65536",
        # Spark 4 defaults maxBytesPerBatch to 64MB, which makes the
        # Python runner call ArrowWriter.sizeInBytes() — a full
        # vector-tree traversal — PER INPUT ROW; INT_MAX short-circuits
        # the check entirely (BatchedPythonArrowInput.underSizeLimit).
        # Measured r6: 2.7x on a raw 77M-row transfer, and it removes a
        # session-wide 4x JIT-profile-pollution slowdown of every later
        # Python stage after a mixed-type grouped build. Safe here
        # because maxRecordsPerBatch=65536 already bounds our batches
        # (narrow hashed/text rows, ~2-20MB); pipelines shipping MB-scale
        # binary cells (multimodal payloads) should lower
        # maxRecordsPerBatch or restore a finite maxBytesPerBatch.
        "spark.sql.execution.arrow.maxBytesPerBatch": "2147483647",
        "spark.sql.execution.arrow.pyspark.enabled": "true",
        # AQE: coalesces the tiny state shuffles and splits skewed joins
        # (LSH band buckets) at runtime.
        "spark.sql.adaptive.enabled": "true",
        "spark.sql.adaptive.coalescePartitions.enabled": "true",
        "spark.sql.adaptive.skewJoin.enabled": "true",
        # let AQE convert sort-merge joins to broadcast when the RUNTIME
        # size of a side lands under 128MB (the static 10MB threshold
        # only sees estimates, which are useless after filters/aggs —
        # guide §3.1). Scale-safe by construction: the decision uses the
        # actual materialized stage size, so a keep-id set that is 40MB
        # at 5M docs broadcasts (clean_corpus map-mode semi join drops
        # its full-row exchange+sort) while the same query at 10^10 docs
        # stays a shuffle join. 128MB ~ a few seconds of executor-memory
        # and network per executor; raise/lower per fleet memory.
        "spark.sql.adaptive.autoBroadcastJoinThreshold": "128m",
        # deterministic oracle comparisons (duckdb is UTC-naive)
        "spark.sql.session.timeZone": "UTC",
        # filters must reach the parquet/Iceberg scan (PLANS.md §1)
        "spark.sql.parquet.filterPushdown": "true",
        # python worker reuse: sketch builds pay module import once
        "spark.python.worker.reuse": "true",
    }
    if scale == "local":
        return common | {
            "spark.sql.shuffle.partitions": str(cores),
            # 64m splits (guide §6/§2.2: fewer map tasks, fewer shuffle
            # blocks). Re-measured r6 after the Arrow per-row-check fix
            # shifted the balance from per-row to per-task costs — the
            # 77M-turn fused build at local[8]: 32m 9.7s, 64m 7.1s, 128m
            # 5.4s, 256m 6.2s. 128m is NOT used despite being fastest
            # per-query: it shrinks the scaling fixture's wide cluster
            # leg to ~6.5s against a measured ~1.7s fixed per-job cost
            # (tiny-input probe), so the 2-vs-8-executor efficiency
            # ratio reads ~0.75 — a fixture-floor artifact, but the
            # bench was designed for a >10s wide leg. 64m keeps the leg
            # above the floor (min-based efficiency ~0.80-0.83 measured)
            # while taking most of the per-task-overhead win. The
            # cluster profile below stays at 128m, where hours-long jobs
            # drown the fixed cost. The ~1.7s was measured while every
            # Python task re-read Spark's zip archives (0.1-0.25s of CPU
            # each, now gated in _worker.py); the scaling leg's Amdahl
            # fit (ROADMAP D1) should re-measure it before this value is
            # revisited.
            "spark.sql.files.maxPartitionBytes": "64m",
            "spark.driver.memory": "16g",
        }
    # cluster: sized for ~1000 executors x 4 cores over ~100 TB parquet
    return common | {
        # ~128MB splits => ~800k tasks over 100TB; enough parallelism for
        # 4k cores without scheduler overload. Partial states are one row
        # per task => treeReduce depth 4 merges 800k states in 4 waves.
        "spark.sql.files.maxPartitionBytes": "134217728",
        # state shuffles (grouped sketches) are tiny; row shuffles (salted
        # stage 1) want ~2-3x cores
        "spark.sql.shuffle.partitions": "8192",
        # each task holds one sketch set (~10-600MB depending on Bloom m)
        # + Arrow batches; leave headroom for the python worker
        "spark.executor.memory": "16g",
        "spark.executor.memoryOverhead": "4g",
        "spark.python.worker.memory": "2g",
        # big Bloom states (2^30 bits = 128MB) serialize through the
        # treeReduce: raise frame sizes accordingly
        "spark.rpc.message.maxSize": "512",
        "spark.driver.maxResultSize": "4g",
    }


def apply_conf(builder, conf: dict[str, str]):
    for k, v in conf.items():
        builder = builder.config(k, v)
    return builder


def iceberg_conf(
    catalog: str = "lake",
    warehouse: str = "s3://example-bucket/warehouse",  # caller-supplied in any real deployment
    catalog_impl: str = "org.apache.iceberg.spark.SparkCatalog",
    catalog_type: str = "glue",
) -> dict[str, str]:
    """Standard Iceberg catalog wiring for the production transcripts table
    (spark.read.table(f"{catalog}.db.transcripts")). Requires the
    iceberg-spark-runtime jar on the cluster (not present in this sandbox —
    local tests read parquet with the identical schema, see
    sources/transcripts.py). Partition spec recommendation for 10^12 turns:
    days(ts) + bucket(1024, conv_id) so scans prune by time and the
    checkpoint build's conv_id buckets align with file layout."""
    return {
        "spark.sql.extensions": (
            "org.apache.iceberg.spark.extensions.IcebergSparkSessionExtensions"
        ),
        f"spark.sql.catalog.{catalog}": catalog_impl,
        f"spark.sql.catalog.{catalog}.type": catalog_type,
        f"spark.sql.catalog.{catalog}.warehouse": warehouse,
    }
