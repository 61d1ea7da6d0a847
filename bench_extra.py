#!/usr/bin/env python
"""Measurement harness for the bench.py queries that perfbench does not
run: text dedup and cleaning, the embedding similarity operators and the
lineitem fused build. Each target times its query with sub-stage
timings + noop sinks and can capture .explain("formatted") for plan
evidence. Does NOT replace bench.py (the frozen driver contract). The
grouped, rollup, fused-transcript and membership-probe queries are
covered by perfbench's traced runs (scan, Arrow transfer and exchange
layers per operator): ``python perfbench/run.py --workload <name>
--seed 1 --seconds 15 --trace 1``.

Usage: python bench_extra.py <target> [<target> ...]
Targets: simhash clean clean_map cosine ivf lineitem all
Env: PJS_PLANS=1 to also write explain files, into PJS_PLANDIR
     (default plans/r06).
"""

from __future__ import annotations

import os
import sys
import time
from contextlib import contextmanager

REPO = os.path.dirname(os.path.abspath(__file__))
sys.path.insert(0, REPO)

SF_DIR = os.environ.get("SPARK_GRAFT_SF_DIR", "/root/testdata/sf0.1")
CPUS = int(os.environ.get("SPARK_GRAFT_CPUS", "32"))
CACHE = os.path.join(REPO, ".bench_cache")
N_CONVS = int(os.environ.get("PJS_BENCH_CONVS", "20000000"))
PLANDIR = os.environ.get("PJS_PLANDIR", "")

TIMES: dict[str, float] = {}


@contextmanager
def timed(label: str, spark=None):
    if spark is not None:
        spark.sparkContext.setJobDescription(label)
    t0 = time.perf_counter()
    yield
    dt = time.perf_counter() - t0
    TIMES[label] = round(dt, 3)
    print(f"    {label}: {dt:.3f}s", file=sys.stderr, flush=True)
    if spark is not None:
        spark.sparkContext.setJobDescription(None)


def noop(df):
    df.write.format("noop").mode("overwrite").save()


def _explain_mode(df):
    sc = df.sparkSession.sparkContext
    jvm = sc._jvm
    return jvm.org.apache.spark.sql.execution.ExplainMode.fromString("formatted")


def plan_text(df) -> str:
    return df._jdf.queryExecution().explainString(_explain_mode(df))


def write_plan(df, name: str):
    d = os.path.join(REPO, PLANDIR or "plans/r06")
    os.makedirs(d, exist_ok=True)
    with open(os.path.join(d, name), "w") as f:
        f.write(plan_text(df))
    print(f"    plan -> {name}", file=sys.stderr)


def make_session(cores: int = CPUS):
    from pyspark.sql import SparkSession

    from probably_jl_spark.conf import apply_conf, sketch_build_conf

    builder = (
        SparkSession.builder.master(f"local[{cores}]")
        .appName(f"pjs-bench-extra-{cores}")
        .config("spark.ui.enabled", "false")
        .config("spark.driver.memory", "24g")
    )
    spark = apply_conf(builder, sketch_build_conf("local", cores=cores)).getOrCreate()
    spark.sparkContext.setLogLevel("ERROR")
    return spark


def tr_df(spark):
    return spark.read.parquet(os.path.join(CACHE, f"transcripts_{N_CONVS}"))


def docs_df(spark):
    from pyspark.sql import functions as F

    tr = tr_df(spark)
    doc_mod = max(1, N_CONVS // 5_000_000)
    return tr.filter(
        f"turn_idx = 0 AND pmod(xxhash64(conv_id), {doc_mod}) = 0"
    ).select(F.xxhash64("conv_id").alias("doc_id"), "text")


def t_simhash(spark, plans=False):
    from probably_jl_spark.operators.dedup import simhash
    from probably_jl_spark.functions.text import tokens
    from pyspark.sql import functions as F

    docs = docs_df(spark)
    with timed("simhash.docs_count_warm", spark):
        docs.count()
    # sub-stage: JVM tokenize+explode+hash only
    tok = docs.select(F.col("doc_id"), F.explode(tokens("text")).alias("__tok")).select(
        F.col("doc_id"), F.xxhash64("__tok").alias("__h")
    )
    with timed("simhash.jvm_tokenize_hash_noop", spark):
        noop(tok)
    out = simhash(docs)
    if plans:
        write_plan(out, "simhash_docs_after.txt")
    with timed("simhash.full_count", spark):
        out.count()
    with timed("simhash.full_count_2", spark):
        out.count()


def t_clean(spark, plans=False):
    from probably_jl_spark.functions.text import clean_corpus, token_count, quality_milliscore
    from pyspark.sql import functions as F

    docs = docs_df(spark)
    with timed("clean.docs_count_warm", spark):
        docs.count()
    with timed("clean.scan_only_noop", spark):
        noop(docs)
    stats = docs.withColumn("n_tokens", token_count("text")).withColumn(
        "quality_milli", quality_milliscore("text")
    )
    with timed("clean.stats_noop", spark):
        noop(stats)
    kept = stats.filter(
        (F.col("n_tokens") >= 3) & (F.col("n_tokens") <= 1_000_000)
        & (F.col("quality_milli") >= 200)
    )
    with timed("clean.kept_noop", spark):
        noop(kept)
    out = clean_corpus(docs, min_tokens=3, min_quality_milli=200)
    if plans:
        write_plan(out, "clean_corpus_docs_after.txt")
    with timed("clean.full_count", spark):
        n = out.count()
    print(f"    kept={n}", file=sys.stderr)


def t_clean_map(spark, plans=False):
    from probably_jl_spark.functions.text import clean_corpus

    docs = docs_df(spark)
    docs.count()
    out = clean_corpus(docs, min_tokens=3, min_quality_milli=200, dedup="map")
    if plans:
        write_plan(out, "clean_corpus_map_docs_after.txt")
    with timed("clean_map.full_count", spark):
        n = out.count()
    print(f"    kept={n}", file=sys.stderr)


def emb_df(spark, n_vecs):
    from pyspark.sql import functions as F

    return (
        spark.range(n_vecs)
        .select(
            F.col("id").alias("vec_id"),
            F.expr(
                "transform(sequence(0, 63), "
                "j -> cast(xxhash64(id, j) as float) / cast(9.3e18 as float))"
            ).alias("embedding"),
        )
        .cache()
    )


def t_cosine(spark, plans=False):
    from pyspark.sql import functions as F

    from probably_jl_spark.operators.similarity import cosine_near_dup_pairs

    n_vecs = 500_000
    emb = emb_df(spark, n_vecs)
    emb.count()
    dups = emb.filter("pmod(vec_id, 100) = 0").select(
        (F.col("vec_id") + n_vecs).alias("vec_id"), "embedding"
    )
    near_corpus = emb.unionByName(dups)
    with timed("cosine_near_dup_500k", spark):
        out = cosine_near_dup_pairs(
            near_corpus, threshold=0.95, dim=64, n_planes=18,
            n_tables=12, max_bucket_size=1000, corpus_size=n_vecs + n_vecs // 100,
        )
        n = out.count()
    print(f"    pairs={n}", file=sys.stderr)
    if plans:
        write_plan(out, "cosine_near_dup_after.txt")
    emb.unpersist()


def t_ivf(spark, plans=False):
    from probably_jl_spark.operators.similarity import ann_topk_ivf

    emb = emb_df(spark, 500_000)
    emb.count()
    ivf_q = emb.filter("vec_id < 32")
    out = ann_topk_ivf(emb, ivf_q, dim=64, k=10, n_centroids=64, nprobe=8)
    if plans:
        write_plan(out, "ann_ivf_after.txt")
    with timed("ann_ivf_topk_32q", spark):
        n = out.count()
    with timed("ann_ivf_topk_32q_2", spark):
        out2 = ann_topk_ivf(emb, ivf_q, dim=64, k=10, n_centroids=64, nprobe=8)
        out2.count()
    print(f"    rows={n}", file=sys.stderr)
    emb.unpersist()


def t_lineitem(spark, plans=False):
    from probably_jl_spark.operators.build import sketch_table
    from probably_jl_spark.operators.specs import SketchSpec

    li = spark.read.parquet(f"{SF_DIR}/lineitem.parquet")
    li.count()
    for i in range(2):
        with timed(f"fused_lineitem.{i}", spark):
            sketch_table(
                li,
                [
                    SketchSpec("orders", "hll", key_cols=("l_orderkey",)),
                    SketchSpec("parts", "hll", key_cols=("l_partkey", "l_suppkey")),
                    SketchSpec("flags", "cms", key_cols=("l_returnflag", "l_linestatus"), params={"width": 4096, "depth": 5}),
                    SketchSpec("part_member", "bloom", key_cols=("l_partkey",), params={"m": 1 << 21, "k": 5}),
                    SketchSpec("price_td", "tdigest", value_col="l_extendedprice"),
                    SketchSpec("qty_kll", "kll", value_col="l_quantity"),
                ],
            )


TARGETS = {
    "simhash": t_simhash,
    "clean": t_clean,
    "clean_map": t_clean_map,
    "cosine": t_cosine,
    "ivf": t_ivf,
    "lineitem": t_lineitem,
}


if __name__ == "__main__":
    args = sys.argv[1:] or ["all"]
    plans = os.environ.get("PJS_PLANS", "") == "1"
    names = list(TARGETS) if args == ["all"] else args
    spark = make_session(CPUS)
    import json

    for nm in names:
        print(f"== {nm}", file=sys.stderr, flush=True)
        TARGETS[nm](spark, plans=plans)
    print(json.dumps(TIMES))
