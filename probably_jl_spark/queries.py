"""Driver-contract queries (SURVEY.md §5.2 item 5).

Every sketch operation is exposed as a (spark, sf_dir) -> DataFrame query
whose output is **self-verifying**: the Spark side computes the exact
answer (cheap at sf0.01) *and* the sketch estimate, and emits the exact
values plus boolean bound-check columns. The DuckDB oracle computes the
same exact values and literal TRUE for the bound columns — so the
driver's row/schema/value-hash comparison passes iff the sketch estimate
actually landed within its published bound. This is the strongest check
an approximate operator can offer an exact-SQL oracle.

Column types are chosen hash-stably: BIGINT for counts, BOOLEAN for bound
checks, STRING for quantile labels (no float-representation hazards).
"""

from __future__ import annotations

import math

import numpy as np
from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F

from .functions import batch_contains
from .operators.build import sketch_table
from .operators.grouped import grouped_sketch
from .operators.specs import SketchSpec, sketch_from_bytes
from .sources.transcripts import events_as_transcripts, with_latency

QS = ["0.01", "0.1", "0.25", "0.5", "0.75", "0.9", "0.99"]

HLL_BOUND = 3 * 1.04 / math.sqrt(2**14)  # 3 sigma at p=14


def _t(spark: SparkSession, sf_dir: str, name: str) -> DataFrame:
    return spark.read.parquet(f"{sf_dir}/{name}.parquet")


def _bool_row(spark: SparkSession, **cols) -> DataFrame:
    names = list(cols)
    row = [tuple(cols[n] for n in names)]
    schema = ", ".join(
        f"{n} {'boolean' if isinstance(cols[n], bool) else 'bigint'}" for n in names
    )
    return spark.createDataFrame(row, schema)


# --------------------------------------------------------------- HLL


def hll_distinct_users(spark: SparkSession, sf_dir: str) -> DataFrame:
    ev = _t(spark, sf_dir, "events")
    res = sketch_table(ev, [SketchSpec("u", "hll", key_cols=("user_id",))])
    est = res.sketches["u"].cardinality()
    exact = ev.select("user_id").distinct().count()
    ok = abs(est - exact) / max(exact, 1) <= HLL_BOUND
    return _bool_row(spark, exact_distinct=exact, hll_within_bound=ok)


def hll_distinct_user_type(spark: SparkSession, sf_dir: str) -> DataFrame:
    ev = _t(spark, sf_dir, "events")
    res = sketch_table(ev, [SketchSpec("ut", "hll", key_cols=("user_id", "event_type"))])
    est = res.sketches["ut"].cardinality()
    exact = ev.select("user_id", "event_type").distinct().count()
    ok = abs(est - exact) / max(exact, 1) <= HLL_BOUND
    return _bool_row(spark, exact_distinct=exact, hll_within_bound=ok)


def hll_distinct_custkey(spark: SparkSession, sf_dir: str) -> DataFrame:
    o = _t(spark, sf_dir, "orders")
    res = sketch_table(o, [SketchSpec("c", "hll", key_cols=("o_custkey",))])
    est = res.sketches["c"].cardinality()
    exact = o.select("o_custkey").distinct().count()
    ok = abs(est - exact) / max(exact, 1) <= HLL_BOUND
    return _bool_row(spark, exact_distinct=exact, hll_within_bound=ok)


def hll_grouped_users_by_type(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Per-group HLL: distinct users per event_type."""
    ev = _t(spark, sf_dir, "events")
    states = grouped_sketch(
        ev, ["event_type"], [SketchSpec("u", "hll", key_cols=("user_id",))]
    ).toPandas()
    exact = {
        r["event_type"]: r["n"]
        for r in ev.groupBy("event_type").agg(F.countDistinct("user_id").alias("n")).collect()
    }
    rows = []
    for _, r in states.iterrows():
        est = sketch_from_bytes(r["state_u"]).cardinality()
        n = exact[r["event_type"]]
        rows.append((r["event_type"], int(n), abs(est - n) / max(n, 1) <= HLL_BOUND))
    return spark.createDataFrame(
        rows, "event_type string, exact_distinct bigint, hll_within_bound boolean"
    )


def hll_grouped_orders_by_supplier(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Streaming grouped build over a key whose cardinality scales with SF
    (one group per supplier): distinct orders per l_suppkey. Exercises the
    partition-local partial-state path — no row shuffle, states only
    (operators/grouped.py)."""
    li = _t(spark, sf_dir, "lineitem")
    states = grouped_sketch(
        li, ["l_suppkey"], [SketchSpec("o", "hll", key_cols=("l_orderkey",))]
    ).toPandas()
    exact = {
        r["l_suppkey"]: r["n"]
        for r in li.groupBy("l_suppkey").agg(F.countDistinct("l_orderkey").alias("n")).collect()
    }
    rows = []
    for _, r in states.iterrows():
        est = sketch_from_bytes(r["state_o"]).cardinality()
        n = exact[r["l_suppkey"]]
        rows.append((int(r["l_suppkey"]), int(n), abs(est - n) / max(n, 1) <= HLL_BOUND))
    return spark.createDataFrame(
        rows, "l_suppkey bigint, exact_distinct bigint, hll_within_bound boolean"
    )


def hll_grouped_parts_by_order(spark: SparkSession, sf_dir: str) -> DataFrame:
    """High-cardinality grouped build — one group per l_orderkey (~15k at
    sf0.01, scales with SF): distinct parts per order. Exercises the
    all-HLL vectorized routes (deferred-coded packed build,
    operators/grouped.py::_row_builder; the partial route merges with
    rollup's streaming state fold, operators/rollup.py::_rollup_builder)
    where output rows ~ input rows / 4. Gate: per-group estimates within
    max(2, 3sigma*n) of exact — at tiny per-group n the only error source
    is register collisions (P ~ n^2/2m per group), an ABSOLUTE error of 1
    per collision, so the relative 1.04/sqrt(m) bound is the wrong model
    below n ~ sqrt(m); the result is deterministic for fixed data."""
    li = _t(spark, sf_dir, "lineitem")
    states = grouped_sketch(
        li, ["l_orderkey"], [SketchSpec("pk", "hll", key_cols=("l_partkey",))]
    ).toPandas()
    exact = {
        r["l_orderkey"]: r["n"]
        for r in li.groupBy("l_orderkey").agg(F.countDistinct("l_partkey").alias("n")).collect()
    }
    rows = [
        (
            int(k),
            int(exact[k]),
            bool(
                abs(sketch_from_bytes(blob).cardinality() - exact[k])
                <= max(2.0, HLL_BOUND * exact[k])
            ),
        )
        for k, blob in zip(states["l_orderkey"], states["state_pk"])
    ]
    return spark.createDataFrame(
        rows, "l_orderkey bigint, exact_distinct bigint, hll_within_bound boolean"
    )


def kmv_grouped_parts_by_order(spark: SparkSession, sf_dir: str) -> DataFrame:
    """High-cardinality grouped KMV (vectorized (group, hash) k-min route,
    operators/grouped.py::_row_builder + _KmvKernel): distinct parts per
    l_orderkey. Per-order distinct counts sit far below k=1024, where a
    KMV sketch holds EVERY distinct hash — so the oracle demands exact
    equality of the estimates, not a bound (64-bit hash collisions are
    the only caveat, deterministic for fixed data)."""
    li = _t(spark, sf_dir, "lineitem")
    states = grouped_sketch(
        li, ["l_orderkey"], [SketchSpec("pk", "kmv", key_cols=("l_partkey",))]
    ).toPandas()
    rows = [
        (int(k), int(sketch_from_bytes(blob).cardinality()))
        for k, blob in zip(states["l_orderkey"], states["state_pk"])
    ]
    return spark.createDataFrame(rows, "l_orderkey bigint, kmv_distinct bigint")


def rollup_day_to_type(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Sketch-state rollup (operators/rollup.py): per-(event_type, day)
    HLL + KMV states of distinct users, re-merged to per-event_type with
    ``rollup_states`` — the mergeable-summaries reaggregation law
    (Agarwal et al. PODS 2012; reference merge laws, e.g.
    /root/reference/test/hyperloglog.jl:72-88, lifted to state TABLES).
    Gates: the rolled HLL estimate lands within the published bound of
    the exact per-type distinct count, AND — because HLL/KMV states are
    canonical pure set functions — the rolled states and summed n_rows
    are BYTE-identical to building the coarse states directly from rows."""
    from .operators.rollup import rollup_states

    ev = _t(spark, sf_dir, "events").withColumn("day", F.to_date("ts"))
    specs = [
        SketchSpec("u", "hll", key_cols=("user_id",)),
        SketchSpec("uk", "kmv", key_cols=("user_id",), params={"k": 256}),
    ]
    fine = grouped_sketch(ev, ["event_type", "day"], specs)
    rolled = rollup_states(fine, ["event_type"]).toPandas().set_index("event_type")
    direct = (
        grouped_sketch(ev, ["event_type"], specs).toPandas().set_index("event_type")
    )
    exact = {
        r["event_type"]: r["n"]
        for r in ev.groupBy("event_type").agg(F.countDistinct("user_id").alias("n")).collect()
    }
    rows = []
    for et in sorted(exact):
        n = int(exact[et])
        est = sketch_from_bytes(rolled.loc[et, "state_u"]).cardinality()
        rows.append(
            (
                et,
                n,
                bool(abs(est - n) / max(n, 1) <= HLL_BOUND),
                bool(
                    rolled.loc[et, "state_u"] == direct.loc[et, "state_u"]
                    and rolled.loc[et, "state_uk"] == direct.loc[et, "state_uk"]
                    and rolled.loc[et, "n_rows"] == direct.loc[et, "n_rows"]
                ),
            )
        )
    return spark.createDataFrame(
        rows,
        "event_type string, exact_distinct bigint, "
        "hll_within_bound boolean, rollup_equals_direct boolean",
    )


def hll_vs_spark_builtin(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Independent-oracle cross-check (SURVEY.md §4.2): our HLL and Spark's
    built-in approx_count_distinct (HLL++, different registers) must BOTH
    land within bound of the exact distinct count."""
    ev = _t(spark, sf_dir, "events")
    res = sketch_table(ev, [SketchSpec("u", "hll", key_cols=("user_id",))])
    ours = res.sketches["u"].cardinality()
    row = ev.agg(
        F.countDistinct("user_id").alias("exact"),
        F.approx_count_distinct("user_id", 0.01).alias("builtin"),
    ).collect()[0]
    exact = row["exact"]
    ours_ok = abs(ours - exact) / max(exact, 1) <= HLL_BOUND
    builtin_ok = abs(row["builtin"] - exact) / max(exact, 1) <= 0.05
    return _bool_row(
        spark, exact_distinct=exact, ours_within_bound=ours_ok, builtin_within_bound=builtin_ok
    )


# --------------------------------------------------------------- CMS


def cms_event_type_freq(spark: SparkSession, sf_dir: str) -> DataFrame:
    ev = _t(spark, sf_dir, "events")
    res = sketch_table(
        ev, [SketchSpec("f", "cms", key_cols=("event_type",), params={"width": 2048, "depth": 5})]
    )
    cms = res.sketches["f"]
    total = res.n_rows
    eps = 2.0 / 2048
    exact = ev.groupBy("event_type").count().collect()
    rows = [
        (
            r["event_type"],
            int(r["count"]),
            cms.query(r["event_type"]) >= r["count"],
            cms.query(r["event_type"]) <= r["count"] + eps * total,
        )
        for r in exact
    ]
    return spark.createDataFrame(
        rows, "event_type string, exact_cnt bigint, cms_ge_exact boolean, cms_within_eps boolean"
    )


def cms_returnflag_linestatus(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Composite-key CMS over the biggest table (lineitem)."""
    li = _t(spark, sf_dir, "lineitem")
    res = sketch_table(
        li,
        [SketchSpec("f", "cms", key_cols=("l_returnflag", "l_linestatus"), params={"width": 4096, "depth": 5})],
    )
    cms = res.sketches["f"]
    total = res.n_rows
    eps = 2.0 / 4096
    from .sketches.hashing import xxhash64_cols

    exact = li.groupBy("l_returnflag", "l_linestatus").count().collect()
    rows = []
    for r in exact:
        h = xxhash64_cols(r["l_returnflag"], r["l_linestatus"])
        est = int(cms.query_hashes(np.array([h], dtype=np.uint64))[0])
        rows.append(
            (r["l_returnflag"], r["l_linestatus"], int(r["count"]), est >= r["count"], est <= r["count"] + eps * total)
        )
    return spark.createDataFrame(
        rows,
        "l_returnflag string, l_linestatus string, exact_cnt bigint, "
        "cms_ge_exact boolean, cms_within_eps boolean",
    )


# ------------------------------------------------------------ membership


def bloom_membership_users(spark: SparkSession, sf_dir: str) -> DataFrame:
    ev = _t(spark, sf_dir, "events")
    res = sketch_table(ev, [SketchSpec("m", "bloom", key_cols=("user_id",), params={"m": 1 << 18, "k": 5})])
    bloom = res.sketches["m"]
    present = ev.select("user_id").distinct()
    n_present = present.count()
    missed = batch_contains(present, ["user_id"], bloom).filter(~F.col("member")).count()
    # disjoint absent probe set: ids far above the data range
    absent = spark.range(10_000_000, 10_050_000).select(F.col("id").alias("user_id"))
    fp = batch_contains(absent, ["user_id"], bloom).filter("member").count()
    bound = bloom.expected_fpr(bloom.m, bloom.k, n_present)
    fpr_ok = fp / 50_000 <= 2 * bound + 0.001
    return _bool_row(spark, false_negatives=missed, fpr_within_bound=fpr_ok)


def cuckoo_membership_types(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Cuckoo semantics: membership + deletion support (driver-side pop)."""
    ev = _t(spark, sf_dir, "events")
    res = sketch_table(ev, [SketchSpec("m", "cuckoo", key_cols=("event_type",), params={"len": 1 << 10, "f": 14})])
    cf = res.sketches["m"]
    types = [r["event_type"] for r in ev.select("event_type").distinct().collect()]
    missed = sum(0 if cf.contains(t) else 1 for t in types)
    # deletion: pop each then verify absent (set semantics, no collisions at
    # this cardinality); filter must stay open
    popped_ok = True
    work = cf.copy()
    for t in types:
        work.pop(t)
        popped_ok &= not work.contains(t)
    return _bool_row(spark, false_negatives=missed, deletion_ok=popped_ok and work.is_empty())


# ------------------------------------------------------------- quantiles


def _quantile_bound_rows(spark, df, col, sketch, bound):
    """For each q: exact rank interval of the estimate via one aggregate."""
    qs = [float(q) for q in QS]
    ests = [sketch.quantile(q) for q in qs]
    aggs = []
    for i, v in enumerate(ests):
        aggs.append(F.sum(F.when(F.col(col) < v, 1).otherwise(0)).alias(f"lo{i}"))
        aggs.append(F.sum(F.when(F.col(col) <= v, 1).otherwise(0)).alias(f"hi{i}"))
    aggs.append(F.count(F.col(col)).alias("n"))
    r = df.agg(*aggs).collect()[0]
    n = max(r["n"], 1)
    rows = []
    for i, q in enumerate(qs):
        lo, hi = r[f"lo{i}"] / n, r[f"hi{i}"] / n
        err = 0.0 if lo <= q <= hi else min(abs(q - lo), abs(q - hi))
        rows.append((QS[i], err <= bound))
    return spark.createDataFrame(rows, "q string, within_bound boolean")


def tdigest_value_quantiles(spark: SparkSession, sf_dir: str) -> DataFrame:
    ev = _t(spark, sf_dir, "events")
    res = sketch_table(ev, [SketchSpec("d", "tdigest", value_col="value", params={"delta": 200.0})])
    return _quantile_bound_rows(spark, ev, "value", res.sketches["d"], bound=0.015)


def kll_nchars_quantiles(spark: SparkSession, sf_dir: str) -> DataFrame:
    docs = _t(spark, sf_dir, "documents")
    res = sketch_table(docs, [SketchSpec("k", "kll", value_col="n_chars", params={"k": 200})])
    return _quantile_bound_rows(spark, docs, "n_chars", res.sketches["k"], bound=2.0 / 200 + 0.005)


def latency_quantiles(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Inter-turn latency quantiles over the transcript view of events
    (window lag per conversation) — t-digest + KLL must both hold."""
    ev = _t(spark, sf_dir, "events")
    lat = with_latency(events_as_transcripts(ev)).filter(F.col("latency_sec").isNotNull())
    res = sketch_table(
        lat,
        [
            SketchSpec("td", "tdigest", value_col="latency_sec"),
            SketchSpec("kl", "kll", value_col="latency_sec"),
        ],
    )
    a = _quantile_bound_rows(spark, lat, "latency_sec", res.sketches["td"], 0.015).withColumnRenamed(
        "within_bound", "tdigest_ok"
    )
    b = _quantile_bound_rows(spark, lat, "latency_sec", res.sketches["kl"], 0.015).withColumnRenamed(
        "within_bound", "kll_ok"
    )
    return a.join(b, "q")


def grouped_quantiles_by_type(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Per-group quantile sketches (salted grouped t-digest + KLL of value
    by event_type); each group's p50/p99 estimate rank-checked against the
    group's exact distribution.

    Two Spark jobs total, group-count-independent (VERDICT r02 "What's
    wrong" #4: the old scaffolding ran ~2 jobs per (group, quantile) from
    a driver loop): (1) the grouped sketch build, (2) one broadcast join
    of the per-group estimates + a single conditional aggregation that
    computes every (group, estimate) rank interval at once."""
    ev = _t(spark, sf_dir, "events")
    states = grouped_sketch(
        ev,
        ["event_type"],
        [
            SketchSpec("td", "tdigest", value_col="value"),
            SketchSpec("kl", "kll", value_col="value", params={"k": 200}),
        ],
        salt_buckets=4,
    ).toPandas()
    qs = (("0.5", 0.5), ("0.99", 0.99))
    est_rows = []
    for _, r in states.iterrows():
        td = sketch_from_bytes(r["state_td"])
        kl = sketch_from_bytes(r["state_kl"])
        est_rows.append(
            (r["event_type"], *(float(sk.quantile(q)) for _, q in qs for sk in (td, kl)))
        )
    est_cols = [f"est_{i}" for i in range(2 * len(qs))]  # q-major, td/kl minor
    est_df = spark.createDataFrame(
        est_rows, "event_type string, " + ", ".join(f"{c} double" for c in est_cols)
    )
    aggs = [F.count(F.col("value")).alias("n")]
    for c in est_cols:
        aggs.append(F.sum(F.when(F.col("value") < F.col(c), 1).otherwise(0)).alias(f"lo_{c}"))
        aggs.append(F.sum(F.when(F.col("value") <= F.col(c), 1).otherwise(0)).alias(f"hi_{c}"))
    bounds = (
        ev.join(F.broadcast(est_df), "event_type").groupBy("event_type").agg(*aggs).collect()
    )
    rows = []
    for r in sorted(bounds, key=lambda x: x["event_type"]):
        n = max(r["n"], 1)
        for qi, (q_label, q) in enumerate(qs):
            ok = True
            for sk_i in range(2):  # td, kl
                c = est_cols[2 * qi + sk_i]
                lo, hi = r[f"lo_{c}"] / n, r[f"hi_{c}"] / n
                err = 0.0 if lo <= q <= hi else min(abs(q - lo), abs(q - hi))
                ok &= err <= 0.02
            rows.append((r["event_type"], q_label, bool(ok)))
    return spark.createDataFrame(rows, "event_type string, q string, within_bound boolean")


# ----------------------------------------------------------- merge laws


def hll_intersection_users(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Distinct users active in BOTH the 'click' and 'error' segments:
    inclusion-exclusion over per-segment HLL states
    (functions.intersection_cardinality). Error compounds across the
    three estimates, so the gate is 3-sigma of the summed cardinalities."""
    from .functions import intersection_cardinality

    ev = _t(spark, sf_dir, "events")
    states = {
        r["event_type"]: bytes(r["state_u"])
        for r in grouped_sketch(
            ev.filter(F.col("event_type").isin("click", "error")),
            ["event_type"],
            [SketchSpec("u", "hll", key_cols=("user_id",))],
        ).collect()
    }
    est = intersection_cardinality(states["click"], states["error"])
    exact = (
        ev.filter("event_type = 'click'")
        .select("user_id")
        .intersect(ev.filter("event_type = 'error'").select("user_id"))
        .count()
    )
    a = ev.filter("event_type = 'click'").select("user_id").distinct().count()
    b = ev.filter("event_type = 'error'").select("user_id").distinct().count()
    union = a + b - exact
    sigma = 1.04 / math.sqrt(2**14)
    ok = abs(est - exact) <= 3 * sigma * (a + b + union) + 1
    return _bool_row(spark, exact_intersection=exact, hll_within_bound=ok)


def kmv_distinct_custkey(spark: SparkSession, sf_dir: str) -> DataFrame:
    """KMV distinct estimate (kmv.py, Beyer et al. SIGMOD 2007): exact
    while |distinct| < k (sf0.001: 150 < 256), unbiased (k-1)/theta above
    (sf0.01: 1500), gated at 3x the published RSE 1/sqrt(k-2)."""
    from .sketches.kmv import KMV

    ords = _t(spark, sf_dir, "orders")
    res = sketch_table(
        ords, [SketchSpec("d", "kmv", key_cols=("o_custkey",), params={"k": 256})]
    )
    est = res.sketches["d"].cardinality()
    exact = ords.select("o_custkey").distinct().count()
    ok = abs(est - exact) <= 3 * KMV.relative_std_error(256) * exact + 1
    return _bool_row(spark, exact_distinct=exact, kmv_within_bound=ok)


def kmv_segment_overlap_custkey(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Theta-style set algebra on two KMV states (kmv.py docstring):
    customers with an even-orderkey order vs a multiple-of-3-orderkey
    order — intersection / difference / union estimated directly on the
    retained hash samples below min-theta, each vs its exact answer.
    Set-op error scales with union/sqrt(k-2) (EDBT 2016), gated at 3x."""
    from .sketches.kmv import KMV

    k = 512
    ords = _t(spark, sf_dir, "orders")
    seg_a = ords.filter(F.col("o_orderkey") % 2 == 0)
    seg_b = ords.filter(F.col("o_orderkey") % 3 == 0)
    spec = [SketchSpec("d", "kmv", key_cols=("o_custkey",), params={"k": k})]
    ka = sketch_table(seg_a, spec).sketches["d"]
    kb = sketch_table(seg_b, spec).sketches["d"]

    a_ids = seg_a.select("o_custkey").distinct()
    b_ids = seg_b.select("o_custkey").distinct()
    exact_inter = a_ids.intersect(b_ids).count()
    exact_diff = a_ids.subtract(b_ids).count()
    exact_union = a_ids.union(b_ids).distinct().count()

    tol = 3 * exact_union / math.sqrt(k - 2) + 1
    ok_i = abs(ka.intersection_cardinality(kb) - exact_inter) <= tol
    ok_d = abs(ka.difference_cardinality(kb) - exact_diff) <= tol
    ok_u = abs(ka.union_cardinality(kb) - exact_union) <= 3 * KMV.relative_std_error(k) * exact_union + 1
    return _bool_row(
        spark,
        exact_intersection=exact_inter,
        exact_difference=exact_diff,
        kmv_inter_within_bound=ok_i,
        kmv_diff_within_bound=ok_d,
        kmv_union_within_bound=ok_u,
    )


def mg_heavy_hitters_lineitem(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Misra-Gries heavy hitters (mg.py) over a deterministically skewed
    key — the decimal digit count of l_partkey (frequencies ~9 : 90 : 900
    : ... of the key domain), derivable identically in Spark and DuckDB
    with pure integer/string ops (no float log hazards). k=3 counters
    over 4 distinct keys at sf0.01 forces real decrements. One row per
    TRUE heavy hitter (exact count > n/(k+1)); the row set itself checks
    completeness — a heavy item evicted from the summary would emit
    est=0, fail the deficit bound, and hash-mismatch the oracle."""
    k = 3
    li = _t(spark, sf_dir, "lineitem").withColumn(
        "hh_key", F.length(F.col("l_partkey").cast("string")).cast("long")
    )
    res = sketch_table(li, [SketchSpec("h", "mg", key_cols=("hh_key",), params={"k": k})])
    mg = res.sketches["h"]
    n = res.n_rows
    invariant = mg.deficit * (k + 1) <= n - int(mg.counts.sum())
    exact = li.groupBy("hh_key").count().collect()
    rows = []
    for r in sorted(exact, key=lambda x: x["hh_key"]):
        if r["count"] > n / (k + 1):
            est = mg.query(int(r["hh_key"]))
            rows.append(
                (
                    int(r["hh_key"]),
                    int(r["count"]),
                    est <= r["count"],
                    r["count"] <= est + mg.deficit,
                    bool(invariant),
                )
            )
    return spark.createDataFrame(
        rows,
        "hh_key bigint, exact_cnt bigint, mg_le_exact boolean, "
        "mg_within_deficit boolean, mg_deficit_invariant boolean",
    )


def sql_estimators(spark: SparkSession, sf_dir: str) -> DataFrame:
    """The SQL surface (functions/sql.py): a grouped sketch-state table is
    queried from pure spark.sql via the registered pjs_* estimator UDFs;
    the estimates are then bound-checked Spark-side against exact values
    the oracle reproduces."""
    from .functions.sql import register_sketch_sql_functions

    register_sketch_sql_functions(spark)
    ev = _t(spark, sf_dir, "events")
    grouped_sketch(
        ev,
        ["event_type"],
        [
            SketchSpec("u", "hll", key_cols=("user_id",)),
            SketchSpec("v", "kll", value_col="value"),
        ],
    ).createOrReplaceTempView("pjs_states")
    est = {
        r["event_type"]: (r["est"], r["p50"])
        for r in spark.sql(
            "SELECT event_type, pjs_cardinality(state_u) AS est, "
            "pjs_quantile(state_v, 0.5) AS p50 FROM pjs_states"
        ).collect()
    }
    # ONE conditional aggregation for every group's exact distinct, total
    # and below-p50 count (VERDICT r3 item 7: the old loop ran 2 Spark
    # jobs per group — job count now independent of group count)
    p50_map = F.create_map(
        *[x for t in est for x in (F.lit(t), F.lit(float(est[t][1])))]
    )
    exact = {
        r["event_type"]: (r["n"], r["total"], r["below"])
        for r in ev.groupBy("event_type")
        .agg(
            F.countDistinct("user_id").alias("n"),
            F.count(F.lit(1)).alias("total"),
            F.count(
                F.when(F.col("value") <= p50_map[F.col("event_type")], True)
            ).alias("below"),
        )
        .collect()
    }
    rows = []
    for t in sorted(est):
        e, _p50 = est[t]
        n, total, below = exact[t]
        hll_ok = abs(e - n) / max(n, 1) <= HLL_BOUND
        kll_ok = abs(below / max(total, 1) - 0.5) <= 2.0 / 200 + 1.0 / max(total, 1)
        rows.append((t, int(n), bool(hll_ok), bool(kll_ok)))
    return spark.createDataFrame(
        rows,
        "event_type string, exact_distinct bigint, hll_within_bound boolean, kll_p50_within_bound boolean",
    )


def merge_laws(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Distributed property check: states built on different partition
    layouts and merged in different orders are identical; serialization
    round-trips byte-exact (reference test/hyperloglog.jl:72-88,
    test/countmin.jl:119-138, test/bloom.jl:81-101)."""
    ev = _t(spark, sf_dir, "events")
    specs = [
        SketchSpec("h", "hll", key_cols=("user_id",)),
        SketchSpec("c", "cms", key_cols=("event_type",)),
        SketchSpec("b", "bloom", key_cols=("user_id",), params={"m": 1 << 16, "k": 4}),
        SketchSpec("v", "kmv", key_cols=("user_id",), params={"k": 256}),
        SketchSpec("g", "mg", key_cols=("event_type",), params={"k": 64}),
    ]
    a = sketch_table(ev.repartition(3), specs).sketches
    b = sketch_table(ev.repartition(11), specs).sketches
    # KMV joins the byte-exact club: its state is a pure function of the
    # SET of hashes seen, so layout invariance / commutativity /
    # idempotence hold byte-for-byte like hll/cms/bloom. MG merge is
    # order-sensitive by contract (mg.py:34-37), so it joins only the
    # serialization-roundtrip law.
    exact = ("h", "c", "b", "v")
    layout_invariant = all(a[n].to_bytes() == b[n].to_bytes() for n in exact)
    commutative = all(
        a[n].copy().merge(b[n]).to_bytes() == b[n].copy().merge(a[n]).to_bytes() for n in ("h", "v")
    )
    idempotent = all(a[n].copy().merge(a[n]).to_bytes() == a[n].to_bytes() for n in ("h", "v"))
    roundtrip = all(
        type(a[n]).from_bytes(a[n].to_bytes()).to_bytes() == a[n].to_bytes()
        for n in ("h", "c", "b", "v", "g")
    )
    return _bool_row(
        spark,
        layout_invariant=layout_invariant,
        merge_commutative=commutative,
        merge_idempotent=idempotent,
        serialization_roundtrip=roundtrip,
    )


# ------------------------------------------------------------- registry


def all_queries() -> dict:
    out = dict(sketch_queries())
    out.update(training_queries())
    return out


def all_oracles() -> dict:
    out = dict(sketch_oracles())
    out.update(training_oracles())
    return out


def sketch_queries() -> dict:
    return {
        "hll_distinct_users": hll_distinct_users,
        "hll_distinct_user_type": hll_distinct_user_type,
        "hll_distinct_custkey": hll_distinct_custkey,
        "hll_grouped_users_by_type": hll_grouped_users_by_type,
        "hll_grouped_orders_by_supplier": hll_grouped_orders_by_supplier,
        "hll_grouped_parts_by_order": hll_grouped_parts_by_order,
        "kmv_grouped_parts_by_order": kmv_grouped_parts_by_order,
        "rollup_day_to_type": rollup_day_to_type,
        "hll_vs_spark_builtin": hll_vs_spark_builtin,
        "cms_event_type_freq": cms_event_type_freq,
        "cms_returnflag_linestatus": cms_returnflag_linestatus,
        "bloom_membership_users": bloom_membership_users,
        "cuckoo_membership_types": cuckoo_membership_types,
        "tdigest_value_quantiles": tdigest_value_quantiles,
        "grouped_quantiles_by_type": grouped_quantiles_by_type,
        "kll_nchars_quantiles": kll_nchars_quantiles,
        "latency_quantiles": latency_quantiles,
        "hll_intersection_users": hll_intersection_users,
        "kmv_distinct_custkey": kmv_distinct_custkey,
        "kmv_segment_overlap_custkey": kmv_segment_overlap_custkey,
        "mg_heavy_hitters_lineitem": mg_heavy_hitters_lineitem,
        "sql_estimators": sql_estimators,
        "merge_laws": merge_laws,
    }


def sketch_oracles() -> dict:
    qrows = ", ".join(f"('{q}', TRUE)" for q in QS)
    return {
        "hll_distinct_users": (
            "SELECT CAST(COUNT(DISTINCT user_id) AS BIGINT) AS exact_distinct, "
            "TRUE AS hll_within_bound FROM events"
        ),
        "hll_distinct_user_type": (
            "SELECT CAST(COUNT(DISTINCT (user_id, event_type)) AS BIGINT) AS exact_distinct, "
            "TRUE AS hll_within_bound FROM events"
        ),
        "hll_distinct_custkey": (
            "SELECT CAST(COUNT(DISTINCT o_custkey) AS BIGINT) AS exact_distinct, "
            "TRUE AS hll_within_bound FROM orders"
        ),
        "hll_grouped_users_by_type": (
            "SELECT event_type, CAST(COUNT(DISTINCT user_id) AS BIGINT) AS exact_distinct, "
            "TRUE AS hll_within_bound FROM events GROUP BY event_type"
        ),
        "hll_grouped_orders_by_supplier": (
            "SELECT CAST(l_suppkey AS BIGINT) AS l_suppkey, "
            "CAST(COUNT(DISTINCT l_orderkey) AS BIGINT) AS exact_distinct, "
            "TRUE AS hll_within_bound FROM lineitem GROUP BY l_suppkey"
        ),
        "hll_grouped_parts_by_order": (
            "SELECT CAST(l_orderkey AS BIGINT) AS l_orderkey, "
            "CAST(COUNT(DISTINCT l_partkey) AS BIGINT) AS exact_distinct, "
            "TRUE AS hll_within_bound FROM lineitem GROUP BY l_orderkey"
        ),
        "kmv_grouped_parts_by_order": (
            "SELECT CAST(l_orderkey AS BIGINT) AS l_orderkey, "
            "CAST(COUNT(DISTINCT l_partkey) AS BIGINT) AS kmv_distinct "
            "FROM lineitem GROUP BY l_orderkey"
        ),
        "rollup_day_to_type": (
            "SELECT event_type, CAST(COUNT(DISTINCT user_id) AS BIGINT) AS exact_distinct, "
            "TRUE AS hll_within_bound, TRUE AS rollup_equals_direct "
            "FROM events GROUP BY event_type"
        ),
        "hll_vs_spark_builtin": (
            "SELECT CAST(COUNT(DISTINCT user_id) AS BIGINT) AS exact_distinct, "
            "TRUE AS ours_within_bound, TRUE AS builtin_within_bound FROM events"
        ),
        "cms_event_type_freq": (
            "SELECT event_type, CAST(COUNT(*) AS BIGINT) AS exact_cnt, "
            "TRUE AS cms_ge_exact, TRUE AS cms_within_eps FROM events GROUP BY event_type"
        ),
        "cms_returnflag_linestatus": (
            "SELECT l_returnflag, l_linestatus, CAST(COUNT(*) AS BIGINT) AS exact_cnt, "
            "TRUE AS cms_ge_exact, TRUE AS cms_within_eps "
            "FROM lineitem GROUP BY l_returnflag, l_linestatus"
        ),
        "bloom_membership_users": (
            "SELECT CAST(0 AS BIGINT) AS false_negatives, TRUE AS fpr_within_bound"
        ),
        "cuckoo_membership_types": (
            "SELECT CAST(0 AS BIGINT) AS false_negatives, TRUE AS deletion_ok"
        ),
        "tdigest_value_quantiles": f"SELECT * FROM (VALUES {qrows}) AS t(q, within_bound)",
        "grouped_quantiles_by_type": (
            "SELECT event_type, q, TRUE AS within_bound FROM "
            "(SELECT DISTINCT event_type FROM events), (VALUES ('0.5'), ('0.99')) AS t(q)"
        ),
        "kll_nchars_quantiles": f"SELECT * FROM (VALUES {qrows}) AS t(q, within_bound)",
        "latency_quantiles": (
            "SELECT * FROM (VALUES "
            + ", ".join(f"('{q}', TRUE, TRUE)" for q in QS)
            + ") AS t(q, tdigest_ok, kll_ok)"
        ),
        "hll_intersection_users": (
            "SELECT CAST(COUNT(*) AS BIGINT) AS exact_intersection, TRUE AS hll_within_bound "
            "FROM (SELECT DISTINCT user_id FROM events WHERE event_type = 'click' "
            "INTERSECT SELECT DISTINCT user_id FROM events WHERE event_type = 'error')"
        ),
        "kmv_distinct_custkey": (
            "SELECT CAST(COUNT(DISTINCT o_custkey) AS BIGINT) AS exact_distinct, "
            "TRUE AS kmv_within_bound FROM orders"
        ),
        "kmv_segment_overlap_custkey": (
            "SELECT "
            "CAST((SELECT COUNT(*) FROM ("
            " SELECT DISTINCT o_custkey FROM orders WHERE o_orderkey % 2 = 0"
            " INTERSECT"
            " SELECT DISTINCT o_custkey FROM orders WHERE o_orderkey % 3 = 0)) AS BIGINT)"
            " AS exact_intersection, "
            "CAST((SELECT COUNT(*) FROM ("
            " SELECT DISTINCT o_custkey FROM orders WHERE o_orderkey % 2 = 0"
            " EXCEPT"
            " SELECT DISTINCT o_custkey FROM orders WHERE o_orderkey % 3 = 0)) AS BIGINT)"
            " AS exact_difference, "
            "TRUE AS kmv_inter_within_bound, TRUE AS kmv_diff_within_bound, "
            "TRUE AS kmv_union_within_bound"
        ),
        "mg_heavy_hitters_lineitem": (
            "SELECT CAST(LENGTH(CAST(l_partkey AS VARCHAR)) AS BIGINT) AS hh_key, "
            "CAST(COUNT(*) AS BIGINT) AS exact_cnt, "
            "TRUE AS mg_le_exact, TRUE AS mg_within_deficit, "
            "TRUE AS mg_deficit_invariant "
            "FROM lineitem GROUP BY hh_key "
            "HAVING COUNT(*) > (SELECT COUNT(*) FROM lineitem) / 4.0 "
            "ORDER BY hh_key"
        ),
        "sql_estimators": (
            "SELECT event_type, CAST(COUNT(DISTINCT user_id) AS BIGINT) AS exact_distinct, "
            "TRUE AS hll_within_bound, TRUE AS kll_p50_within_bound "
            "FROM events GROUP BY event_type"
        ),
        "merge_laws": (
            "SELECT TRUE AS layout_invariant, TRUE AS merge_commutative, "
            "TRUE AS merge_idempotent, TRUE AS serialization_roundtrip"
        ),
    }


# =====================================================================
# Training-data pipeline queries (dedup / similarity / text analysis) —
# same self-verifying-or-exact oracle discipline as the sketch queries.
# =====================================================================

_AUG_DOCS_SQL = (
    "SELECT doc_id, text FROM documents "
    "UNION ALL SELECT doc_id + 100000 AS doc_id, text FROM "
    "(SELECT * FROM documents ORDER BY doc_id LIMIT 5)"
)


def _aug_docs(spark: SparkSession, sf_dir: str) -> DataFrame:
    """documents plus 5 injected exact duplicates (ids +100000) — the same
    augmentation the SQL oracle applies, so dedup queries have known dups
    to find at every sf."""
    docs = _t(spark, sf_dir, "documents").select("doc_id", "text")
    dups = (
        docs.orderBy("doc_id")
        .limit(5)
        .select((F.col("doc_id") + 100000).alias("doc_id"), "text")
    )
    return docs.unionByName(dups)


def exact_dedup_docs(spark: SparkSession, sf_dir: str) -> DataFrame:
    from .operators.dedup import exact_dedup

    return exact_dedup(_aug_docs(spark, sf_dir)).select("doc_id", "rep_id")


def exact_dedup_map_docs(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Narrow-exchange dedup map (one row per distinct text, 16-byte
    binary hash key): the at-scale variant whose shuffle moves ~24
    bytes/row instead of full documents. The binary key is hex-encoded
    only here, for the oracle compare (DuckDB md5() emits lowercase
    hex)."""
    from .operators.dedup import exact_dedup_map

    return exact_dedup_map(_aug_docs(spark, sf_dir)).select(
        F.lower(F.hex("text_hash")).alias("text_hash"), "rep_id"
    )


def minhash_near_dup_pairs(spark: SparkSession, sf_dir: str) -> DataFrame:
    """MinHash+LSH candidate pairs, exact-Jaccard verified at >= 0.8.
    Oracle = brute-force all-pairs shingle Jaccard in DuckDB; matching
    exactly proves LSH recall 1.0 on this data AND verification
    precision. max_bucket_size is pinned to None: this query's contract
    is EXACT pair recall, which the capped path deliberately trades away
    inside over-cap buckets (the capped contract has its own oracle,
    minhash_dense_dedup_docs) — and None also keeps the plan pure-lazy
    (code-review r5: the finite default's materialization is semi-eager)."""
    from .operators.dedup import minhash_near_dups

    out = minhash_near_dups(
        _aug_docs(spark, sf_dir), threshold=0.8, n_hashes=64, bands=32,
        max_bucket_size=None,
    )
    return out.select("id_a", "id_b")  # jaccard doubles excluded: hash-stable


def dup_cluster_assign(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Near-dup pair resolution into clusters (iterative min-label
    connected components, operators/dedup.py): every doc gets the minimum
    id reachable through the >= 0.8-Jaccard pair graph, keep = own id.
    Oracle = DuckDB recursive CTE over the exact all-pairs Jaccard edge
    set — matching proves pair recall AND the fixpoint of the distributed
    label propagation."""
    from .operators.dedup import dedup_assign, minhash_near_dups

    docs = _aug_docs(spark, sf_dir)
    # max_bucket_size=None: exact-recall contract vs the brute-force
    # truth (see minhash_near_dup_pairs; the capped path is oracle-gated
    # separately by minhash_dense_dedup_docs)
    pairs = minhash_near_dups(
        docs, threshold=0.8, n_hashes=64, bands=32, max_bucket_size=None
    )
    out = dedup_assign(docs, pairs)
    return out.select(
        "doc_id", F.col("cluster_rep").cast("long").alias("cluster_rep"), "keep"
    )


_DENSE_MINHASH_BASE = (
    "the quick brown fox jumps over the lazy dog while seventeen "
    "migrating storks wheel above a quiet harbor and fishermen mend "
    "their nets beside weathered boats waiting for the evening tide"
)


def minhash_dense_dedup_docs(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Over-cap NEAR-dup cluster through the MinHash representative star
    (VERDICT r04 missing #1 — the twin of embedding_dedup_dense_docs):
    60 variants of one base sentence differing only in a 2-char tag
    (pairwise shingle-Jaccard ~0.98 — near dups, NOT exact clones, so
    exact dedup can NOT collapse them and the old docstring's defense
    did not apply) are injected with ids 300000+. With
    max_bucket_size=16 their band buckets are over cap essentially
    everywhere; under r4 semantics every member was silently dropped
    from the pair graph and survived dedup. The star pass must resolve
    them to one keeper (300000). Oracle = DuckDB recursive CTE over
    exact all-pairs shingle-Jaccard >= 0.8."""
    from .operators.dedup import dedup_assign, minhash_near_dups

    docs = _t(spark, sf_dir, "documents").select("doc_id", "text")
    variants = spark.range(60).select(
        (F.col("id") + 300000).alias("doc_id"),
        F.concat(
            F.lit(_DENSE_MINHASH_BASE + " tag "),
            F.lpad(F.col("id").cast("string"), 2, "0"),
        ).alias("text"),
    )
    aug = docs.unionByName(variants)
    pairs = minhash_near_dups(
        aug, threshold=0.8, n_hashes=64, bands=32, max_bucket_size=16
    )
    out = dedup_assign(aug, pairs)
    return out.select(
        "doc_id", F.col("cluster_rep").cast("long").alias("cluster_rep"), "keep"
    )


def simhash_dups_docs(spark: SparkSession, sf_dir: str) -> DataFrame:
    """SimHash near-dup pairs at hamming <= 2. Exact text duplicates have
    hamming 0, so the injected pairs are a guaranteed subset; the oracle
    re-derives the expected exact-dup pairs and the Spark side proves the
    simhash path found them (found_all boolean)."""
    from .operators.dedup import simhash_near_dups

    found = simhash_near_dups(_aug_docs(spark, sf_dir), max_hamming=2).toPandas()
    pairs = {(a, b) for a, b in zip(found.id_a, found.id_b)}
    expected = {(i, i + 100000) for i in _first5_ids(spark, sf_dir)}
    ok = expected <= pairs
    rows = [(int(a), int(b), bool(ok)) for a, b in sorted(expected)]
    return spark.createDataFrame(rows, "id_a long, id_b long, simhash_found_all boolean")


def _first5_ids(spark, sf_dir):
    return [
        r["doc_id"]
        for r in _t(spark, sf_dir, "documents").orderBy("doc_id").limit(5).collect()
    ]


def ann_cosine_topk(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Exact brute-force cosine top-10 for the first 5 vectors (float64 to
    match the SQL oracle's double precision)."""
    import numpy as np

    from .operators.similarity import cosine_topk

    emb = _t(spark, sf_dir, "embeddings")
    q = emb.filter("vec_id < 5")
    out = cosine_topk(emb, q, k=10, dtype=np.float64)
    return out.select("query_id", "neighbor_id", "rank")


def ann_lsh_recall(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Multi-table LSH ANN vs exact: mean top-5 recall over 10 queries
    must clear 0.7 (near-uniform synthetic embeddings are LSH's worst
    case). Runs the DEFAULT config — 8 tables x 3 query-side probes
    since r4 (VERDICT r3 item 6), which measures >= the old 16x4x0-probe
    config at half the corpus key rows."""
    import numpy as np

    from .operators.similarity import ann_topk_lsh, cosine_topk

    emb = _t(spark, sf_dir, "embeddings")
    q = emb.filter("vec_id < 10")
    exact = cosine_topk(emb, q, k=5).toPandas()
    approx = ann_topk_lsh(emb, q, dim=64, k=5).toPandas()
    recalls = []
    for i in range(10):
        e = set(exact[exact.query_id == i].neighbor_id)
        a = set(approx[approx.query_id == i].neighbor_id)
        recalls.append(len(e & a) / max(len(e), 1))
    return _bool_row(spark, n_queries=10, recall_above_070=bool(np.mean(recalls) >= 0.7))


def ann_ivf_recall(spark: SparkSession, sf_dir: str) -> DataFrame:
    """IVF (spherical k-means inverted lists) ANN vs exact: mean top-5
    recall over 10 queries must clear 0.7 (16 lists, nprobe=8 measures
    ~0.82 on the near-uniform synthetic embeddings — the hardest case for
    a coarse quantizer)."""
    import numpy as np

    from .operators.similarity import ann_topk_ivf, cosine_topk

    emb = _t(spark, sf_dir, "embeddings")
    q = emb.filter("vec_id < 10")
    exact = cosine_topk(emb, q, k=5).toPandas()
    approx = ann_topk_ivf(emb, q, dim=64, k=5, n_centroids=16, nprobe=8).toPandas()
    recalls = []
    for i in range(10):
        e = set(exact[exact.query_id == i].neighbor_id)
        a = set(approx[approx.query_id == i].neighbor_id)
        recalls.append(len(e & a) / max(len(e), 1))
    return _bool_row(spark, n_queries=10, recall_above_070=bool(np.mean(recalls) >= 0.7))


def cosine_near_dup_recall(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Multi-table embedding near-dup (VERDICT r02 #1) on a CLUSTERED
    fixture: 50 vectors get a perturbed twin at an exactly-controlled
    cosine in [0.90, 0.97] (twin = normalize(u + tan(theta)*w), w unit
    orthogonal noise, seeded) — NOT near-identical, so single-table LSH
    (catch prob ~0.43/pair) would fail this gate. The 16x8 multi-table
    union must recover >= 0.95 of the true pairs; the exact rerank keeps
    precision 1.0 by construction (every emitted sim is exact)."""
    import numpy as np

    from .operators.similarity import cosine_near_dup_pairs

    emb = _t(spark, sf_dir, "embeddings")
    rows = emb.filter("vec_id < 50").select("vec_id", "embedding").collect()
    rng = np.random.default_rng(123)
    twins, true_pairs = [], set()
    for r in rows:
        u = np.array(r["embedding"], dtype=np.float64)
        u /= np.linalg.norm(u)
        target_cos = rng.uniform(0.90, 0.97)
        w = rng.normal(size=u.size)
        w -= (w @ u) * u
        w /= np.linalg.norm(w)
        v = u + np.tan(np.arccos(target_cos)) * w
        v /= np.linalg.norm(v)
        twins.append((int(r["vec_id"]) + 10_000, [float(x) for x in v]))
        true_pairs.add((int(r["vec_id"]), int(r["vec_id"]) + 10_000))
    both = emb.select("vec_id", "embedding").unionByName(
        spark.createDataFrame(twins, "vec_id long, embedding array<float>")
    )
    # geometry PINNED at 16x8 (the documented gate config): leaving
    # n_planes to auto-derive would scale b with the fixture size and
    # quietly erode the 0.95-gate margin (code-review r4); the auto path
    # is oracle-gated separately by embedding_dedup_dense_docs
    out = cosine_near_dup_pairs(
        both, threshold=0.90, dim=64, n_planes=8, n_tables=16
    ).toPandas()
    found = {(int(a), int(b)) for a, b in zip(out.id_a, out.id_b)}
    recall = len(found & true_pairs) / len(true_pairs)
    precise = bool((out.sim >= 0.90).all())
    return _bool_row(
        spark,
        n_true_pairs=len(true_pairs),
        recall_above_095=bool(recall >= 0.95),
        rerank_precise=precise,
    )


def hash_sample_docs(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Deterministic content-hash sampling (operators/sample.py): the
    kept set must be bit-identical between Spark and DuckDB because the
    gate is md5-prefix < threshold in both — no RNG, no partition
    dependence."""
    from .operators.sample import hash_sample

    return hash_sample(
        _t(spark, sf_dir, "documents"), rate=0.25, key_cols=["doc_id"], seed=7
    ).select("doc_id")


def stratified_docs_by_lang(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Deterministic quota sampling: at most 20 docs per language chosen
    by hash order — same rows in any engine."""
    from .operators.sample import stratified_take

    return stratified_take(
        _t(spark, sf_dir, "documents"),
        group_cols=["lang"],
        n_per_group=20,
        key_cols=["doc_id"],
        seed=7,
    ).select("lang", "doc_id")


def clean_corpus_docs(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Training-data hygiene pipeline (clean_corpus): token bounds +
    quality threshold + language allow-list (documents carry a lang
    column) + exact dedup, one keeper per text. Oracle reproduces every
    filter formula and the min-id dedup in SQL."""
    from .functions.text import clean_corpus

    out = clean_corpus(
        _aug_docs_lang(spark, sf_dir),
        min_tokens=5,
        max_tokens=10_000,
        min_quality_milli=300,
        languages=["en", "fr"],
        lang_col="lang",
    )
    return out.select(
        "doc_id", F.col("n_tokens").cast("long").alias("n_tokens"), "quality_milli"
    )


def clean_corpus_map_docs(spark: SparkSession, sf_dir: str) -> DataFrame:
    """clean_corpus(dedup='map') (VERDICT r3 item 5): same output
    contract through the narrow-exchange dedup path — the dedup shuffle
    carries (id, 16-byte md5) projections plus an id semi-join instead
    of full rows. Same oracle SQL as clean_corpus_docs: the two modes
    are value-identical up to 128-bit md5 collisions (~1e-17 expected
    at 10^11 docs; rows mode ties on the text itself — ADVICE r4)."""
    from .functions.text import clean_corpus

    out = clean_corpus(
        _aug_docs_lang(spark, sf_dir),
        min_tokens=5,
        max_tokens=10_000,
        min_quality_milli=300,
        languages=["en", "fr"],
        lang_col="lang",
        dedup="map",
    )
    return out.select(
        "doc_id", F.col("n_tokens").cast("long").alias("n_tokens"), "quality_milli"
    )


def _aug_docs_lang(spark: SparkSession, sf_dir: str) -> DataFrame:
    """documents (incl. lang) plus the 5 injected exact duplicates."""
    docs = _t(spark, sf_dir, "documents").select("doc_id", "text", "lang")
    dups = (
        docs.orderBy("doc_id")
        .limit(5)
        .select((F.col("doc_id") + 100000).alias("doc_id"), "text", "lang")
    )
    return docs.unionByName(dups)


def embedding_dedup_docs(spark: SparkSession, sf_dir: str) -> DataFrame:
    """End-to-end embedding dedup (dedup_embeddings): the first 50
    vectors get EXACT duplicate twins (ids +10000 — reproducible in SQL,
    unlike the perturbed fixture), the pipeline resolves near-dup pairs
    into clusters and picks one keeper each. Oracle = DuckDB recursive
    CTE over the exact all-pairs cosine graph at the same threshold."""
    from .operators.similarity import dedup_embeddings

    emb = _t(spark, sf_dir, "embeddings").select("vec_id", "embedding")
    twins = emb.filter("vec_id < 50").select(
        (F.col("vec_id") + 10_000).alias("vec_id"), "embedding"
    )
    out = dedup_embeddings(
        emb.unionByName(twins), threshold=0.95, dim=64, n_tables=16
    )
    return out.select(
        "vec_id", F.col("cluster_rep").cast("long").alias("cluster_rep"), "keep"
    )


def embedding_dedup_dense_docs(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Dense-cluster dedup (VERDICT r03 missing #1): 60 EXACT clones of
    vector 0 (ids 20000..20059) form a cluster larger than
    max_bucket_size=16, so its buckets are over cap in EVERY LSH table —
    under r3 semantics every member silently survived. The quantized
    representative star pass must collapse it to one keeper (vec 0) with
    one linear star of pairs. Oracle = DuckDB recursive CTE over the
    exact all-pairs cosine graph, same threshold."""
    from .operators.similarity import dedup_embeddings

    emb = _t(spark, sf_dir, "embeddings").select("vec_id", "embedding")
    clones = (
        spark.range(20_000, 20_060)
        .crossJoin(emb.filter("vec_id = 0").select("embedding"))
        .select(F.col("id").alias("vec_id"), "embedding")
    )
    out = dedup_embeddings(
        emb.unionByName(clones), threshold=0.95, dim=64, max_bucket_size=16
    )
    return out.select(
        "vec_id", F.col("cluster_rep").cast("long").alias("cluster_rep"), "keep"
    )


def media_decode_bmp(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Real (dependency-free) media decoding through the mapInPandas
    pipeline: one synthetic solid-color 24-bit BMP per of the first 8
    doc_ids, decoded by real_media_decoder (operators/multimodal.py). The
    oracle reproduces the exact dimensions and the pooled-grayscale
    feature value (value/255, milli-scaled) in SQL."""
    from .operators.multimodal import extract_media_features, real_media_decoder, synth_bmp

    ids = [
        int(r["doc_id"])
        for r in _t(spark, sf_dir, "documents").orderBy("doc_id").limit(8).collect()
    ]
    rows = [
        (i, "image", bytearray(synth_bmp(8, 8, i % 200 + 20)), "{}") for i in ids
    ]
    df = spark.createDataFrame(rows, "media_id long, kind string, payload binary, meta string")
    out = extract_media_features(df, decoder=real_media_decoder)
    return out.select(
        F.col("media_id"),
        F.col("width").cast("long").alias("width"),
        F.col("height").cast("long").alias("height"),
        F.col("channels").cast("long").alias("channels"),
        F.round(F.element_at("feature", 1) * 1000).cast("long").alias("feature0_milli"),
    )


def seen_before_stream_docs(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Streaming seen-before dedup, oracle-gated (VERDICT r04 stretch
    #8 — was pass(T) only): replay a fixed two-batch sequence through
    ``process_seen_batch``, the EXACT foreachBatch body of
    ``seen_before_stream`` (module-level since r5; the writeStream
    wiring itself is covered by test_streaming's kill-restart tests).
    Batch 0 = the documents table; batch 1 = 5 already-seen texts under
    new ids (+100000, must ALL drop) plus 5 novel texts (ids 400000+,
    must ALL survive). Kept rows must equal DuckDB's first-occurrence
    truth: min doc_id per text. The Bloom false-positive rate at this
    scale (m=2^24, k=5, <=10^4 seen hashes) is < 1e-13, so no spurious
    drops can occur in an oracle-gated run."""
    import tempfile

    from .streaming.dedup_stream import process_seen_batch
    from .streaming.stream_build import SketchStateStore

    docs = _t(spark, sf_dir, "documents").select("doc_id", "text")
    dups = (
        docs.orderBy("doc_id")
        .limit(5)
        .select((F.col("doc_id") + 100000).alias("doc_id"), "text")
    )
    novel = spark.range(5).select(
        (F.col("id") + 400000).alias("doc_id"),
        F.concat(F.lit("novel streaming doc "), F.col("id").cast("string")).alias("text"),
    )
    tmp = tempfile.mkdtemp(prefix="pjs_seen_oracle_")
    store = SketchStateStore(f"{tmp}/state", spark)
    kept: list[tuple[int]] = []

    def sink(df: DataFrame, batch_id: int) -> None:
        kept.extend((int(r["doc_id"]),) for r in df.select("doc_id").collect())

    process_seen_batch(docs, 0, store, f"{tmp}/ckpt", sink)
    process_seen_batch(dups.unionByName(novel), 1, store, f"{tmp}/ckpt", sink)
    return spark.createDataFrame(sorted(kept), "doc_id long")


def token_count_docs(spark: SparkSession, sf_dir: str) -> DataFrame:
    from .functions.text import token_count

    return (
        _t(spark, sf_dir, "documents")
        .select("doc_id", token_count("text").cast("long").alias("n_tokens"))
    )


def quality_score_docs(spark: SparkSession, sf_dir: str) -> DataFrame:
    from .functions.text import quality_milliscore

    return _t(spark, sf_dir, "documents").select(
        "doc_id", quality_milliscore("text").alias("quality_milli")
    )


def fingerprint_docs(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Rolling-hash fingerprint: distinct fingerprints must equal distinct
    normalized texts (collision-free here), exact count cross-checked."""
    from .functions.text import fingerprint

    docs = _t(spark, sf_dir, "documents")
    # ONE aggregation job for all three counts (VERDICT r3 item 7: was 3
    # separate count jobs)
    row = docs.select(
        fingerprint("text").alias("f"), F.lower(F.trim("text")).alias("t")
    ).agg(
        F.count(F.lit(1)).alias("n_docs"),
        F.countDistinct("t").alias("n_text"),
        F.countDistinct("f").alias("n_fp"),
    ).collect()[0]
    return _bool_row(
        spark,
        n_docs=row["n_docs"],
        distinct_texts=row["n_text"],
        fingerprint_matches_texts=row["n_fp"] == row["n_text"],
    )


def training_queries() -> dict:
    return {
        "exact_dedup_docs": exact_dedup_docs,
        "exact_dedup_map_docs": exact_dedup_map_docs,
        "minhash_near_dup_pairs": minhash_near_dup_pairs,
        "minhash_dense_dedup_docs": minhash_dense_dedup_docs,
        "dup_cluster_assign": dup_cluster_assign,
        "simhash_dups_docs": simhash_dups_docs,
        "ann_cosine_topk": ann_cosine_topk,
        "ann_lsh_recall": ann_lsh_recall,
        "ann_ivf_recall": ann_ivf_recall,
        "cosine_near_dup_recall": cosine_near_dup_recall,
        "hash_sample_docs": hash_sample_docs,
        "stratified_docs_by_lang": stratified_docs_by_lang,
        "clean_corpus_docs": clean_corpus_docs,
        "clean_corpus_map_docs": clean_corpus_map_docs,
        "embedding_dedup_docs": embedding_dedup_docs,
        "embedding_dedup_dense_docs": embedding_dedup_dense_docs,
        "media_decode_bmp": media_decode_bmp,
        "seen_before_stream_docs": seen_before_stream_docs,
        "token_count_docs": token_count_docs,
        "quality_score_docs": quality_score_docs,
        "fingerprint_docs": fingerprint_docs,
    }


def training_oracles() -> dict:
    from .functions.text import QUALITY_MILLISCORE_SQL
    from .operators.sample import sample_threshold_hex

    shingle = (
        "list_distinct([substring(text, i, 5) "
        "for i in generate_series(1, greatest(length(text)-4, 1))])"
    )
    oracles = {
        "exact_dedup_docs": (
            f"WITH aug AS ({_AUG_DOCS_SQL}) "
            "SELECT d.doc_id, m.rep_id FROM aug d JOIN "
            "(SELECT text, MIN(doc_id) AS rep_id FROM aug GROUP BY text) m "
            "USING (text)"
        ),
        "exact_dedup_map_docs": (
            f"WITH aug AS ({_AUG_DOCS_SQL}) "
            "SELECT md5(text) AS text_hash, MIN(doc_id) AS rep_id "
            "FROM aug GROUP BY 1"
        ),
        "minhash_near_dup_pairs": (
            f"WITH aug AS ({_AUG_DOCS_SQL}), "
            f"sh AS (SELECT doc_id, {shingle} AS s FROM aug) "
            "SELECT a.doc_id AS id_a, b.doc_id AS id_b FROM sh a JOIN sh b "
            "ON a.doc_id < b.doc_id "
            "WHERE CAST(len(list_intersect(a.s, b.s)) AS DOUBLE) / "
            "greatest(len(a.s) + len(b.s) - len(list_intersect(a.s, b.s)), 1) >= 0.8"
        ),
        "minhash_dense_dedup_docs": (
            "WITH RECURSIVE aug AS (SELECT doc_id, text FROM documents "
            f"UNION ALL SELECT 300000 + r.range, '{_DENSE_MINHASH_BASE} tag ' || "
            "lpad(CAST(r.range AS VARCHAR), 2, '0') FROM range(60) r), "
            f"sh AS (SELECT doc_id, {shingle} AS s FROM aug), "
            "edges AS (SELECT a.doc_id AS src, b.doc_id AS dst FROM sh a JOIN sh b "
            "ON a.doc_id < b.doc_id "
            "WHERE CAST(len(list_intersect(a.s, b.s)) AS DOUBLE) / "
            "greatest(len(a.s) + len(b.s) - len(list_intersect(a.s, b.s)), 1) >= 0.8), "
            "bidir AS (SELECT src, dst FROM edges UNION SELECT dst, src FROM edges), "
            "reach AS (SELECT doc_id AS id, doc_id AS label FROM aug "
            "UNION SELECT e.dst AS id, r.label FROM reach r JOIN bidir e ON e.src = r.id) "
            "SELECT id AS doc_id, CAST(MIN(label) AS BIGINT) AS cluster_rep, "
            "MIN(label) = id AS keep FROM reach GROUP BY id"
        ),
        "dup_cluster_assign": (
            f"WITH RECURSIVE aug AS ({_AUG_DOCS_SQL}), "
            f"sh AS (SELECT doc_id, {shingle} AS s FROM aug), "
            "edges AS (SELECT a.doc_id AS src, b.doc_id AS dst FROM sh a JOIN sh b "
            "ON a.doc_id < b.doc_id "
            "WHERE CAST(len(list_intersect(a.s, b.s)) AS DOUBLE) / "
            "greatest(len(a.s) + len(b.s) - len(list_intersect(a.s, b.s)), 1) >= 0.8), "
            "bidir AS (SELECT src, dst FROM edges UNION SELECT dst, src FROM edges), "
            "reach AS (SELECT doc_id AS id, doc_id AS label FROM aug "
            "UNION SELECT e.dst AS id, r.label FROM reach r JOIN bidir e ON e.src = r.id) "
            "SELECT id AS doc_id, CAST(MIN(label) AS BIGINT) AS cluster_rep, "
            "MIN(label) = id AS keep FROM reach GROUP BY id"
        ),
        "simhash_dups_docs": (
            "SELECT doc_id AS id_a, doc_id + 100000 AS id_b, TRUE AS simhash_found_all "
            "FROM (SELECT doc_id FROM documents ORDER BY doc_id LIMIT 5)"
        ),
        "ann_cosine_topk": (
            "SELECT q.vec_id AS query_id, n.vec_id AS neighbor_id, "
            "CAST(ROW_NUMBER() OVER (PARTITION BY q.vec_id ORDER BY "
            "list_cosine_similarity(q.embedding, n.embedding) DESC, n.vec_id) AS INT) AS rank "
            "FROM embeddings q JOIN embeddings n ON q.vec_id < 5 AND n.vec_id != q.vec_id "
            "QUALIFY rank <= 10"
        ),
        "ann_lsh_recall": (
            "SELECT CAST(10 AS BIGINT) AS n_queries, TRUE AS recall_above_070"
        ),
        "ann_ivf_recall": (
            "SELECT CAST(10 AS BIGINT) AS n_queries, TRUE AS recall_above_070"
        ),
        "cosine_near_dup_recall": (
            "SELECT CAST(50 AS BIGINT) AS n_true_pairs, "
            "TRUE AS recall_above_095, TRUE AS rerank_precise"
        ),
        "hash_sample_docs": (
            "SELECT doc_id FROM documents WHERE "
            "substring(md5(concat_ws(chr(31), coalesce(CAST(doc_id AS VARCHAR), chr(1)), '7')), 1, 8) "
            f"< '{sample_threshold_hex(0.25)}'"
        ),
        "stratified_docs_by_lang": (
            "SELECT lang, doc_id FROM documents QUALIFY ROW_NUMBER() OVER ("
            "PARTITION BY lang ORDER BY "
            "md5(concat_ws(chr(31), coalesce(CAST(doc_id AS VARCHAR), chr(1)), '7')), "
            "doc_id) <= 20"
        ),
        "clean_corpus_docs": (
            "WITH aug AS (SELECT doc_id, text, lang FROM documents "
            "UNION ALL SELECT doc_id + 100000, text, lang FROM "
            "(SELECT * FROM documents ORDER BY doc_id LIMIT 5)), "
            "stats AS (SELECT doc_id, text, lang, "
            "CAST(len(list_filter(regexp_split_to_array(trim(text), '\\s+'), x -> x <> '')) AS BIGINT) AS n_tokens, "
            f"{QUALITY_MILLISCORE_SQL.format(c='text')} AS quality_milli FROM aug), "
            "kept AS (SELECT * FROM stats WHERE n_tokens BETWEEN 5 AND 10000 "
            "AND quality_milli >= 300 AND lang IN ('en', 'fr')) "
            "SELECT doc_id, n_tokens, quality_milli FROM kept "
            "WHERE doc_id = (SELECT MIN(k2.doc_id) FROM kept k2 WHERE k2.text = kept.text)"
        ),
        "embedding_dedup_docs": (
            "WITH RECURSIVE aug AS (SELECT vec_id, embedding FROM embeddings "
            "UNION ALL SELECT vec_id + 10000, embedding FROM embeddings "
            "WHERE vec_id < 50), "
            "edges AS (SELECT a.vec_id AS src, b.vec_id AS dst "
            "FROM aug a JOIN aug b ON a.vec_id < b.vec_id "
            "WHERE list_cosine_similarity(a.embedding, b.embedding) >= 0.95), "
            "bidir AS (SELECT src, dst FROM edges UNION SELECT dst, src FROM edges), "
            "reach AS (SELECT vec_id AS id, vec_id AS label FROM aug "
            "UNION SELECT e.dst AS id, r.label FROM reach r JOIN bidir e ON e.src = r.id) "
            "SELECT id AS vec_id, CAST(MIN(label) AS BIGINT) AS cluster_rep, "
            "MIN(label) = id AS keep FROM reach GROUP BY id"
        ),
        "embedding_dedup_dense_docs": (
            "WITH RECURSIVE aug AS (SELECT vec_id, embedding FROM embeddings "
            "UNION ALL SELECT 20000 + r.range, e.embedding FROM range(60) r "
            "CROSS JOIN embeddings e WHERE e.vec_id = 0), "
            "edges AS (SELECT a.vec_id AS src, b.vec_id AS dst "
            "FROM aug a JOIN aug b ON a.vec_id < b.vec_id "
            "WHERE list_cosine_similarity(a.embedding, b.embedding) >= 0.95), "
            "bidir AS (SELECT src, dst FROM edges UNION SELECT dst, src FROM edges), "
            "reach AS (SELECT vec_id AS id, vec_id AS label FROM aug "
            "UNION SELECT e.dst AS id, r.label FROM reach r JOIN bidir e ON e.src = r.id) "
            "SELECT id AS vec_id, CAST(MIN(label) AS BIGINT) AS cluster_rep, "
            "MIN(label) = id AS keep FROM reach GROUP BY id"
        ),
        "media_decode_bmp": (
            "SELECT CAST(doc_id AS BIGINT) AS media_id, CAST(8 AS BIGINT) AS width, "
            "CAST(8 AS BIGINT) AS height, CAST(3 AS BIGINT) AS channels, "
            "CAST(ROUND(((doc_id % 200 + 20) / 255.0) * 1000) AS BIGINT) AS feature0_milli "
            "FROM (SELECT doc_id FROM documents ORDER BY doc_id LIMIT 8)"
        ),
        "seen_before_stream_docs": (
            "SELECT doc_id FROM documents WHERE doc_id = "
            "(SELECT MIN(d2.doc_id) FROM documents d2 WHERE d2.text = documents.text) "
            "UNION ALL SELECT 400000 + r.range AS doc_id FROM range(5) r"
        ),
        "token_count_docs": (
            "SELECT doc_id, CAST(len(list_filter(regexp_split_to_array(trim(text), '\\s+'), x -> x <> '')) AS BIGINT) "
            "AS n_tokens FROM documents"
        ),
        "quality_score_docs": (
            f"SELECT doc_id, {QUALITY_MILLISCORE_SQL.format(c='text')} AS quality_milli "
            "FROM documents"
        ),
        "fingerprint_docs": (
            "SELECT CAST(COUNT(*) AS BIGINT) AS n_docs, "
            "CAST(COUNT(DISTINCT lower(trim(text))) AS BIGINT) AS distinct_texts, "
            "TRUE AS fingerprint_matches_texts FROM documents"
        ),
    }
    # clean_corpus(dedup='map') matches the rows mode up to 128-bit md5
    # collisions (ADVICE r4) — same oracle SQL gates both
    oracles["clean_corpus_map_docs"] = oracles["clean_corpus_docs"]
    return oracles
