"""Spark integration (SURVEY.md §5.2 item 4): distributed build over
parquet == single-process build on collected rows (byte-identical for
HLL/CMS/Bloom given the deterministic hashing contract); salted ==
unsalted; grouped sketches; synthetic transcripts determinism."""

import numpy as np
import pytest
from pyspark.sql import functions as F

from probably_jl_spark.functions import batch_contains, batch_query_counts
from probably_jl_spark.operators.build import build_partials, sketch_table, tree_merge
from probably_jl_spark.operators.grouped import grouped_sketch
from probably_jl_spark.operators.specs import SketchSpec, sketch_from_bytes
from probably_jl_spark.sources.transcripts import (
    events_as_transcripts,
    synth_transcripts,
    with_latency,
)

SF = "/root/testdata/sf0.001"

SPECS = [
    SketchSpec("users", "hll", key_cols=("user_id",)),
    SketchSpec("user_type", "hll", key_cols=("user_id", "event_type")),
    SketchSpec("type_freq", "cms", key_cols=("event_type",), params={"width": 2048, "depth": 5}),
    SketchSpec("user_member", "bloom", key_cols=("user_id",), params={"m": 1 << 16, "k": 5}),
    SketchSpec("value_td", "tdigest", value_col="value"),
    SketchSpec("value_kll", "kll", value_col="value"),
    SketchSpec("users_kmv", "kmv", key_cols=("user_id",), params={"k": 64}),
    SketchSpec("user_heavy", "mg", key_cols=("user_id",), params={"k": 16}),
]


@pytest.fixture(scope="module")
def events(spark):
    return spark.read.parquet(f"{SF}/events.parquet")


def test_distributed_equals_local(spark, events):
    """The core law: N-partition build + tree merge == one local build
    over the same hashes, byte-identical for deterministic sketches."""
    ev = events.repartition(7)
    result = sketch_table(ev, SPECS)

    rows = ev.select(
        F.xxhash64("user_id").alias("hu"),
        F.xxhash64("user_id", "event_type").alias("hut"),
        F.xxhash64("event_type").alias("ht"),
        F.col("value").cast("double").alias("v"),
    ).toPandas()
    hu = rows["hu"].to_numpy(dtype=np.int64).view(np.uint64)
    hut = rows["hut"].to_numpy(dtype=np.int64).view(np.uint64)
    ht = rows["ht"].to_numpy(dtype=np.int64).view(np.uint64)

    local = {s.name: s.new() for s in SPECS}
    local["users"].update_hashes(hu)
    local["user_type"].update_hashes(hut)
    local["type_freq"].update_hashes(ht)
    local["user_member"].update_hashes(hu)
    local["users_kmv"].update_hashes(hu)

    # KMV is a pure function of the hash SET, so it joins the byte-exact
    # club regardless of partitioning/merge order
    for name in ("users", "user_type", "type_freq", "user_member", "users_kmv"):
        assert result.sketches[name].to_bytes() == local[name].to_bytes(), name

    # Misra-Gries states depend on the partition split (like KLL/t-digest);
    # the merged result must still satisfy all published bounds
    mg = result.sketches["user_heavy"]
    uids, true_counts = np.unique(rows["hu"].to_numpy(dtype=np.int64).view(np.uint64), return_counts=True)
    assert mg.n == len(rows)
    assert mg.deficit * (mg.k + 1) <= mg.n - int(mg.counts.sum())
    ests = mg.query_hashes(uids)
    assert np.all(ests <= true_counts)
    assert np.all(true_counts <= ests.astype(np.int64) + mg.deficit)

    exact_users = events.select("user_id").distinct().count()
    est = result.sketches["users"].cardinality()
    assert abs(est - exact_users) / exact_users <= 3 * 1.04 / np.sqrt(2**14)

    # quantile sketches: not byte-deterministic across partitionings, but
    # rank accuracy must hold
    vals = np.sort(rows["v"].to_numpy(dtype=np.float64))
    n = vals.size
    for q in (0.1, 0.5, 0.9, 0.99):
        for name in ("value_td", "value_kll"):
            est_v = result.sketches[name].quantile(q)
            lo = np.searchsorted(vals, est_v, side="left") / n
            hi = np.searchsorted(vals, est_v, side="right") / n
            err = 0.0 if lo <= q <= hi else min(abs(q - lo), abs(q - hi))
            assert err <= 0.02, f"{name} q={q} err={err}"

    assert result.n_rows == n


def test_repartitioning_invariance(spark, events):
    """Deterministic sketches are invariant to the partition layout."""
    a = sketch_table(events.repartition(3), SPECS[:4])
    b = sketch_table(events.repartition(13), SPECS[:4])
    for s in SPECS[:4]:
        assert a.sketches[s.name].to_bytes() == b.sketches[s.name].to_bytes()


def test_partials_lineage(spark, events):
    partials = build_partials(events.repartition(5), SPECS[:1]).toPandas()
    assert len(partials) == 5
    assert (partials["n_rows"] > 0).all()
    assert partials["n_rows"].sum() == 1000
    # file lineage is only available scan-side (input_file_name is empty
    # after a shuffle) — assert it on the unshuffled read
    direct = build_partials(events, SPECS[:1]).toPandas()
    assert all("events.parquet" in "".join(f) for f in direct["input_files"])
    merged = tree_merge(
        build_partials(events.repartition(5), SPECS[:1]), SPECS[:1]
    )
    assert merged["users"].cardinality() > 0


def test_grouped_and_salted_agree(spark, events):
    """salted == unsalted (SURVEY.md §5.2), byte-identical states."""
    specs = [
        SketchSpec("u", "hll", key_cols=("user_id",)),
        SketchSpec("v", "tdigest", value_col="value"),
    ]
    plain = (
        grouped_sketch(events, ["event_type"], specs)
        .toPandas()
        .set_index("event_type")
        .sort_index()
    )
    salted = (
        grouped_sketch(events, ["event_type"], specs, salt_buckets=8)
        .toPandas()
        .set_index("event_type")
        .sort_index()
    )
    assert list(plain.index) == list(salted.index)
    assert (plain["n_rows"] == salted["n_rows"]).all()
    for et in plain.index:
        a = sketch_from_bytes(plain.loc[et, "state_u"])
        b = sketch_from_bytes(salted.loc[et, "state_u"])
        assert a.to_bytes() == b.to_bytes(), f"salted HLL mismatch for {et}"
    # per-group estimates vs exact
    exact = {
        r["event_type"]: r["n"]
        for r in events.groupBy("event_type")
        .agg(F.countDistinct("user_id").alias("n"))
        .collect()
    }
    for et, n in exact.items():
        est = sketch_from_bytes(plain.loc[et, "state_u"]).cardinality()
        assert abs(est - n) / n <= 3 * 1.04 / np.sqrt(2**14) + 0.02


def test_batch_query_functions(spark, events):
    res = sketch_table(events, SPECS[:4])
    bloom = res.sketches["user_member"]
    cms = res.sketches["type_freq"]

    present = events.select("user_id").distinct()
    out = batch_contains(present, ["user_id"], bloom).toPandas()
    assert out["member"].all()  # no false negatives

    absent = spark.range(10_000, 12_000).select(F.col("id").alias("user_id"))
    fpr = batch_contains(absent, ["user_id"], bloom).toPandas()["member"].mean()
    assert fpr <= 0.01

    exact = events.groupBy("event_type").count().toPandas()
    est = batch_query_counts(
        exact.pipe(lambda p: spark.createDataFrame(p[["event_type"]])), ["event_type"], cms
    ).toPandas()
    j = exact.merge(est, on="event_type")
    assert (j["est_count"] >= j["count"]).all()  # CMS never underestimates


def test_synth_transcripts_deterministic(spark):
    a = synth_transcripts(spark, n_convs=200, seed=42)
    b = synth_transcripts(spark, n_convs=200, seed=42)
    pa = a.orderBy("conv_id", "turn_idx").toPandas()
    pb = b.orderBy("conv_id", "turn_idx").toPandas()
    # per-row invariant: per-turn text equality under stable ordering
    assert (pa["text"] == pb["text"]).all()
    assert (pa["conv_id"] == pb["conv_id"]).all()
    assert pa["turn_idx"].tolist() == pb["turn_idx"].tolist()
    assert set(pa["role"].unique()) <= {"user", "assistant", "system", "tool"}
    # skew: conversation sizes vary (Zipf-ish)
    sizes = pa.groupby("conv_id").size()
    assert sizes.max() >= 5 * sizes.median()
    # tool null-rate ~70%
    assert 0.5 < pa["tool"].isna().mean() < 0.9


def test_transcripts_sketch_pipeline(spark):
    """Flagship slice over transcripts: distinct conversations via HLL."""
    tr = synth_transcripts(spark, n_convs=500, seed=42)
    specs = [
        SketchSpec("convs", "hll", key_cols=("conv_id",)),
        SketchSpec("conv_tool", "hll", key_cols=("conv_id", "tool")),
        SketchSpec("role_freq", "cms", key_cols=("role",)),
        SketchSpec("turn_len", "kll", value_col="text_len"),
    ]
    tr2 = tr.withColumn("text_len", F.length("text").cast("double"))
    res = sketch_table(tr2, specs)
    assert abs(res.sketches["convs"].cardinality() - 500) / 500 <= 0.05
    total = res.n_rows
    exact_roles = {r["role"]: r["count"] for r in tr2.groupBy("role").count().collect()}
    for role, n in exact_roles.items():
        est = res.sketches["role_freq"].query(role)
        assert n <= est <= n + 0.001 * total + 1


def test_latency_window(spark, events):
    tr = events_as_transcripts(events)
    lat = with_latency(tr)
    pdf = lat.filter(F.col("latency_sec").isNotNull()).select("latency_sec").toPandas()
    assert (pdf["latency_sec"] >= 0).all()
    assert len(pdf) > 0


def test_count_col_cms_byte_identical(spark, events):
    """Pre-aggregated (key, count) rows (SURVEY.md §1.2 "Multiplicities"):
    a CMS with ``count_col`` over ``groupBy(key).count()`` must be
    byte-identical to the per-row build (saturating adds are monotone)."""
    spec = SketchSpec("t", "cms", key_cols=("event_type",), params={"width": 1024, "depth": 4})
    row_path = sketch_table(events, [spec])
    assert row_path.n_rows == 1000
    counts = events.groupBy("event_type").count()
    weighted = SketchSpec(
        "t", "cms", key_cols=("event_type",), count_col="count", params=spec.params
    )
    pre_path = sketch_table(counts, [weighted])
    assert pre_path.sketches["t"].to_bytes() == row_path.sketches["t"].to_bytes()
    assert pre_path.n_rows == counts.count()


def test_empty_spec_list_raises(spark, events):
    """No specs is a caller error at plan time, on both entry points,
    not a PythonException from the executor."""
    with pytest.raises(ValueError, match="build_partials: specs is empty"):
        build_partials(events, [])
    with pytest.raises(ValueError, match="build_partials: specs is empty"):
        sketch_table(events, [])


def test_grouped_flush_cap_is_lossless(spark, events):
    """Bounded-memory stage 1: forcing mid-partition state flushes (cap=3
    on ~150 distinct user groups) must yield byte-identical merged states
    for commutative kinds and identical n_rows."""
    specs = [SketchSpec("t", "hll", key_cols=("event_type",))]
    base = (
        grouped_sketch(events, ["user_id"], specs)
        .toPandas().set_index("user_id").sort_index()
    )
    flushed = (
        grouped_sketch(events, ["user_id"], specs, max_states_per_partition=3)
        .toPandas().set_index("user_id").sort_index()
    )
    assert list(base.index) == list(flushed.index)
    assert (base["n_rows"] == flushed["n_rows"]).all()
    for uid in base.index:
        assert base.loc[uid, "state_t"] == flushed.loc[uid, "state_t"]


def test_grouped_no_row_shuffle(spark, events):
    """The streaming grouped plan must shuffle serialized states, not input
    rows: exactly one Exchange (plus the salt level if requested), and it
    sits ABOVE the mapInPandas partial build."""
    specs = [SketchSpec("u", "hll", key_cols=("user_id",))]
    plan = grouped_sketch(events, ["event_type"], specs)._jdf.queryExecution().executedPlan().toString()
    # one exchange for the per-key state merge; the row scan feeds
    # MapInPandas directly with no exchange below it
    assert plan.count("Exchange") == 1
    before_exchange = plan.split("Exchange")[-1]  # bottom of the plan tree
    assert "MapInPandas" in before_exchange


def test_sql_estimator_functions(spark, events):
    """functions/sql.py: the pjs_* SQL UDFs must agree with the Python
    estimator API on the same states (string-keyed build so the SQL
    string keys hash identically to the build)."""
    from probably_jl_spark.functions.sql import register_sketch_sql_functions
    from probably_jl_spark.operators.specs import sketch_from_bytes

    register_sketch_sql_functions(spark)
    ev = events.withColumn("et", F.col("event_type"))
    specs = [
        SketchSpec("u", "hll", key_cols=("user_id",)),
        SketchSpec("c", "cms", key_cols=("et",)),
        SketchSpec("b", "bloom", key_cols=("et",), params={"m": 1 << 14, "k": 4}),
        SketchSpec("v", "kll", value_col="value"),
        SketchSpec("k", "kmv", key_cols=("user_id",), params={"k": 64}),
        SketchSpec("g", "mg", key_cols=("et",), params={"k": 8}),
    ]
    grouped_sketch(ev, ["event_type"], specs).createOrReplaceTempView("st")

    rows = spark.sql(
        "SELECT event_type, pjs_cardinality(state_u) AS card, "
        "pjs_cardinality(state_k) AS kcard, "
        "pjs_count(state_c, event_type) AS cnt, "
        "pjs_count(state_g, event_type) AS mg_cnt, "
        "pjs_contains(state_b, event_type) AS member, "
        "pjs_contains(state_b, 'definitely-absent-key') AS absent, "
        "pjs_quantile(state_v, 0.5) AS p50, "
        "state_u, state_k, state_g FROM st"
    ).collect()
    for r in rows:
        sk = sketch_from_bytes(bytes(r["state_u"]))
        assert r["card"] == sk.cardinality()
        assert r["kcard"] == sketch_from_bytes(bytes(r["state_k"])).cardinality()
        mg = sketch_from_bytes(bytes(r["state_g"]))
        assert r["mg_cnt"] == mg.query(r["event_type"])
        assert 1 <= r["mg_cnt"] <= r["cnt"]  # MG lower bound <= true <= CMS upper
        assert r["member"] is True  # no false negatives
        assert r["absent"] in (True, False)  # bloom may false-positive, never NULL/crash
        assert r["cnt"] >= 1  # CMS of the group's own key: at least its rows
        assert r["p50"] == r["p50"]  # not NaN

    # KMV direct SQL intersection == python estimator (users in both segments)
    got = spark.sql(
        "SELECT pjs_intersection(a.state_k, b.state_k) AS i "
        "FROM st a JOIN st b ON a.event_type = 'click' AND b.event_type = 'error'"
    ).collect()[0]["i"]
    ka, kb = (
        sketch_from_bytes(
            bytes(spark.sql(f"SELECT state_k FROM st WHERE event_type = '{t}'").collect()[0][0])
        )
        for t in ("click", "error")
    )
    assert got == ka.intersection_cardinality(kb)

    # pairwise SQL merge == python merge
    merged = spark.sql(
        "SELECT pjs_cardinality(pjs_merge(a.state_u, b.state_u)) AS m "
        "FROM st a JOIN st b ON a.event_type = 'click' AND b.event_type = 'error'"
    ).collect()[0]["m"]
    pa, pb = (
        sketch_from_bytes(
            bytes(spark.sql(f"SELECT state_u FROM st WHERE event_type = '{t}'").collect()[0][0])
        )
        for t in ("click", "error")
    )
    assert merged == pa.merge(pb).cardinality()


def test_sql_estimators_null_blobs(spark):
    """NULL state blobs yield NULL estimates, never a crash (nullable
    Int64 return path)."""
    import numpy as np

    from probably_jl_spark.functions.sql import register_sketch_sql_functions
    from probably_jl_spark.sketches.cms import CountMinSketch
    from probably_jl_spark.sketches.hashing import xxhash64_any

    register_sketch_sql_functions(spark)
    c = CountMinSketch(256, 3)
    c.update_hashes(np.array([xxhash64_any("k")] * 5, dtype=np.uint64))
    df = spark.createDataFrame([(1, bytearray(c.to_bytes())), (2, None)], "id long, st binary")
    df.createOrReplaceTempView("t_null_blob")
    rows = spark.sql("SELECT id, pjs_count(st, 'k') AS n FROM t_null_blob").collect()
    assert dict((r.id, r.n) for r in rows) == {1: 5, 2: None}


def test_sql_estimators_null_and_kind_semantics(spark):
    """Review r02 pass 3: NULL keys query the NULL group (matching the
    build's JVM NULL hashing); NULL q yields NULL; wrong sketch kinds
    raise clear TypeErrors, not bare AttributeErrors."""
    import numpy as np

    from probably_jl_spark.functions.sql import register_sketch_sql_functions
    from probably_jl_spark.operators.specs import SketchSpec
    from probably_jl_spark.operators.build import sketch_table

    register_sketch_sql_functions(spark)
    # rows with NULL keys: the CMS build inserts them under the NULL hash
    ev = spark.createDataFrame(
        [("a",), ("a",), (None,), (None,), (None,)], "k string"
    )
    res = sketch_table(ev, [SketchSpec("c", "cms", key_cols=("k",))])
    spark.createDataFrame(
        [(bytearray(res.sketches["c"].to_bytes()),)], "st binary"
    ).createOrReplaceTempView("t_cms")
    rows = spark.sql(
        "SELECT pjs_count(st, 'a') AS a_cnt, "
        "pjs_count(st, CAST(NULL AS STRING)) AS null_cnt FROM t_cms"
    ).collect()[0]
    assert rows["a_cnt"] == 2 and rows["null_cnt"] == 3

    # NULL quantile arg -> NULL (was: silently the sketch max)
    from probably_jl_spark.sketches.kll import KLL

    kl = KLL(200)
    kl.update_values(np.arange(100, dtype=np.float64))
    spark.createDataFrame([(bytearray(kl.to_bytes()),)], "st binary").createOrReplaceTempView(
        "t_kll"
    )
    assert (
        spark.sql("SELECT pjs_quantile(st, CAST(NULL AS DOUBLE)) AS q FROM t_kll").collect()[0]["q"]
        is None
    )

    # wrong kind -> clear TypeError surfaced in the Python exception
    import pytest as _pytest

    with _pytest.raises(Exception, match="pjs_cardinality expects"):
        spark.sql("SELECT pjs_cardinality(st) FROM t_cms").collect()


def test_intersection_cardinality():
    """Inclusion-exclusion HLL intersection: overlapping sets estimate
    near the true overlap; disjoint sets clamp at >= 0; kind mismatches
    raise."""
    import numpy as np

    from probably_jl_spark.functions import intersection_cardinality
    from probably_jl_spark.sketches.cms import CountMinSketch
    from probably_jl_spark.sketches.hashing import xxhash64_any
    from probably_jl_spark.sketches.hll import HyperLogLog

    def hll_of(keys):
        h = HyperLogLog(14)
        h.update_hashes(np.array([xxhash64_any(k) for k in keys], dtype=np.uint64))
        return h

    a = hll_of([f"k{i}" for i in range(0, 3000)])
    b = hll_of([f"k{i}" for i in range(2000, 5000)])
    est = intersection_cardinality(a, b)
    assert abs(est - 1000) <= 3 * 1.04 / np.sqrt(2**14) * (3000 + 3000 + 5000) + 5

    disjoint = intersection_cardinality(hll_of(["x"]), hll_of(["y"]))
    assert disjoint >= 0.0

    # also accepts serialized blobs
    assert intersection_cardinality(a.to_bytes(), b.to_bytes()) == est

    with pytest.raises(TypeError):
        intersection_cardinality(a, CountMinSketch(64, 3))


def test_grouped_nan_key_single_state(spark):
    """ADVICE r02: a NaN key must not fragment into one group per batch
    (same _ORD_COL -> merge order rides on shuffle row order). The key
    projection (``_group_key``) turns NaN keys into null, and the generic
    stage-1 builder, whose Arrow key coder codes null keys as one group,
    must emit exactly ONE state row per (partition, NaN-group), however
    many batches feed it."""
    import pandas as pd
    import pyarrow as pa

    from probably_jl_spark.operators.build import plan_columns
    from probably_jl_spark.operators.grouped import _SketchKernel, _row_builder

    specs = [SketchSpec("v", "tdigest", value_col="value")]
    _, col_map = plan_columns(specs)

    def batch(g, v):
        # FloatType keys, NaN turned into null as the projection does
        g = pa.array(np.array(g, dtype=np.float32), from_pandas=True)
        return pa.RecordBatch.from_arrays([g, pa.array(v)], names=["g", "__v0"])

    batches = [
        batch([np.nan, 1.0], [1.0, 2.0]),
        batch([np.nan, 1.0], [3.0, 4.0]),
        batch([np.nan], [5.0]),
    ]
    stage1 = _row_builder(specs, ["g"], col_map, 1 << 16, _SketchKernel())
    out = pd.concat([rb.to_pandas() for rb in stage1(iter(batches))])
    # one row for the NaN group, one for key 1.0 — not one per batch
    assert len(out) == 2, out
    nan_rows = out[out["g"].isna()]
    assert len(nan_rows) == 1
    assert int(nan_rows["n_rows"].iloc[0]) == 3


def test_sql_estimator_rejects_non_string_keys(spark, events):
    """ADVICE r02: a numeric key hashes differently than the string the
    build hashed — the SQL surface must fail loudly, not return counts
    for the wrong hash."""
    import pytest
    from py4j.protocol import Py4JJavaError

    from probably_jl_spark.functions.sql import register_sketch_sql_functions

    register_sketch_sql_functions(spark)
    specs = [SketchSpec("c", "cms", key_cols=("event_type",))]
    grouped_sketch(events, ["event_type"], specs).createOrReplaceTempView("st_typed")
    with pytest.raises((Py4JJavaError, Exception), match="STRING keys"):
        spark.sql("SELECT pjs_count(state_c, 123) FROM st_typed").collect()
    # NULL keys still query the NULL group (no raise)
    spark.sql("SELECT pjs_count(state_c, NULL) AS c FROM st_typed").collect()


def test_grouped_auto_salt_bounds_fan_in(spark, events):
    """VERDICT r02 #4: the default salt level must be derived from the
    scan's partition count so a very wide scan never funnels one key's
    per-partition states into a single applyInPandas group."""
    from probably_jl_spark.operators.grouped import (
        _auto_salt_buckets,
        _pre_merge_states,
    )

    assert _auto_salt_buckets(8) == 1
    assert _auto_salt_buckets(256) == 1
    assert _auto_salt_buckets(100_000) == 390

    specs = [
        SketchSpec("u", "hll", key_cols=("user_id",)),
        SketchSpec("v", "tdigest", value_col="value"),
    ]
    wide = events.repartition(40)
    pre = _pre_merge_states(
        wide, ["event_type"], specs, salt_buckets=8, max_states_per_partition=1 << 16
    ).toPandas()
    per_key = pre.groupby("event_type").size()
    assert (per_key <= 8).all(), per_key  # final merge reads <= S rows/key

    # the auto default (None -> S=2 at 520 partitions) stays byte-exact
    wider = events.repartition(520)
    auto = (
        grouped_sketch(wider, ["event_type"], specs)
        .toPandas().set_index("event_type").sort_index()
    )
    plain = (
        grouped_sketch(wider, ["event_type"], specs, salt_buckets=1)
        .toPandas().set_index("event_type").sort_index()
    )
    assert list(auto.index) == list(plain.index)
    for et in auto.index:
        # merge-order/tree-invariant kind: byte-exact across salt levels
        assert auto.loc[et, "state_u"] == plain.loc[et, "state_u"]
        # t-digest bytes depend on the merge TREE (one clustering pass per
        # merge), so across salt levels assert estimate agreement instead
        a = sketch_from_bytes(auto.loc[et, "state_v"])
        p = sketch_from_bytes(plain.loc[et, "state_v"])
        assert a.n == p.n
        # ~2 rows/partition at 520 partitions: tiny partial digests, so
        # tree-shape effects are at their worst — 5% p50 agreement
        assert abs(a.quantile(0.5) - p.quantile(0.5)) <= 0.05 * max(
            abs(p.quantile(0.5)), 1.0
        )


def test_grouped_hll_fast_path_byte_identical(spark, events):
    """All-HLL spec lists dispatch to the vectorized packed-entries
    builder + partition-wide register-max merge. Gate: partials AND the
    final grouped output are byte-identical to the generic route (one
    sketch per key in stage 1, per-key applyInPandas merge), across flush
    caps, NaN float keys, and multi-column group keys."""
    from pyspark.sql import functions as F
    from pyspark.sql.types import StructType

    from probably_jl_spark.operators.grouped import (
        _ORD_COL,
        _merge_groups,
        _pre_merge_states,
        grouped_sketch,
    )

    def generic_route(df, group_cols, specs, cap=1 << 16):
        # _pre_merge_states always builds one sketch per key (the all-HLL
        # dispatch lives ONLY in grouped_sketch), so this is a true
        # independent baseline for the fast path
        pre = _pre_merge_states(df, group_cols, specs, None, cap)
        out_schema = StructType([f for f in pre.schema.fields if f.name != _ORD_COL])
        return pre.groupBy(*group_cols).applyInPandas(
            _merge_groups(specs, group_cols, with_ord=False), schema=out_schema
        )

    def assert_same(df, group_cols, specs, cap=1 << 16):
        key = list(group_cols)
        fast = (
            grouped_sketch(df, group_cols, specs, max_states_per_partition=cap)
            .toPandas().sort_values(key, na_position="first").reset_index(drop=True)
        )
        gen = (
            generic_route(df, group_cols, specs, cap)
            .toPandas().sort_values(key, na_position="first").reset_index(drop=True)
        )
        assert len(fast) == len(gen)
        assert (fast["n_rows"] == gen["n_rows"]).all()
        for s in specs:
            assert all(
                a == b for a, b in zip(fast[s.state_col], gen[s.state_col])
            ), s.name

    specs = [SketchSpec("u", "hll", key_cols=("user_id",))]
    assert_same(events.repartition(5), ["event_type"], specs)
    # tiny flush cap: mid-partition flush points must align byte-exactly
    assert_same(events.repartition(3), ["user_id"], [
        SketchSpec("t", "hll", key_cols=("event_type",))
    ], cap=3)
    # two HLL specs with different keys and p
    assert_same(events.repartition(4), ["event_type"], [
        SketchSpec("a", "hll", key_cols=("user_id",)),
        SketchSpec("b", "hll", key_cols=("user_id", "event_type"), params={"p": 12}),
    ])
    # multi-column group keys
    assert_same(events.repartition(4), ["event_type", "user_id"], specs)
    # NaN float group keys collapse to one group, not one per batch/mode
    nanev = events.withColumn(
        "fkey",
        F.when(F.col("user_id") % 3 == 0, F.lit(None).cast("double"))
        .otherwise((F.col("user_id") % 5).cast("double")),
    )
    assert_same(nanev.repartition(4), ["fkey"], specs)


def test_grouped_hll_fast_path_dense_partials(spark, events):
    """A group whose partial crosses m/8 nonzero registers ships a dense
    v1 blob; the vectorized merge must decode both wire versions. p=6
    (m=64, densify above 8 entries) forces dense partials on ~150
    distinct users per group."""
    from probably_jl_spark.operators.grouped import grouped_sketch
    from probably_jl_spark.sketches import codec
    from probably_jl_spark.sketches.hll import HyperLogLog

    specs = [SketchSpec("u", "hll", key_cols=("user_id",), params={"p": 6})]
    out = (
        grouped_sketch(events.repartition(3), ["event_type"], specs)
        .toPandas().set_index("event_type").sort_index()
    )
    exact = {
        r["event_type"]: r["n"]
        for r in events.groupBy("event_type")
        .agg(F.countDistinct("user_id").alias("n"))
        .collect()
    }
    saw_dense = False
    for et, row in out.iterrows():
        blob = row["state_u"]
        saw_dense |= codec.peek_version(blob) == 1
        est = HyperLogLog.from_bytes(blob).cardinality()
        assert abs(est - exact[et]) <= 3 * HyperLogLog.error_bound(6) * exact[et] + 3
    assert saw_dense  # the dense branch actually exercised


def test_grouped_kmv_fast_path_byte_identical(spark, events):
    """All-KMV spec lists take the vectorized (group, hash) k-min route;
    gate: byte-identical to the generic route (one sketch per key in
    stage 1, per-key applyInPandas merge), across flush caps and multi-spec lists, and
    exact per-group distincts below capacity."""
    from pyspark.sql.types import StructType

    from probably_jl_spark.operators.grouped import (
        _ORD_COL,
        _merge_groups,
        _pre_merge_states,
        grouped_sketch,
    )

    def generic_route(df, group_cols, specs, cap=1 << 16):
        pre = _pre_merge_states(df, group_cols, specs, None, cap)
        out_schema = StructType([f for f in pre.schema.fields if f.name != _ORD_COL])
        return pre.groupBy(*group_cols).applyInPandas(
            _merge_groups(specs, group_cols, with_ord=False), schema=out_schema
        )

    def assert_same(df, group_cols, specs, cap=1 << 16):
        key = list(group_cols)
        fast = (
            grouped_sketch(df, group_cols, specs, max_states_per_partition=cap)
            .toPandas().sort_values(key, na_position="first").reset_index(drop=True)
        )
        gen = (
            generic_route(df, group_cols, specs, cap)
            .toPandas().sort_values(key, na_position="first").reset_index(drop=True)
        )
        assert len(fast) == len(gen)
        assert (fast["n_rows"] == gen["n_rows"]).all()
        for s in specs:
            assert all(a == b for a, b in zip(fast[s.state_col], gen[s.state_col])), s.name

    assert_same(
        events.repartition(5), ["event_type"],
        [SketchSpec("u", "kmv", key_cols=("user_id",), params={"k": 64})],
    )
    assert_same(
        events.repartition(3), ["user_id"],
        [SketchSpec("t", "kmv", key_cols=("event_type",), params={"k": 16})],
        cap=3,  # mid-partition flushes must align byte-exactly
    )
    assert_same(
        events.repartition(4), ["event_type", "user_id"],
        [
            SketchSpec("a", "kmv", key_cols=("user_id",), params={"k": 32}),
            SketchSpec("b", "kmv", key_cols=("user_id", "event_type"), params={"k": 128}),
        ],
    )
    # below-capacity exactness: per-group distinct users per type
    out = (
        grouped_sketch(
            events, ["event_type"],
            [SketchSpec("u", "kmv", key_cols=("user_id",), params={"k": 4096})],
        ).toPandas().set_index("event_type")
    )
    exact = {
        r["event_type"]: r["n"]
        for r in events.groupBy("event_type")
        .agg(F.countDistinct("user_id").alias("n"))
        .collect()
    }
    for et, row in out.iterrows():
        assert sketch_from_bytes(row["state_u"]).cardinality() == float(exact[et])


def test_sql_kmv_set_ops_between_groups(spark, events):
    """pjs_jaccard / pjs_difference / pjs_intersection over a self-join
    of grouped KMV states: per-group-PAIR overlap in plain SQL. k=4096
    far exceeds the ~150 distinct users per group, so the sampled set ops
    are EXACT and can be checked against the true set algebra."""
    from probably_jl_spark.functions.sql import register_sketch_sql_functions

    register_sketch_sql_functions(spark)
    grouped_sketch(
        events, ["event_type"],
        [SketchSpec("u", "kmv", key_cols=("user_id",), params={"k": 4096})],
    ).createOrReplaceTempView("type_users")
    got = spark.sql(
        """
        SELECT a.event_type AS ta, b.event_type AS tb,
               pjs_jaccard(a.state_u, b.state_u) AS j,
               pjs_intersection(a.state_u, b.state_u) AS i,
               pjs_difference(a.state_u, b.state_u) AS d
        FROM type_users a JOIN type_users b ON a.event_type < b.event_type
        """
    ).toPandas()
    sets = {
        r["event_type"]: set(r["us"])
        for r in events.groupBy("event_type")
        .agg(F.collect_set("user_id").alias("us"))
        .collect()
    }
    assert len(got) > 0
    for _, r in got.iterrows():
        a, b = sets[r["ta"]], sets[r["tb"]]
        assert r["j"] == len(a & b) / len(a | b)
        assert r["i"] == len(a & b)
        assert r["d"] == len(a - b)


def test_negative_count_column_raises(spark):
    """A negative count must fail loudly BEFORE the int64->uint64
    reinterpretation (code-review r5: -1 wrapped to 2^64-1, sailing past
    MG's own negative-weight guard and poisoning CMS cells)."""
    df = spark.createDataFrame(
        [("a", 3), ("b", -1)], "k string, cnt bigint"
    )
    with pytest.raises(Exception, match="negative"):
        sketch_table(
            df,
            [SketchSpec("f", "cms", key_cols=("k",), count_col="cnt")],
        )


def test_generic_route_nullable_count_exact(spark):
    """A nullable count column reaches the pandas routes as exact int64:
    a generic-route Misra-Gries state over counts 2^63 - 1 and null has
    the bytes of an in-process update with 2^63 - 1 and 0. PySpark's
    Arrow->pandas conversion widens an int64 column holding a null to
    float64; 2^63 - 1 then rounds to 2^63, which wraps negative in int64
    and failed the negative-count check."""
    spec = SketchSpec("m", "mg", key_cols=("k",), count_col="cnt", params={"k": 8})
    big = (1 << 63) - 1
    df = spark.createDataFrame([("g", "a", big), ("g", "b", None)], "g string, k string, cnt bigint")
    df = df.coalesce(1)
    got = grouped_sketch(df, ["g"], [spec]).collect()
    assert len(got) == 1 and got[0]["n_rows"] == 2
    h = np.array([r[0] for r in df.selectExpr("xxhash64(k)").collect()], dtype=np.int64)
    want = spec.new()
    spec.update(want, h.view(np.uint64), None, np.array([big, 0], dtype=np.uint64))
    assert bytes(got[0]["state_m"]) == want.to_bytes()


def test_synth_transcripts_monotone_ts(spark):
    """Timestamps are strictly monotone within a conversation (true
    cumulative gaps): with_latency over the fixture must never read a
    negative latency (code-review r5: turn_idx * re-drawn gap was
    non-monotone)."""
    from probably_jl_spark.sources.transcripts import with_latency

    tr = synth_transcripts(spark, n_convs=300, seed=42)
    neg = with_latency(tr).filter("latency_sec < 0").count()
    assert neg == 0


def test_grouped_direct_route_byte_identical(spark, events):
    """The r6 direct route (pre_partial=False: raw rows shuffle once,
    final states built in a single post-shuffle pass) must emit states
    and n_rows byte-identical to the partial route — HLL/KMV states are
    pure set functions of the hashes seen, so the stage-1 shape cannot
    show in the output. Also pins the auto decision's two regimes."""
    from probably_jl_spark.operators.grouped import _preagg_dedup_ratio, grouped_sketch

    for specs in (
        [SketchSpec("u", "hll", key_cols=("user_id",))],
        [SketchSpec("u", "kmv", key_cols=("user_id",), params={"k": 64})],
    ):
        for group_cols in (["event_type"], ["user_id", "event_type"]):
            key = list(group_cols)
            a = (
                grouped_sketch(events.repartition(5), group_cols, specs, pre_partial=True)
                .toPandas().sort_values(key).reset_index(drop=True)
            )
            b = (
                grouped_sketch(events.repartition(3), group_cols, specs, pre_partial=False)
                .toPandas().sort_values(key).reset_index(drop=True)
            )
            assert len(a) == len(b)
            assert (a["n_rows"] == b["n_rows"]).all()
            assert all(x == y for x, y in zip(a["state_u"], b["state_u"]))
    # decision input: few distinct groups => low ratio (partial route),
    # all-distinct keys => ratio ~1 (direct route)
    ev = events.select("event_type", "user_id", "event_id")
    assert _preagg_dedup_ratio(ev, ["event_type"], 200_000) <= 0.5
    assert _preagg_dedup_ratio(ev, ["event_id"], 200_000) > 0.5


def test_grouped_arrow_route_null_and_float_keys(spark, events):
    """Key edges of the one Arrow direct builder: a NULL group key forms
    its own group with states identical to the partial route (Arrow codes
    it at first sight, as pandas does); float keys are normalized in the
    direct route's projection, so NaN lands in one group, -0.0 and 0.0
    in one group, and null and NaN in one null group, as the pandas
    routes group them; multi-column keys with null parts fold per-column
    codes. States, n_rows and keys match the partial route."""
    from probably_jl_spark.operators.grouped import grouped_sketch

    specs = [SketchSpec("u", "hll", key_cols=("user_id",))]

    def routes(df, group_cols):
        out = []
        for parts, pre_partial in ((5, True), (3, False)):
            out.append(
                grouped_sketch(df.repartition(parts), group_cols, specs, pre_partial=pre_partial)
                .toPandas().sort_values(group_cols, na_position="last").reset_index(drop=True)
            )
        return out

    def assert_same(a, b, group_cols):
        assert len(a) == len(b)
        assert a[group_cols].equals(b[group_cols])
        assert (a["n_rows"] == b["n_rows"]).all()
        assert all(x == y for x, y in zip(a["state_u"], b["state_u"]))

    ev = events.withColumn(
        "etype_n", F.when(F.col("event_type") == "click", None).otherwise(F.col("event_type"))
    )
    a, b = routes(ev, ["etype_n"])
    assert a["etype_n"].isna().sum() == 1 and b["etype_n"].isna().sum() == 1
    assert_same(a, b, ["etype_n"])

    # float key with NaN: both routes must land the NaNs in ONE group
    evf = events.withColumn(
        "fkey", F.when(F.col("event_type") == "click", float("nan")).otherwise(F.lit(1.0))
    )
    fa, fb = routes(evf, ["fkey"])
    assert len(fa) == len(fb) == 2
    assert_same(fa, fb, ["fkey"])

    # -0.0 and 0.0 form one group; null and NaN form one null group
    u = F.col("user_id") % 4
    evz = ev.withColumn(
        "zkey",
        F.when(u == 0, F.lit(None).cast("double"))
        .when(u == 1, float("nan"))
        .when(u == 2, F.lit(-0.0))
        .otherwise(F.lit(0.0)),
    )
    za, zb = routes(evz, ["zkey"])
    assert len(za) == len(zb) == 2
    assert_same(za, zb, ["zkey"])
    # a FloatType key normalizes the same way and keeps its type
    zfa, zfb = routes(evz.withColumn("zkey", F.col("zkey").cast("float")), ["zkey"])
    assert zfb["zkey"].dtype == np.float32
    assert_same(zfa, zfb, ["zkey"])

    # multi-column keys with null parts
    ma, mb = routes(evz, ["etype_n", "zkey"])
    assert ma["etype_n"].isna().any() and ma["zkey"].isna().any()
    assert_same(ma, mb, ["etype_n", "zkey"])


def test_grouped_direct_route_rejects_nested_keys(spark, events):
    """Arrow has no dictionary kernel for nested types: a struct, array or
    map group column on the direct route fails at plan time, naming the
    operator and the column."""
    from probably_jl_spark.operators.grouped import grouped_sketch

    specs = [SketchSpec("u", "hll", key_cols=("user_id",))]
    nested = events.select(
        "user_id",
        F.struct("event_type").alias("s"),
        F.array("event_type").alias("a"),
        F.create_map("event_type", "user_id").alias("m"),
    )
    for c in ("s", "a", "m"):
        with pytest.raises(ValueError, match=rf"grouped_sketch: group column '{c}'"):
            grouped_sketch(nested, [c], specs, pre_partial=False)


def test_one_group_key_rule_on_every_route(spark):
    """Over a float key holding 0.0, -0.0, NaN and null, the direct,
    partial and generic routes and ``rollup_states`` each put {0.0, -0.0}
    in one group keyed 0.0 and {NaN, null} in one group emitted as null,
    with the same row counts and, for the HLL column, the same states. A
    nested (struct or array) group column raises at plan time on every
    route, naming the operator and the column."""
    import math

    from probably_jl_spark.operators.rollup import rollup_states
    from probably_jl_spark.sketches.hll import HyperLogLog

    keys = [0.0, -0.0, float("nan"), None]
    rows = [(keys[i % 4], f"u{i}", 1.0) for i in range(40)]
    df = spark.createDataFrame(rows, "f double, u string, v double").repartition(3)
    hll = [SketchSpec("u", "hll", key_cols=("u",))]
    mixed = hll + [SketchSpec("td", "tdigest", value_col="v")]
    blob = HyperLogLog(14).to_bytes()
    states = spark.createDataFrame(
        [(keys[i % 4], 1, blob) for i in range(40)], "f double, n_rows long, state_u binary"
    ).repartition(3)
    outs = {
        "direct": grouped_sketch(df, ["f"], hll, pre_partial=False),
        "partial": grouped_sketch(df, ["f"], hll, pre_partial=True),
        "generic": grouped_sketch(df, ["f"], mixed),
        "rollup": rollup_states(states, ["f"]),
    }
    got = {}
    for route, out in outs.items():
        rs = sorted(out.collect(), key=lambda r: r["f"] is None)
        assert len(rs) == 2, (route, rs)
        zero, null = rs
        assert zero["f"] == 0.0 and math.copysign(1.0, zero["f"]) == 1.0, route
        assert null["f"] is None, route
        assert zero["n_rows"] == null["n_rows"] == 20, route
        got[route] = [bytes(r["state_u"]) for r in rs]
    assert got["direct"] == got["partial"] == got["generic"]

    nested = df.select(
        "u", "v", F.struct("u").alias("s"), F.array("u").alias("a"),
        F.lit(blob).alias("state_u"),
    )
    for c in ("s", "a"):
        for pre_partial in (False, True):
            with pytest.raises(ValueError, match=rf"grouped_sketch: group column '{c}'"):
                grouped_sketch(nested, [c], hll, pre_partial=pre_partial)
        with pytest.raises(ValueError, match=rf"grouped_sketch: group column '{c}'"):
            grouped_sketch(nested, [c], mixed)
        with pytest.raises(ValueError, match=rf"rollup_states: group column '{c}'"):
            rollup_states(nested.select(c, "state_u"), [c])


def test_tree_merge_driver_fold_equals_tree(spark, events):
    """r6 small-fan-in driver fold: tree_merge's collect+left-fold path
    (depth=None, light states) must agree with the forced treeReduce
    path — byte-identical for the order-insensitive kinds, and the
    order-sensitive kinds must be deterministic across repeated driver
    folds (collect preserves partition order)."""
    light = [
        SketchSpec("u", "hll", key_cols=("user_id",)),
        SketchSpec("k", "kmv", key_cols=("user_id",), params={"k": 64}),
        SketchSpec("td", "tdigest", value_col="value"),
    ]
    partials = build_partials(events.repartition(6), light, lineage=False)
    driver1 = tree_merge(partials, light)          # small fan-in => driver fold
    driver2 = tree_merge(partials, light)
    tree = tree_merge(partials, light, depth=2)    # forced treeReduce
    assert driver1["__n_rows"] == tree["__n_rows"]
    for name in ("u", "k"):  # pure set functions: identical across shapes
        assert driver1[name].to_bytes() == tree[name].to_bytes()
    # order-sensitive kind: deterministic across driver folds
    assert driver1["td"].to_bytes() == driver2["td"].to_bytes()


def test_tree_merge_heavy_states_keep_tree():
    """The driver-fold byte gate: a bloom-heavy spec set must exceed the
    64MB bound at wide fan-in (collecting those partials would cost what
    the saved scheduling wave buys)."""
    from probably_jl_spark.operators.build import (
        _DRIVER_MERGE_MAX_BYTES,
        _est_partial_bytes,
    )

    heavy = [SketchSpec("m", "bloom", key_cols=("u",), params={"m": 1 << 22, "k": 5})]
    assert 256 * _est_partial_bytes(heavy) > _DRIVER_MERGE_MAX_BYTES
    light = [SketchSpec("u", "hll", key_cols=("u",))]
    assert 256 * _est_partial_bytes(light) <= _DRIVER_MERGE_MAX_BYTES


def test_est_partial_bytes_covers_large_kmv():
    """The byte estimate sizes each kind from its parameters: a k=65536
    KMV is estimated at no less than its filled wire (524,304 B), so 256
    such partials take the tree instead of the driver fold."""
    from probably_jl_spark.operators.build import (
        _DRIVER_MERGE_MAX_BYTES,
        _est_partial_bytes,
    )

    spec = SketchSpec("k", "kmv", key_cols=("u",), params={"k": 65536})
    full = spec.new()
    full.update_hashes(np.random.default_rng(0).integers(0, 2**64, 200_000, dtype=np.uint64))
    assert _est_partial_bytes([spec]) >= len(full.to_bytes()) == 524_304
    assert 256 * _est_partial_bytes([spec]) > _DRIVER_MERGE_MAX_BYTES


def test_tree_merge_empty_partials(spark, events):
    """Zero partials fold to empty sketches and zero rows, on the driver
    and on the forced tree path, instead of decoding a missing state."""
    specs = [
        SketchSpec("u", "hll", key_cols=("user_id",)),
        SketchSpec("td", "tdigest", value_col="value"),
    ]
    empty = build_partials(events, specs, lineage=False).filter(F.lit(False))
    for depth in (None, 2):  # driver fold, forced treeAggregate
        out = tree_merge(empty, specs, depth=depth)
        assert out["__n_rows"] == 0
        for s in specs:
            assert out[s.name].to_bytes() == s.new().to_bytes()


def test_grouped_route_plan_nodes(spark, events):
    """Each grouped_sketch route keeps the executed-plan shape the
    benchmark's route check reads: direct = MapInArrow and no MapInPandas
    for every key shape (one string, multi-column, float); partial =
    MapInPandas with no MapInArrow and no Sort (its merge is
    order-insensitive); generic = FlatMapGroupsInPandas. Every builder
    UDF prints its role as its name, and no name contains a node kind
    the route check matches."""
    import re

    from probably_jl_spark.operators.build import build_partials
    from probably_jl_spark.operators.rollup import rollup_states

    hll = [SketchSpec("u", "hll", key_cols=("user_id",))]
    mixed = hll + [SketchSpec("td", "tdigest", value_col="value")]

    def plan(df):
        df.collect()
        return df._jdf.queryExecution().executedPlan().toString()

    def names(p):
        return set(re.findall(r"\b(?:MapInArrow|MapInPandas|FlatMapGroupsInPandas)\b.*?(\w+)\(", p))

    evf = events.withColumn("fkey", (F.col("user_id") % 3).cast("double"))
    for group_cols in (["event_type"], ["user_id", "event_type"], ["fkey"]):
        direct = plan(grouped_sketch(evf, group_cols, hll, pre_partial=False))
        assert "MapInArrow" in direct, group_cols
        assert "MapInPandas" not in direct and "FlatMapGroupsInPandas" not in direct
        assert names(direct) == {"grouped_direct"}, direct
    partial = plan(grouped_sketch(events, ["event_type"], hll, pre_partial=True))
    assert "MapInPandas" in partial
    assert "MapInArrow" not in partial and "FlatMapGroupsInPandas" not in partial
    assert not re.search(r"\bSort\b", partial)
    assert names(partial) == {"grouped_stage1", "grouped_merge"}, partial
    generic_df = grouped_sketch(events, ["event_type"], mixed)
    generic = plan(generic_df)
    assert "FlatMapGroupsInPandas" in generic
    assert names(generic) == {"generic_stage1", "generic_merge"}, generic
    salted = plan(grouped_sketch(events.repartition(4), ["event_type"], mixed, salt_buckets=2))
    assert names(salted) == {"generic_stage1", "generic_salt_merge", "generic_merge"}, salted
    rolled = plan(rollup_states(generic_df, []))
    assert names(rolled) - names(generic) == {"rollup_stage1", "rollup_merge"}, rolled
    fused = plan(build_partials(events, hll, lineage=False))
    assert names(fused) == {"sketch_partials"}, fused
    assert "MapInArrow" in fused and "MapInPandas" not in fused


def test_dispatch_sample_is_one_task_without_exchange(spark, monkeypatch):
    """The distinct-ratio sample that picks the vectorized route reads
    its rows in one task (``Coalesce 1``) and shuffles nothing."""
    from probably_jl_spark.operators.grouped import _preagg_dedup_ratio

    scan = spark.range(0, 50_000, 1, 4).select((F.col("id") % 10).alias("k"))
    plans = []
    cls = type(scan)
    collect = cls.collect

    def spy(self):
        rows = collect(self)
        plans.append(self._jdf.queryExecution().executedPlan().toString())
        return rows

    monkeypatch.setattr(cls, "collect", spy)
    assert _preagg_dedup_ratio(scan, ["k"], 20_000) == 10 / 20_000
    (p,) = plans
    assert "Coalesce 1" in p, p
    assert "Exchange" not in p, p


def test_worker_zip_gate_installed_in_tasks(spark):
    """Inside a Python task, importing the package gates the zip-directory
    refresh: a repeated ``importlib.invalidate_caches()`` re-reads no
    archive. The driver keeps the stdlib method."""
    import sys
    import zipimport

    def probe(batches):
        import importlib
        import zipimport

        import pandas as pd

        import probably_jl_spark  # noqa: F401  (installs the gate)

        gated = getattr(zipimport.zipimporter.invalidate_caches, "_stat_gated", False)
        importlib.invalidate_caches()
        reads = []
        read_directory = zipimport._read_directory

        def counting(archive):
            reads.append(archive)
            return read_directory(archive)

        zipimport._read_directory = counting
        try:
            importlib.invalidate_caches()
        finally:
            zipimport._read_directory = read_directory
        for _ in batches:
            pass
        yield pd.DataFrame({"gated": [gated], "second_reads": [len(reads)]})

    out = (
        spark.range(4, numPartitions=2)
        .mapInPandas(probe, "gated boolean, second_reads long")
        .toPandas()
    )
    assert len(out) == 2
    assert out["gated"].tolist() == [sys.version_info < (3, 13)] * 2
    assert out["second_reads"].tolist() == [0, 0]
    assert zipimport.zipimporter.invalidate_caches.__module__ == "zipimport"


def test_projection_quotes_names_like_f_col(spark):
    """The SQL-string projection resolves a dotted nested field, a space
    and a backtick in column names as ``F.col`` does: every hash equals
    ``F.xxhash64(*cols)``, values cast alike, and the Columns of
    ``plan_columns`` select the same values."""
    from probably_jl_spark.operators.build import plan_columns, prepare

    df = spark.createDataFrame(
        [(("p", 1), "a b", "q`r", "d", 1.5), (("s", 2), None, "t", "e", None)],
        "s struct<x: string, y: int>, `my col` string, `a``b` string, `x.y` string, "
        "`my val` double",
    )
    keys = [("s.x", "my col", "`a``b`"), ("`x.y`",), ("s.y",)]
    specs = [SketchSpec(f"h{i}", "hll", key_cols=k) for i, k in enumerate(keys)]
    specs.append(SketchSpec("q", "kll", value_col="my val"))
    want = df.select(
        *[F.xxhash64(*k).alias(f"__h{i}") for i, k in enumerate(keys)],
        F.col("my val").cast("double").alias("__v0"),
    ).collect()
    prepared, _ = prepare(df, specs, lineage=False)
    assert prepared.collect() == want
    assert df.select(*plan_columns(specs)[0]).collect() == want
    res = sketch_table(df, specs)
    for i, k in enumerate(keys):
        local = specs[i].new()
        local.update_hashes(np.array([r[i] for r in want], dtype=np.int64).view(np.uint64))
        assert res.sketches[f"h{i}"].to_bytes() == local.to_bytes(), k


def test_sketch_table_reports_phase_split(spark, events):
    """``BuildResult.metrics`` carries the phase split next to its old
    keys: the phases fit inside ``wall_sec``, ``state_bytes`` is the
    merged states' size, and ``merge_path`` follows tree_merge's gate
    (driver fold for light states, the tree once the partials' byte
    bound passes 64MB)."""
    from probably_jl_spark.operators.build import _DRIVER_MERGE_MAX_BYTES, _est_partial_bytes

    light = [SketchSpec("u", "hll", key_cols=("user_id",))]
    heavy = [SketchSpec("k", "kmv", key_cols=("user_id",), params={"k": 1 << 22})]
    assert 3 * _est_partial_bytes(heavy) > _DRIVER_MERGE_MAX_BYTES
    for specs, path in ((light, "driver_fold"), (heavy, "tree")):
        res = sketch_table(events.repartition(3), specs)
        m = res.metrics
        assert set(m) == {
            "n_rows", "wall_sec", "rows_per_sec", "specs", "plan_s", "job_s",
            "merge_s", "n_partials", "merge_path", "state_bytes",
        }
        assert m["n_rows"] == res.n_rows == 1000
        assert m["specs"] == {s.name: s.kind for s in specs}
        assert min(m["plan_s"], m["job_s"], m["merge_s"]) >= 0
        assert m["plan_s"] + m["job_s"] + m["merge_s"] <= m["wall_sec"]
        assert m["n_partials"] == 3 and m["merge_path"] == path
        assert m["state_bytes"] == sum(len(sk.to_bytes()) for sk in res.sketches.values())
