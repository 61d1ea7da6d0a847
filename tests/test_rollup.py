"""rollup_states laws: re-merging fine-grained sketch states to a
coarser key must equal building the coarse states directly (byte-exact
for canonical commutative kinds — the mergeable-summaries law lifted to
state tables), stay lossless under flush caps and salt levels, and
refuse mixed sizing parameters."""

import numpy as np
import pyarrow as pa
import pytest
from pyspark.sql import functions as F

from probably_jl_spark.operators.grouped import grouped_sketch
from probably_jl_spark.operators.rollup import rollup_states
from probably_jl_spark.operators.specs import SketchSpec, sketch_from_bytes
from tests.conftest import SF_DIR


@pytest.fixture(scope="module")
def fine_states(spark):
    ev = (
        spark.read.parquet(f"{SF_DIR}/events.parquet")
        .withColumn("day", F.to_date("ts"))
        .repartition(8)
    )
    specs = [
        SketchSpec("u", "hll", key_cols=("user_id",)),
        SketchSpec("uk", "kmv", key_cols=("user_id",), params={"k": 64}),
        SketchSpec("v", "tdigest", value_col="value"),
    ]
    return ev, specs, grouped_sketch(ev, ["event_type", "day"], specs)


def test_rollup_equals_direct_build_byte_exact(spark, fine_states):
    ev, specs, fine = fine_states
    rolled = rollup_states(fine, ["event_type"]).toPandas().set_index("event_type")
    direct = grouped_sketch(ev, ["event_type"], specs).toPandas().set_index("event_type")
    assert sorted(rolled.index) == sorted(direct.index)
    for et in rolled.index:
        # HLL and KMV states are canonical set functions: rollup of the
        # fine partition == direct coarse build, byte for byte
        assert rolled.loc[et, "state_u"] == direct.loc[et, "state_u"]
        assert rolled.loc[et, "state_uk"] == direct.loc[et, "state_uk"]
        assert rolled.loc[et, "n_rows"] == direct.loc[et, "n_rows"]
        # t-digest is merge-order sensitive (no byte law), but the rolled
        # digest must still cover the same mass
        td_r = sketch_from_bytes(rolled.loc[et, "state_v"])
        td_d = sketch_from_bytes(direct.loc[et, "state_v"])
        assert td_r.n == td_d.n
        assert abs(td_r.quantile(0.5) - td_d.quantile(0.5)) <= (
            td_d.quantile(0.75) - td_d.quantile(0.25) + 1e-9
        )


def test_rollup_flush_cap_is_lossless(spark, fine_states, monkeypatch):
    from probably_jl_spark.operators import grouped

    _, _, fine = fine_states
    base = {
        r["event_type"]: (r["state_u"], r["state_uk"], r["n_rows"])
        for r in rollup_states(fine, ["event_type"]).collect()
    }
    monkeypatch.setattr(grouped, "_MAX_KEYS", 1)
    capped = {
        r["event_type"]: (r["state_u"], r["state_uk"], r["n_rows"])
        for r in rollup_states(
            fine, ["event_type"], state_cols=["state_u", "state_uk"],
        ).collect()
    }
    assert base.keys() == capped.keys()
    for et, (u, uk, n) in capped.items():
        assert (u, uk, n) == (base[et][0], base[et][1], base[et][2])


def test_rollup_global_and_missing_n_rows(spark, fine_states):
    ev, _, fine = fine_states
    out = rollup_states(fine, []).collect()
    assert len(out) == 1
    exact = ev.select("user_id").distinct().count()
    est = sketch_from_bytes(out[0]["state_u"]).cardinality()
    assert abs(est - exact) <= max(2.0, 0.05 * exact)
    assert out[0]["n_rows"] == ev.count()
    # n_rows column absent from the input -> reported as 0, not a crash
    no_n = rollup_states(fine.drop("n_rows"), []).collect()
    assert no_n[0]["n_rows"] == 0
    assert no_n[0]["state_u"] == out[0]["state_u"]


def test_rollup_rejects_mixed_params(spark):
    from probably_jl_spark.sketches.hll import HyperLogLog

    a, b = HyperLogLog(12), HyperLogLog(14)
    a.update_hashes(np.arange(10, dtype=np.uint64))
    b.update_hashes(np.arange(10, dtype=np.uint64))
    df = spark.createDataFrame(
        [("x", a.to_bytes()), ("x", b.to_bytes())], "g string, state_u binary"
    ).coalesce(1)
    with pytest.raises(Exception, match="mixes"):
        rollup_states(df, ["g"]).collect()


def test_rollup_truncated_blob_raises_codec_error(spark):
    """A truncated blob must surface the codec's validating error (too
    short / bad magic), never a bare numpy IndexError from the header
    gather."""
    from probably_jl_spark.sketches.hll import HyperLogLog

    a = HyperLogLog(12)
    a.update_hashes(np.arange(10, dtype=np.uint64))
    df = spark.createDataFrame(
        [("x", a.to_bytes()), ("x", a.to_bytes()[:8])], "g string, state_u binary"
    ).coalesce(1)
    with pytest.raises(Exception, match="too short|bad magic"):
        rollup_states(df, ["g"]).collect()


def test_rollup_chains(spark, fine_states):
    """A rollup of a rollup equals the one-step rollup (associativity of
    the state merge, lifted to tables): (type, day) -> type -> global ==
    (type, day) -> global."""
    _, _, fine = fine_states
    two_step = rollup_states(rollup_states(fine, ["event_type"]), []).collect()[0]
    one_step = rollup_states(fine, []).collect()[0]
    assert two_step["state_u"] == one_step["state_u"]
    assert two_step["state_uk"] == one_step["state_uk"]
    assert two_step["n_rows"] == one_step["n_rows"]


def test_byte_budget_keeps_cms_bloom_states(spark, monkeypatch):
    """Under a byte budget of three CMS + Bloom keys, ``grouped_sketch``
    and ``rollup_states`` return the default budget's states byte for
    byte, while stage 1 of each emits more than one partial for a key of
    one input partition."""
    from probably_jl_spark.operators import grouped
    from probably_jl_spark.operators.grouped import _ORD_COL, _pre_merge_states
    from probably_jl_spark.operators.rollup import _rollup_builder

    ev = spark.read.parquet(f"{SF_DIR}/events.parquet").coalesce(1)
    specs = [
        SketchSpec("c", "cms", key_cols=("event_type",), params={"width": 256, "depth": 3}),
        SketchSpec("b", "bloom", key_cols=("event_id",), params={"m": 1 << 14, "k": 3}),
    ]

    def by_user(df):
        return {r["user_id"]: (r["n_rows"], r["state_c"], r["state_b"]) for r in df.collect()}

    # each user's rows apart, so a flushing stage 1 meets a user again
    fine = (
        grouped_sketch(ev, ["user_id", "event_type"], specs)
        .orderBy("event_type", "user_id")
        .coalesce(1)
        .cache()
    )
    want = by_user(grouped_sketch(ev, ["user_id"], specs))
    want_rolled = by_user(rollup_states(fine, ["user_id"]))
    assert len(want) == len(want_rolled) > 10

    monkeypatch.setattr(grouped, "_STATE_BYTES", 3 * sum(s.size_model()[0] for s in specs))
    assert by_user(grouped_sketch(ev, ["user_id"], specs)) == want
    assert by_user(rollup_states(fine, ["user_id"])) == want_rolled

    pre = _pre_merge_states(ev, ["user_id"], specs, 1).groupBy("user_id").count()
    assert pre.agg(F.max("count")).collect()[0][0] > 1
    stage1 = _rollup_builder(["user_id"], ["state_c", "state_b"], with_ord=True)
    out = pa.Table.from_batches(stage1(iter(fine.toArrow().to_batches(max_chunksize=100))))
    assert len(set(out.column(_ORD_COL).to_pylist())) > 1
    assert out.num_rows > len(want)
    fine.unpersist()
