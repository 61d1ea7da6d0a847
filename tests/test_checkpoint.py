"""Checkpoint/resume law (SURVEY.md §5.2 item 4): resume-from-checkpoint
== uninterrupted run, byte-identical final states."""

import shutil

import pytest

from probably_jl_spark.operators.build import sketch_table
from probably_jl_spark.operators.specs import SketchSpec
from probably_jl_spark.plans.checkpoint import CheckpointedSketchBuild

SF = "/root/testdata/sf0.001"

SPECS = [
    SketchSpec("users", "hll", key_cols=("user_id",)),
    SketchSpec("types", "cms", key_cols=("event_type",)),
    SketchSpec("member", "bloom", key_cols=("user_id",), params={"m": 1 << 14, "k": 4}),
]


@pytest.fixture()
def ckpt_dir(tmp_path):
    d = str(tmp_path / "ckpt")
    yield d
    shutil.rmtree(d, ignore_errors=True)


def test_interrupted_resume_equals_uninterrupted(spark, ckpt_dir):
    ev = spark.read.parquet(f"{SF}/events.parquet")
    build = CheckpointedSketchBuild(
        spark, SPECS, ckpt_dir, n_buckets=16, bucket_cols=("user_id",)
    )
    # simulate an interrupted run: only 6 of 16 buckets complete
    partial = build.run(ev, limit_buckets=set(range(6)))
    assert not build.is_complete()
    assert partial.metrics["buckets_done"] == 6
    assert partial.n_rows < 1000

    # resume: processes exactly the missing 10
    resumed = build.run(ev)
    assert build.is_complete()
    assert resumed.metrics["buckets_built_this_run"] == 10
    assert resumed.n_rows == 1000

    # law: identical to one uninterrupted global build
    direct = sketch_table(ev, SPECS)
    for s in SPECS:
        assert resumed.sketches[s.name].to_bytes() == direct.sketches[s.name].to_bytes(), s.name


def test_rerun_is_noop_and_stable(spark, ckpt_dir):
    ev = spark.read.parquet(f"{SF}/events.parquet")
    build = CheckpointedSketchBuild(spark, SPECS, ckpt_dir, n_buckets=8, bucket_cols=("user_id",))
    first = build.run(ev)
    again = build.run(ev)
    assert again.metrics["buckets_built_this_run"] == 0
    for s in SPECS:
        assert first.sketches[s.name].to_bytes() == again.sketches[s.name].to_bytes()


def test_lineage_metrics(spark, ckpt_dir):
    ev = spark.read.parquet(f"{SF}/events.parquet")
    build = CheckpointedSketchBuild(spark, SPECS, ckpt_dir, n_buckets=8, bucket_cols=("user_id",))
    res = build.run(ev)
    lineage = res.metrics["lineage"]
    assert len(lineage) == 8
    assert sum(r["n_rows"] for r in lineage) == 1000
    assert all("attempt" in r for r in lineage)


def test_mismatched_config_resume_rejected(spark, ckpt_dir):
    """Resuming a checkpoint dir with a different bucketing would silently
    double-count — must raise instead (found by a verification probe)."""
    ev = spark.read.parquet(f"{SF}/events.parquet")
    b = CheckpointedSketchBuild(spark, SPECS, ckpt_dir, n_buckets=8, bucket_cols=("user_id",))
    b.run(ev, limit_buckets={0, 1})
    b2 = CheckpointedSketchBuild(spark, SPECS, ckpt_dir, n_buckets=16, bucket_cols=("user_id",))
    with pytest.raises(ValueError, match="cannot resume"):
        b2.run(ev)
    b3 = CheckpointedSketchBuild(spark, SPECS[:1], ckpt_dir, n_buckets=8, bucket_cols=("user_id",))
    with pytest.raises(ValueError, match="cannot resume"):
        b3.run(ev)


def test_empty_buckets_marked_done(spark, ckpt_dir):
    """With more buckets than keys, some buckets are empty; they must be
    recorded (empty states) so resume doesn't reprocess them forever, and
    the parquet append with a different column order must still read."""
    ev = spark.read.parquet(f"{SF}/events.parquet").filter("user_id < 3")
    build = CheckpointedSketchBuild(
        spark, SPECS, ckpt_dir, n_buckets=64, bucket_cols=("user_id",)
    )
    res = build.run(ev)
    assert build.is_complete()
    assert res.metrics["buckets_done"] == 64
    again = build.run(ev)
    assert again.metrics["buckets_built_this_run"] == 0
    assert again.n_rows == res.n_rows


def test_resume_law_order_sensitive_kinds(spark, ckpt_dir):
    """ADVICE r01: the byte-identical resume law must also hold for
    merge-order-SENSITIVE sketches (t-digest, KLL, cuckoo) — merge order
    is a fixed function of bucket ids, not of attempt/file layout."""
    specs = [
        SketchSpec("vals_td", "tdigest", value_col="value"),
        SketchSpec("vals_kll", "kll", value_col="value"),
        SketchSpec("types_ck", "cuckoo", key_cols=("event_type",), params={"len": 1 << 10, "f": 12}),
    ]
    ev = spark.read.parquet(f"{SF}/events.parquet")
    interrupted = CheckpointedSketchBuild(
        spark, specs, ckpt_dir, n_buckets=16, bucket_cols=("user_id",)
    )
    interrupted.run(ev, limit_buckets=set(range(5)))
    resumed = interrupted.run(ev)

    other_dir = ckpt_dir + "_uninterrupted"
    try:
        straight = CheckpointedSketchBuild(
            spark, specs, other_dir, n_buckets=16, bucket_cols=("user_id",)
        ).run(ev)
        for s in specs:
            assert (
                resumed.sketches[s.name].to_bytes() == straight.sketches[s.name].to_bytes()
            ), s.name
    finally:
        shutil.rmtree(other_dir, ignore_errors=True)


def test_file_uri_ckpt_dir(spark, tmp_path):
    """The manifest goes through the Hadoop FS API: a file: URI (the
    object-store shape) must work end to end."""
    d = "file://" + str(tmp_path / "ckpt_uri")
    ev = spark.read.parquet(f"{SF}/events.parquet")
    build = CheckpointedSketchBuild(spark, SPECS, d, n_buckets=8, bucket_cols=("user_id",))
    res = build.run(ev)
    assert build.is_complete() and res.n_rows == 1000
    direct = sketch_table(ev, SPECS)
    for s in SPECS:
        assert res.sketches[s.name].to_bytes() == direct.sketches[s.name].to_bytes()


def test_many_bucket_merge_stays_off_driver(spark, ckpt_dir):
    """256 buckets merge through G=64 executor groups; the driver folds 64
    group states, never 256 bucket rows."""
    ev = spark.read.parquet(f"{SF}/events.parquet")
    build = CheckpointedSketchBuild(
        spark, SPECS[:1], ckpt_dir, n_buckets=256, bucket_cols=("user_id",)
    )
    res = build.run(ev)
    assert res.n_rows == 1000
    direct = sketch_table(ev, SPECS[:1])
    assert res.sketches["users"].to_bytes() == direct.sketches["users"].to_bytes()
