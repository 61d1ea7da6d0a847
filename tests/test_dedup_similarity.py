"""Dedup + similarity operators over the driver testdata."""

import numpy as np
import pytest
from pyspark.sql import functions as F

from probably_jl_spark.operators.dedup import (
    exact_dedup,
    exact_jaccard_all_pairs,
    lsh_candidate_pairs,
    minhash_near_dups,
    minhash_signatures,
    simhash,
    simhash_near_dups,
)
from probably_jl_spark.operators.similarity import (
    ann_topk_lsh,
    cosine_near_dup_pairs,
    cosine_topk,
    hyperplane_buckets,
)

SF = "/root/testdata/sf0.001"


@pytest.fixture(scope="module")
def docs(spark):
    base = spark.read.parquet(f"{SF}/documents.parquet")
    # add exact and near duplicates with known ids
    dup = base.limit(5).select(
        (F.col("doc_id") + 100000).alias("doc_id"), "text", "lang", "source", "n_chars"
    )
    near = base.limit(5).select(
        (F.col("doc_id") + 200000).alias("doc_id"),
        F.concat(F.col("text"), F.lit(" tail")).alias("text"),
        "lang",
        "source",
        "n_chars",
    )
    return base.unionByName(dup).unionByName(near).cache()


@pytest.fixture(scope="module")
def emb(spark):
    return spark.read.parquet(f"{SF}/embeddings.parquet").cache()


def test_exact_dedup(spark, docs):
    out = exact_dedup(docs).toPandas()
    n_base = out[out.doc_id < 100000]
    assert (n_base.rep_id == n_base.doc_id).all()  # originals are their own rep
    dups = out[(out.doc_id >= 100000) & (out.doc_id < 200000)]
    assert (dups.rep_id == dups.doc_id - 100000).all()  # point at originals
    nears = out[out.doc_id >= 200000]
    assert (nears.rep_id == nears.doc_id).all()  # near-dups are NOT exact dups


def test_minhash_lsh_finds_near_dups(spark, docs):
    found = minhash_near_dups(docs, threshold=0.8).toPandas()
    pairs = {(a, b) for a, b in zip(found.id_a, found.id_b)}
    # every exact dup pair and every appended near-dup pair must be found
    for i in range(5):
        orig = int(docs.limit(5).collect()[i]["doc_id"])
        assert (orig, orig + 100000) in pairs, f"exact dup {orig} missed"
        assert (orig, orig + 200000) in pairs, f"near dup {orig} missed"
    assert (found.jaccard >= 0.8).all()


def test_lsh_recall_vs_bruteforce(spark, docs):
    """LSH candidates must contain every truly-similar pair (recall 1.0 at
    this threshold/band config on this data) and exact verify must kill
    false candidates."""
    truth = exact_jaccard_all_pairs(docs).filter("jaccard >= 0.8").toPandas()
    found = minhash_near_dups(docs, threshold=0.8).toPandas()
    t = {(a, b) for a, b in zip(truth.id_a, truth.id_b)}
    f = {(a, b) for a, b in zip(found.id_a, found.id_b)}
    assert t == f, f"missing={t-f} extra={f-t}"


def test_minhash_signature_properties(spark, docs):
    sigs = minhash_signatures(docs.limit(20), n_hashes=32).toPandas()
    assert all(len(s) == 32 for s in sigs.sig)
    # identical text => identical signature
    two = minhash_signatures(docs.filter("doc_id in (0, 100000)")).toPandas()
    a, b = two.sig.tolist()
    assert list(a) == list(b)


def test_simhash_near_dups(spark, docs):
    sh = simhash(docs.filter("doc_id in (1, 100001)")).toPandas()
    assert sh.simhash.nunique() == 1  # identical text => identical simhash
    found = simhash_near_dups(docs, max_hamming=3).toPandas()
    pairs = {(a, b) for a, b in zip(found.id_a, found.id_b)}
    for i in range(5):
        orig = int(docs.limit(5).collect()[i]["doc_id"])
        assert (orig, orig + 100000) in pairs  # exact dups: hamming 0


def test_cosine_topk_exact(spark, emb):
    queries = emb.filter("vec_id < 3")
    out = cosine_topk(emb, queries, k=5).toPandas()
    assert set(out.query_id) == {0, 1, 2}
    assert out.groupby("query_id").size().eq(5).all()
    # verify against numpy brute force
    rows = emb.collect()
    ids = np.array([r.vec_id for r in rows])
    mat = np.array([r.embedding for r in rows], dtype=np.float32)
    mat /= np.linalg.norm(mat, axis=1, keepdims=True)
    for q in (0, 1, 2):
        sims = mat @ mat[ids == q].T
        order = np.argsort(-sims.ravel(), kind="stable")
        expect = [int(ids[i]) for i in order if ids[i] != q][:5]
        got = out[out.query_id == q].sort_values("rank").neighbor_id.tolist()
        assert got == expect, f"q={q}: {got} vs {expect}"


def test_ann_lsh_recall(spark, emb):
    queries = emb.filter("vec_id < 10")
    exact = cosine_topk(emb, queries, k=5).toPandas()
    approx = ann_topk_lsh(emb, queries, dim=64, k=5, n_tables=16, n_planes=4).toPandas()
    recalls = []
    for q in range(10):
        e = set(exact[exact.query_id == q].neighbor_id)
        a = set(approx[approx.query_id == q].neighbor_id)
        recalls.append(len(e & a) / len(e))
    # these synthetic embeddings are near-uniform (top-5 cosine ~0.32), the
    # hardest case for LSH; 16 tables x 4 planes gives ~0.9 expected recall
    assert np.mean(recalls) >= 0.7, f"mean recall {np.mean(recalls)}"


def test_hyperplane_buckets_deterministic(spark, emb):
    a = hyperplane_buckets(emb, dim=64, n_planes=8).select("vec_id", "bucket").toPandas()
    b = hyperplane_buckets(emb, dim=64, n_planes=8).select("vec_id", "bucket").toPandas()
    assert a.sort_values("vec_id").bucket.tolist() == b.sort_values("vec_id").bucket.tolist()
    assert a.bucket.between(0, 255).all()


def test_cosine_near_dup_pairs(spark, emb):
    # duplicate a vector under a new id => must be found with sim ~ 1
    dup = emb.filter("vec_id = 0").select((F.col("vec_id") + 9999).alias("vec_id"), "embedding", "label")
    both = emb.unionByName(dup)
    out = cosine_near_dup_pairs(both, threshold=0.99, dim=64).toPandas()
    assert ((out.id_a == 0) & (out.id_b == 9999)).any()


def test_lsh_bucket_cap_bounds_hot_bucket(spark):
    """Adversarial boilerplate corpus (VERDICT r01 "What's wrong #4",
    r04 missing #1): 200 docs sharing one template land in the same LSH
    buckets; the cap replaces the quadratic hot bucket with a LINEAR
    representative star — members are no longer silently dropped from
    the pair graph (the r5 change), and distinct docs still pair."""
    rows = [(i, "shared boilerplate header body " * 4) for i in range(200)]
    rows += [(1000 + i, f"unique document number {i} with its own words {i*7}") for i in range(5)]
    rows += [(2000, "a near pair of text alpha beta gamma delta epsilon"),
             (2001, "a near pair of text alpha beta gamma delta epsilon")]
    docs = spark.createDataFrame(rows, "doc_id long, text string")
    sigs = minhash_signatures(docs)
    capped = lsh_candidate_pairs(sigs, max_bucket_size=50).toPandas()
    # the 200-doc template cluster (19900 pairs/band uncapped) collapses
    # to the star: every member pairs with the min-id rep (0), LINEAR
    boiler = capped[(capped.id_a < 200) & (capped.id_b < 200)]
    assert len(boiler) == 199
    assert (boiler.id_a == 0).all()
    assert sorted(boiler.id_b) == list(range(1, 200))
    # ... and the small duplicate pair still surfaces
    assert ((capped.id_a == 2000) & (capped.id_b == 2001)).any()
    # uncapped finds the quadratic cluster (sanity that the cap did it)
    uncapped = lsh_candidate_pairs(sigs, max_bucket_size=None).toPandas()
    assert len(uncapped[(uncapped.id_a < 200) & (uncapped.id_b < 200)]) == 199 * 100


def test_cosine_near_dup_bucket_cap(spark, emb):
    """Hot-bucket cap on the embedding self-join: cloning one vector 50x
    creates a dense cluster; cap excludes it, small dups survive."""
    # NB: 50 clones via ONE crossJoin, not 50 unionByName branches — the
    # cap+representative path references the corpus plan several times,
    # and a 50-leaf union plan re-executes per reference (was 500s)
    clones = (
        emb.filter("vec_id = 0")
        .select("embedding", "label")
        .crossJoin(emb.sparkSession.range(5000, 5050).select(F.col("id").alias("vec_id")))
        .select("vec_id", "embedding", "label")
    )
    pair = emb.filter("vec_id = 1").select(
        (F.col("vec_id") + 9000).alias("vec_id"), "embedding", "label"
    )
    both = emb.unionByName(clones).unionByName(pair)
    out = cosine_near_dup_pairs(both, threshold=0.99, dim=64, max_bucket_size=20).toPandas()
    clone_pairs = out[(out.id_a >= 5000) & (out.id_a < 5100) & (out.id_b >= 5000) & (out.id_b < 5100)]
    assert len(clone_pairs) == 0  # quadratic cluster excluded
    assert ((out.id_a == 1) & (out.id_b == 9001)).any()  # small dup kept


def test_ann_lsh_no_corpus_rejoin(spark, emb):
    """Plan shape (VERDICT r01 "What's wrong #3"): bucket generation must
    not re-join the corpus onto itself — hyperplane_buckets is a single
    mapInArrow (r5: was mapInPandas; VERDICT r04 #3) with NO exchange,
    and the ann plan attaches query vectors via broadcast."""
    plan = (
        hyperplane_buckets(emb, dim=64, n_planes=8)
        ._jdf.queryExecution().executedPlan().toString()
    )
    assert "Exchange" not in plan and "MapInArrow" in plan
    queries = emb.filter("vec_id < 3")
    ann_plan = (
        ann_topk_lsh(emb, queries, dim=64, k=5)
        ._jdf.queryExecution().executedPlan().toString()
    )
    # query vectors attach via broadcast (plus whatever other small sides
    # AQE chooses to broadcast at this scale)
    assert "BroadcastExchange" in ann_plan


def test_ann_ivf_recall(spark, emb):
    """IVF (k-means inverted lists) recall vs exact top-k; deterministic
    across runs (seeded sample + init)."""
    from probably_jl_spark.operators.similarity import ann_topk_ivf

    queries = emb.filter("vec_id < 10")
    exact = cosine_topk(emb, queries, k=5).toPandas()
    a1 = ann_topk_ivf(emb, queries, dim=64, k=5, n_centroids=16, nprobe=8).toPandas()
    a2 = ann_topk_ivf(emb, queries, dim=64, k=5, n_centroids=16, nprobe=8).toPandas()
    assert sorted(map(tuple, a1[["query_id", "neighbor_id"]].values.tolist())) == sorted(
        map(tuple, a2[["query_id", "neighbor_id"]].values.tolist())
    )
    recalls = []
    for q in range(10):
        e = set(exact[exact.query_id == q].neighbor_id)
        a = set(a1[a1.query_id == q].neighbor_id)
        recalls.append(len(e & a) / len(e))
    assert np.mean(recalls) >= 0.7, f"mean recall {np.mean(recalls)}"


def test_connected_components_and_dedup_assign(spark):
    """Cluster resolution laws: chain transitivity (a-b, b-c => one
    cluster), separate components stay separate, isolated docs keep
    themselves, exactly one keep per cluster."""
    from probably_jl_spark.operators.dedup import connected_components, dedup_assign

    pairs = spark.createDataFrame(
        [(2, 1), (2, 3), (3, 4), (10, 11)], "id_a long, id_b long"
    )
    comp = {r.doc_id: r.cluster_rep for r in connected_components(pairs).collect()}
    assert comp == {1: 1, 2: 1, 3: 1, 4: 1, 10: 10, 11: 10}

    docs = spark.createDataFrame([(i,) for i in (1, 2, 3, 4, 10, 11, 99)], "doc_id long")
    out = dedup_assign(docs, pairs).toPandas().set_index("doc_id")
    assert out.loc[99, "cluster_rep"] == 99 and bool(out.loc[99, "keep"])
    assert set(out[out.keep].index) == {1, 10, 99}  # one keeper per cluster
    assert (out.groupby("cluster_rep").keep.sum() == 1).all()


def test_simhash_duplicate_id_raises(spark):
    """Review r02: non-adjacent duplicate ids must raise (within one
    batch), not silently emit two partial simhashes."""
    rows = [(7, "alpha beta"), (8, "gamma delta"), (7, "epsilon zeta")]
    df = spark.createDataFrame(rows, "doc_id long, text string").coalesce(1)
    with pytest.raises(Exception, match="non-adjacent"):
        simhash(df).collect()


def test_connected_components_nonconvergence_raises(spark):
    """A chain longer than max_iterations must fail loudly, not return
    labels that let duplicates survive."""
    from probably_jl_spark.operators.dedup import connected_components

    chain = spark.createDataFrame(
        [(i, i + 1) for i in range(8)], "id_a long, id_b long"
    )
    with pytest.raises(RuntimeError, match="did not converge"):
        connected_components(chain, max_iterations=2)
    ok = connected_components(chain, max_iterations=10)
    assert {r.cluster_rep for r in ok.collect()} == {0}


def _perturbed_twins(spark, emb, n_twins=50, id_offset=10_000, seed=123):
    """n_twins vectors + twins at controlled cosine in [0.90, 0.97]:
    twin = normalize(u + tan(theta) * w), w a unit vector orthogonal to u,
    so cos(u, twin) = cos(theta) exactly. Deterministic (seeded)."""
    import numpy as np

    rows = emb.filter(f"vec_id < {n_twins}").select("vec_id", "embedding").collect()
    rng = np.random.default_rng(seed)
    out = []
    true_pairs = set()
    for r in rows:
        u = np.array(r["embedding"], dtype=np.float64)
        u /= np.linalg.norm(u)
        target_cos = rng.uniform(0.90, 0.97)
        w = rng.normal(size=u.size)
        w -= (w @ u) * u
        w /= np.linalg.norm(w)
        v = u + np.tan(np.arccos(target_cos)) * w
        v /= np.linalg.norm(v)
        out.append((int(r["vec_id"]) + id_offset, [float(x) for x in v]))
        true_pairs.add((int(r["vec_id"]), int(r["vec_id"]) + id_offset))
    twins = spark.createDataFrame(out, "vec_id long, embedding array<float>")
    both = emb.select("vec_id", "embedding").unionByName(twins)
    return both, true_pairs


def test_cosine_near_dup_multitable_recall(spark, emb):
    """VERDICT r02 #1: single-table sign-LSH catches a cosine-0.95 pair
    with prob ~0.43 — the fixture dups being near-identical is why old
    tests passed. On a CLUSTERED fixture (pairs at cosine 0.90-0.97, NOT
    near-identical) the multi-table union must reach recall >= 0.95
    against the exact all-pairs truth."""
    both, true_pairs = _perturbed_twins(spark, emb)
    out = cosine_near_dup_pairs(
        both, threshold=0.90, dim=64, n_planes=8, n_tables=16
    ).toPandas()
    found = {(int(a), int(b)) for a, b in zip(out.id_a, out.id_b)}
    recall = len(found & true_pairs) / len(true_pairs)
    assert recall >= 0.95, f"recall {recall} on clustered fixture"
    # precision: the exact rerank admits only true >= 0.90 pairs
    assert (out.sim >= 0.90).all()


def test_multiprobe_halves_tables(spark, emb):
    """VERDICT r02 #3 (multi-probe promised, now implemented): 8 tables +
    3 probes must match-or-beat 16 tables at 0 probes — half the
    corpus-side key rows for equal recall."""
    from probably_jl_spark.operators.similarity import ann_topk_lsh, cosine_topk

    q = emb.filter("vec_id < 10")
    exact = cosine_topk(emb, q, k=5).toPandas()

    def recall(approx):
        rs = []
        for i in range(10):
            e = set(exact[exact.query_id == i].neighbor_id)
            a = set(approx[approx.query_id == i].neighbor_id)
            rs.append(len(e & a) / max(len(e), 1))
        return sum(rs) / len(rs)

    base = recall(
        ann_topk_lsh(emb, q, dim=64, k=5, n_tables=16, n_planes=4, n_probes=0).toPandas()
    )
    probed = recall(
        ann_topk_lsh(emb, q, dim=64, k=5, n_tables=8, n_planes=4, n_probes=3).toPandas()
    )
    assert probed >= base, f"multiprobe {probed} < 16-table baseline {base}"


def test_multiprobe_flips_lowest_margin_bits(spark, emb):
    """Probe buckets differ from the home bucket by exactly one bit, and
    probes=P emits exactly 1+P rows per (vector, table)."""
    from probably_jl_spark.operators.similarity import multitable_buckets

    one = emb.filter("vec_id = 3")
    keys = multitable_buckets(one, dim=64, n_tables=4, n_planes=8, probes=2).toPandas()
    assert len(keys) == 4 * 3
    for t in range(4):
        bs = list(keys[keys.table == t].bucket)
        home = bs[0]
        for probe in bs[1:]:
            assert bin(int(home) ^ int(probe)).count("1") == 1


def test_train_centroids_no_corpus_count(spark, emb):
    """VERDICT r02 #2: the IVF training sample must be one
    TakeOrderedAndProject pass (per-partition top-N by id hash), not a
    full count() to derive a sample fraction."""
    from probably_jl_spark.operators.similarity import _uniform_sample, train_centroids

    plan = _uniform_sample(emb, "vec_id", "embedding", 7, 100)._jdf.queryExecution().executedPlan().toString()
    assert "TakeOrderedAndProject" in plan, plan
    cents = train_centroids(emb, dim=64, n_centroids=8, sample_limit=200)
    assert cents.shape == (8, 64)
    import numpy as np

    assert np.allclose(np.linalg.norm(cents, axis=1), 1.0, atol=1e-5)


def test_exact_dedup_map_narrow_exchange(spark, docs):
    """exact_dedup_map: agrees with the full-row exact_dedup, and its
    exchange carries only the (id, md5) projection — the scan prunes to
    the two referenced columns and aggregation is partial (map-side)
    before the single shuffle."""
    from probably_jl_spark.operators.dedup import exact_dedup, exact_dedup_map

    dup = docs.filter("doc_id = 0").select(
        (F.col("doc_id") + 7777).alias("doc_id"), "text"
    )
    both = docs.select("doc_id", "text").unionByName(dup)

    m = exact_dedup_map(both).toPandas()
    full = exact_dedup(both).toPandas()
    # same representative for every text group
    import pandas as pd

    want = full.groupby("text")["rep_id"].min()
    assert sorted(m.rep_id) == sorted(want)
    # the duplicate collapsed onto doc 0
    assert (m.rep_id != 7777).all()

    # plan shape on a fresh scan (the cached/union fixture hides pruning):
    # column-pruned scan -> md5 project -> map-side partial_min -> ONE
    # exchange carrying (text_hash, min) -> final min
    fresh = spark.read.parquet(f"{SF}/documents.parquet")
    plan = exact_dedup_map(fresh)._jdf.queryExecution().executedPlan().toString()
    assert plan.count("Exchange hashpartitioning(text_hash") == 1
    assert "partial_min" in plan.split("Exchange")[-1], plan
    assert "ReadSchema: struct<doc_id:bigint,text:string>" in plan, plan


def test_dedup_embeddings_end_to_end(spark, emb):
    """dedup_embeddings: pairs -> components -> one keeper per cluster;
    twins collapse onto the base id, singletons keep themselves."""
    from probably_jl_spark.operators.similarity import dedup_embeddings

    twins = emb.filter("vec_id < 20").select(
        (F.col("vec_id") + 5000).alias("vec_id"), "embedding"
    )
    out = dedup_embeddings(
        emb.select("vec_id", "embedding").unionByName(twins),
        threshold=0.95, dim=64, n_tables=16,
    ).toPandas()
    dup = out[out.vec_id >= 5000]
    assert (dup.cluster_rep == dup.vec_id - 5000).all()
    assert (~dup.keep).all()
    base = out[(out.vec_id < 20)]
    assert base.keep.all() and (base.cluster_rep == base.vec_id).all()
    singles = out[(out.vec_id >= 20) & (out.vec_id < 5000)]
    assert singles.keep.all()


# ------------------------- round 4: auto-sized LSH + representative pass


def test_near_dup_plan_math():
    """plan_near_dup_lsh (VERDICT r03 #1): n_planes tracks log2(N)-3 so
    bucket occupancy stays ~8, n_tables tracks the recall target at the
    threshold, and the implied candidate volume grows sub-quadratically."""
    from probably_jl_spark.operators.similarity import plan_near_dup_lsh

    small = plan_near_dup_lsh(2048, 0.95)
    big = plan_near_dup_lsh(32 * 2048, 0.95)
    assert small.n_planes == 8
    assert big.n_planes == 13
    # recall held at the target by construction even as b rises
    assert small.expected_recall >= 0.98
    assert big.expected_recall >= 0.98
    # candidate volume per corpus row (est/N) must NOT grow 32x (it would
    # under frozen geometry); the auto plan holds it within ~2x
    per_row_small = small.est_candidate_pairs / 2048
    per_row_big = big.est_candidate_pairs / (32 * 2048)
    assert per_row_big <= 2.5 * per_row_small, (per_row_small, per_row_big)
    # explicit overrides are respected and never trigger estimation
    pinned = plan_near_dup_lsh(None, 0.95, n_planes=8, n_tables=12)
    assert (pinned.n_planes, pinned.n_tables) == (8, 12)
    assert pinned.est_candidate_pairs is None


def test_near_dup_auto_sizing_bounds_candidates(spark):
    """Build the auto-sized candidate keys at two corpus sizes (N and 4N)
    of near-uniform synthetic vectors: actual generated candidate pairs
    must grow far slower than the 16x a frozen geometry gives."""
    from probably_jl_spark.operators.similarity import (
        multitable_buckets,
        plan_near_dup_lsh,
    )

    def synth(n):
        return spark.range(n).select(
            F.col("id").alias("vec_id"),
            F.expr(
                "transform(sequence(0, 15), j -> "
                "cast(xxhash64(id, j) / 9.3e18 as float))"
            ).alias("embedding"),
        )

    def n_cands(n):
        plan = plan_near_dup_lsh(n, 0.95)
        keys = multitable_buckets(
            synth(n), dim=16, n_tables=plan.n_tables, n_planes=plan.n_planes
        )
        l = keys.select("table", "bucket", F.col("vec_id").alias("id_a"))
        r = keys.select("table", "bucket", F.col("vec_id").alias("id_b"))
        return (
            l.join(r, ["table", "bucket"]).filter(F.col("id_a") < F.col("id_b")).count()
        )

    small, big = n_cands(2048), n_cands(8192)
    # 4x the corpus: quadratic-at-fixed-geometry would be ~16x the pairs;
    # the auto plan re-sizes b (8 -> 10) and L and stays well under
    assert big <= 9 * small, (small, big)


def test_estimate_corpus_size(spark):
    from probably_jl_spark.operators.similarity import estimate_corpus_size

    df = spark.range(5000).select(F.col("id").alias("vec_id"))
    est = estimate_corpus_size(df, "vec_id")
    assert abs(est - 5000) / 5000 < 0.05


def test_quantize_cells_groups_clones(spark, emb):
    """Exact clones share a quantization cell; distinct random vectors
    do not (the cell keys the linear representative pass)."""
    from probably_jl_spark.operators.similarity import quantize_cells

    clones = emb.filter("vec_id = 0").select(
        (F.col("vec_id") + 900000).alias("vec_id"), "embedding"
    )
    both = emb.select("vec_id", "embedding").unionByName(clones)
    cells = quantize_cells(both).toPandas().set_index("vec_id").qcell
    assert cells[0] == cells[900000]
    base = cells[cells.index < 50]
    assert base.nunique() == len(base)  # random vectors all distinct cells


def test_dense_cluster_collapses_via_representative_pass(spark, emb):
    """VERDICT r03 missing #1: a clone cluster larger than
    max_bucket_size used to be silently excluded from the pair graph with
    every member kept. The quantized representative star pass must now
    collapse it to ONE keeper (the min id), linearly."""
    from probably_jl_spark.operators.similarity import dedup_embeddings

    base = emb.select("vec_id", "embedding")
    one = emb.filter("vec_id = 0").select("vec_id", "embedding")
    clone_ids = [5000 + i for i in range(60)]
    clones = one.crossJoin(
        spark.createDataFrame([(i,) for i in clone_ids], "new_id long")
    ).select(F.col("new_id").alias("vec_id"), "embedding")
    out = dedup_embeddings(
        base.unionByName(clones),
        threshold=0.95,
        dim=64,
        n_tables=16,
        max_bucket_size=16,
    ).toPandas()
    cluster = out[out.vec_id.isin([0] + clone_ids)]
    assert (cluster.cluster_rep == 0).all(), cluster.cluster_rep.value_counts()
    assert cluster[cluster.vec_id == 0].keep.all()
    assert (~cluster[cluster.vec_id != 0].keep).all()
    # untouched singletons keep themselves
    singles = out[(out.vec_id > 0) & (out.vec_id < 50)]
    assert singles.keep.all()


def test_ann_lsh_default_is_multiprobe(spark, emb):
    """VERDICT r3 item 6: the proven-cheaper 8-table x 3-probe config is
    the default (query-side probing, half the corpus key rows), and it
    still clears the recall gate on the worst-case near-uniform fixture."""
    import inspect

    from probably_jl_spark.operators.similarity import ann_topk_lsh, cosine_topk

    sig = inspect.signature(ann_topk_lsh)
    assert sig.parameters["n_tables"].default == 8
    assert sig.parameters["n_probes"].default == 3

    q = emb.filter("vec_id < 10")
    exact = cosine_topk(emb, q, k=5).toPandas()
    approx = ann_topk_lsh(emb, q, dim=64, k=5).toPandas()
    rs = []
    for i in range(10):
        e = set(exact[exact.query_id == i].neighbor_id)
        a = set(approx[approx.query_id == i].neighbor_id)
        rs.append(len(e & a) / max(len(e), 1))
    assert sum(rs) / len(rs) >= 0.7


def test_near_dup_cap_path_materializes_keys_once(spark, emb):
    """The cap path's many branches (sub/over/re-cap/self-join sides)
    must read MATERIALIZED keys, not re-run the corpus scan + matmul
    mapInPandas per branch (measured: Catalyst gave zero ReusedExchange
    across the branches before the localCheckpoint)."""
    from probably_jl_spark.operators.similarity import cosine_near_dup_pairs

    out = cosine_near_dup_pairs(
        emb.select("vec_id", "embedding"), threshold=0.95, dim=64,
        n_planes=8, n_tables=4, max_bucket_size=16, corpus_size=500,
    )
    out.count()
    final = (
        out._jdf.queryExecution().executedPlan().toString()
        .split("== Initial Plan ==")[0]
    )
    # the keys pass (mapInArrow since r5; mapInPandas before) must have
    # run pre-join: the ONLY Python-stage node left in the final plan is
    # the single post-join exact rerank (its own mapInArrow). More than
    # one means a branch is re-running the corpus scan + matmul.
    assert final.count("MapInArrow") == 1, final
    assert final.count("MapInPandas") == 0, final
    assert "ExistingRDD" in final  # branches read the checkpointed keys


def _optimized_plan(df):
    return df._jdf.queryExecution().optimizedPlan().toString()


def test_pair_plans_have_zero_window_nodes(spark, docs, emb):
    """VERDICT r04 "What's wrong #1": bucket sizing must be a map-side
    aggregate + broadcast over-list, never count(1) OVER (partition by
    band, bucket) — the window shuffles AND sorts every key row.
    materialize='none' keeps the whole lineage visible in one plan (a
    localCheckpoint would truncate it and hide a Window upstream)."""
    from probably_jl_spark.operators.dedup import simhash_near_dups as _snd

    sigs = minhash_signatures(docs)
    p1 = lsh_candidate_pairs(sigs, max_bucket_size=50, materialize="none")
    assert "Window" not in _optimized_plan(p1)
    p2 = _snd(docs, max_bucket_size=50, materialize="none")
    assert "Window" not in _optimized_plan(p2)
    p3 = cosine_near_dup_pairs(
        emb, threshold=0.95, dim=64, n_planes=10, n_tables=4,
        corpus_size=2000, max_bucket_size=16, materialize="none",
    )
    assert "Window" not in _optimized_plan(p3)


def test_minhash_star_members_not_dropped(spark):
    """VERDICT r04 missing #1: an over-cap NEAR-dup (not exact-clone)
    cluster must collapse to ONE keeper through the representative star
    instead of silently surviving. 40 one-tag-apart variants of a base
    sentence (pairwise J ~0.98), cap 8."""
    from probably_jl_spark.operators.dedup import dedup_assign

    base = ("a long enough base sentence with plenty of distinct shingles "
            "covering many characters so tiny tag changes keep jaccard high")
    rows = [(500 + i, f"{base} tag {i:02d}") for i in range(40)]
    rows += [(10, "completely unrelated text about gardens and rivers flowing")]
    docs = spark.createDataFrame(rows, "doc_id long, text string")
    pairs = minhash_near_dups(docs, threshold=0.8, bands=32, max_bucket_size=8)
    out = dedup_assign(docs, pairs).toPandas()
    cluster = out[out.doc_id >= 500]
    assert (cluster.cluster_rep == 500).all()
    assert cluster.keep.sum() == 1
    assert out[out.doc_id == 10].keep.all()


def test_arrow_bucket_passes_match_numpy_oracle(spark, emb):
    """VERDICT r04 #3 (tolist tax): the bucket/signature passes now read
    vectors through flat Arrow buffers. Verify each against an
    independent driver-side numpy recomputation from the collected
    vectors — byte-identical bucket/cell ids."""
    from probably_jl_spark.operators.similarity import (
        _planes,
        multitable_buckets,
        quantize_cells,
    )

    rows = emb.select("vec_id", "embedding").collect()
    ids = np.array([r.vec_id for r in rows], dtype=np.int64)
    mat = np.array([r.embedding for r in rows], dtype=np.float32)

    # hyperplane_buckets
    got = hyperplane_buckets(emb, dim=64, n_planes=8).select("vec_id", "bucket").toPandas()
    pl = _planes(64, 8, 7)
    w = 1 << np.arange(8, dtype=np.int64)
    expect = (((mat @ pl.T) > 0) * w).sum(axis=1)
    want = dict(zip(ids.tolist(), expect.tolist()))
    assert all(want[v] == b for v, b in zip(got.vec_id, got.bucket))

    # multitable_buckets (no probes): every (id, table) -> bucket
    got2 = multitable_buckets(emb, dim=64, n_tables=4, n_planes=4).toPandas()
    pl2 = _planes(64, 16, 7)
    w2 = 1 << np.arange(4, dtype=np.int64)
    signs = (mat @ pl2.T) > 0
    want2 = {}
    for t in range(4):
        b = (signs[:, t * 4:(t + 1) * 4] * w2).sum(axis=1)
        for v, bb in zip(ids.tolist(), b.tolist()):
            want2[(v, t)] = bb
    assert len(got2) == 4 * len(ids)
    assert all(
        want2[(v, t)] == b for v, t, b in zip(got2.vec_id, got2.table, got2.bucket)
    )

    # quantize_cells: clones of the same vector share a cell; distinct
    # vectors do not (checks the packed-bytes layout end to end)
    dup = emb.filter("vec_id = 0").select(
        (F.col("vec_id") + 7777).alias("vec_id"), "embedding"
    )
    cells = quantize_cells(
        emb.select("vec_id", "embedding").unionByName(dup)
    ).toPandas().set_index("vec_id").qcell
    assert cells.loc[0] == cells.loc[7777]
    assert cells.nunique() > len(cells) // 2


def test_ivf_max_list_size_bounds_shards_same_results(spark, emb):
    """VERDICT r04 missing #2: ann_topk_ivf(max_list_size=...) must (a)
    return IDENTICAL results to the uncapped run (sharding a hot list
    never changes the candidate set — queries probe every shard) and
    (b) bound per-(list, shard) corpus fan-in on a deliberately
    clustered corpus."""
    from probably_jl_spark.operators.similarity import (
        _shard_hot_lists,
        ann_topk_ivf,
        ivf_assign,
        train_centroids,
    )

    # clustered corpus: 600 tiny perturbations of one vector -> one or
    # two inverted lists absorb almost everything
    base = emb.filter("vec_id = 0").select("embedding")
    clustered = (
        spark.range(600)
        .crossJoin(base)
        .select(
            F.col("id").alias("vec_id"),
            F.transform(
                "embedding", lambda x, i: x + (F.col("id") % 7) * 1e-4 * (i % 3)
            ).alias("embedding"),
        )
    )
    queries = clustered.filter("vec_id < 5")
    capped = ann_topk_ivf(
        clustered, queries, dim=64, k=5, n_centroids=8, nprobe=2, max_list_size=100
    ).toPandas().sort_values(["query_id", "rank"]).reset_index(drop=True)
    uncapped = ann_topk_ivf(
        clustered, queries, dim=64, k=5, n_centroids=8, nprobe=2
    ).toPandas().sort_values(["query_id", "rank"]).reset_index(drop=True)
    assert capped[["query_id", "neighbor_id", "rank"]].equals(
        uncapped[["query_id", "neighbor_id", "rank"]]
    )
    # shard-size bound: recompute the sharded corpus keys directly
    cents = train_centroids(clustered, dim=64, n_centroids=8)
    corpus_keys = ivf_assign(clustered, cents).select(
        F.col("vec_id").alias("neighbor_id"), "list_id"
    )
    probe_keys = ivf_assign(queries, cents, nprobe=2).select(
        F.col("vec_id").alias("query_id"), "list_id"
    )
    ck, pk, jk = _shard_hot_lists(corpus_keys, probe_keys, 100)
    sizes = ck.groupBy(*jk).count().toPandas()["count"]
    # hash split is probabilistic: allow 2x headroom over the cap
    assert sizes.max() <= 200, f"max shard size {sizes.max()}"
    assert jk == ["list_id", "shard"]


def test_minhash_band_geometry_validated(spark):
    """n_hashes < bands would hash EMPTY signature slices (one global
    bucket per band — silent recall collapse); it must raise instead
    (code-review r5)."""
    from probably_jl_spark.operators.dedup import lsh_candidate_pairs, minhash_near_dups

    df = spark.createDataFrame([(1, "some text here")], "doc_id long, text string")
    with pytest.raises(ValueError, match="n_hashes"):
        minhash_near_dups(df, n_hashes=8, bands=16)
    with pytest.raises(ValueError, match="rows_per_band"):
        lsh_candidate_pairs(df.selectExpr("doc_id", "array(1L) as sig"), rows_per_band=0)


def test_ann_ivf_fused_equals_join(spark, emb, monkeypatch):
    """The r6 fused small-query IVF route (one corpus pass, broadcast
    probe lists, partition-local rerank) must return EXACTLY the join
    path's rows — same candidates, bit-equal sims, same ranks."""
    from probably_jl_spark.operators import similarity
    from probably_jl_spark.operators.similarity import ann_topk_ivf

    queries = emb.filter("vec_id < 10")
    fused = ann_topk_ivf(
        emb, queries, dim=64, k=5, n_centroids=16, nprobe=8
    ).toPandas()
    # a cap below the 10 queries forces the join path
    monkeypatch.setattr(similarity, "_FUSED_MAX_QUERIES", 0)
    join = ann_topk_ivf(
        emb, queries, dim=64, k=5, n_centroids=16, nprobe=8
    ).toPandas()
    f = fused.sort_values(["query_id", "rank"]).reset_index(drop=True)
    j = join.sort_values(["query_id", "rank"]).reset_index(drop=True)
    assert f[["query_id", "neighbor_id", "rank"]].equals(
        j[["query_id", "neighbor_id", "rank"]]
    )
    assert (f["sim"].to_numpy() == j["sim"].to_numpy()).all()


def test_collect_queries_cap_raises(spark):
    """The ANN entry points collect the query side by contract; a
    corpus-sized query set must fail loudly, not OOM the driver
    (VERDICT r5 #5)."""
    import pytest as _pytest

    from probably_jl_spark.operators import similarity as sim

    big = spark.range(50).selectExpr(
        "id AS vec_id", "array(cast(id AS float)) AS embedding"
    )
    old = sim._MAX_QUERY_ROWS
    sim._MAX_QUERY_ROWS = 10
    try:
        with _pytest.raises(ValueError, match="query side exceeds"):
            sim._collect_queries(big, "vec_id", "embedding")
    finally:
        sim._MAX_QUERY_ROWS = old


def test_broadcast_lookup_rerank_bit_equal(spark, emb):
    """_broadcast_lookup_rerank (numpy broadcast + searchsorted gather)
    must produce bit-identical sims to _rerank_pairs over the
    broadcast-join attach, pair for pair."""
    from pyspark.sql import functions as F

    from probably_jl_spark.operators.similarity import (
        _broadcast_lookup_rerank,
        _rerank_pairs,
    )

    a = emb.select(F.col("vec_id").alias("id_a")).filter("id_a < 40")
    b = emb.select(F.col("vec_id").alias("id_b")).filter("id_b >= 40 AND id_b < 90")
    pairs = a.crossJoin(b)
    va = emb.select(F.col("vec_id").alias("id_a"), F.col("embedding").alias("va"))
    vb = emb.select(F.col("vec_id").alias("id_b"), F.col("embedding").alias("vb"))
    attached = pairs.join(F.broadcast(va), "id_a").join(F.broadcast(vb), "id_b")
    want = (
        _rerank_pairs(attached, "va", "vb", ["id_a", "id_b"])
        .toPandas().sort_values(["id_a", "id_b"]).reset_index(drop=True)
    )
    got = (
        _broadcast_lookup_rerank(pairs, emb, "vec_id", "embedding")
        .toPandas().sort_values(["id_a", "id_b"]).reset_index(drop=True)
    )
    assert len(got) == len(want) == 40 * 50
    assert (got["id_a"].to_numpy() == want["id_a"].to_numpy()).all()
    assert (got["id_b"].to_numpy() == want["id_b"].to_numpy()).all()
    assert (got["sim"].to_numpy() == want["sim"].to_numpy()).all()


def test_broadcast_lookup_rerank_rejects_foreign_id(spark, emb):
    """A pair id missing from the corpus fails loudly, naming the pair
    column and the corpus id column, instead of gathering a neighbor's
    vector (ids 0..N-1 are dense, so a gap id would land on its
    successor)."""
    from probably_jl_spark.operators.similarity import _broadcast_lookup_rerank

    corpus = emb.filter("vec_id != 7")
    pairs = spark.createDataFrame([(1, 2), (3, 7)], "id_a long, id_b long")
    with pytest.raises(Exception, match=r"pair column 'id_b' holds id 7.*'vec_id'"):
        _broadcast_lookup_rerank(pairs, corpus, "vec_id", "embedding").collect()
