"""The benchmark workloads.

Each workload drives the library only through its public modules
(``operators.build``, ``operators.grouped``, ``operators.rollup``,
``functions``, ``sketches``). ``ops()`` lists the calls of one iteration;
each op returns its output, and its check compares that output with the
exact answers cached with the input after the timed region.
"""

from __future__ import annotations

import os
import time

import numpy as np
import pandas as pd

from inputs import KLL_K, Input, keyed, parquet_files, state_specs, transcript_specs

QS = (0.01, 0.1, 0.5, 0.9, 0.99)
MAX_OUTLIER_SHARE = 0.01  # groups allowed outside 3 sigma (3 sigma covers 99.7%)


def hll_sigma() -> float:
    from probably_jl_spark.sketches.hll import HyperLogLog

    return HyperLogLog.error_bound()


def within_3sigma(est: float, exact: int) -> bool:
    """|est - exact| <= 3 sigma relative, plus rounding slack."""
    return abs(est - exact) <= 3 * hll_sigma() * exact + 0.5


def rank_error(sorted_vals: np.ndarray, x: float, q: float) -> float:
    """Distance of q from the exact rank interval of x (ties span one)."""
    n = sorted_vals.size
    lo = np.searchsorted(sorted_vals, x, side="left") / n
    hi = np.searchsorted(sorted_vals, x, side="right") / n
    return 0.0 if lo <= q <= hi else min(abs(q - lo), abs(q - hi))


def check_groups(
    got: pd.DataFrame, keys: list[str], est: np.ndarray, exact: pd.DataFrame
) -> tuple[bool, str]:
    """Grouped output against exact answers: the same groups, exact row
    counts, and at most MAX_OUTLIER_SHARE of the HLL estimates outside
    3 sigma."""
    got = got[keys + ["n_rows"]].copy()
    for k in keys:
        got[k] = keyed(got[k])
    got["est"] = np.asarray(est, dtype=np.float64)
    if len(got) != len(exact):
        return False, f"{len(got)} groups, expected {len(exact)}"
    m = exact.merge(got, on=keys, how="inner", suffixes=("", "_got"))
    if len(m) != len(exact):
        return False, f"{len(exact) - len(m)} expected groups missing"
    bad_rows = int((m["n_rows"] != m["n_rows_got"]).sum())
    if bad_rows:
        return False, f"{bad_rows} groups with wrong n_rows"
    slack = 3 * hll_sigma() * m["distinct"] + 0.5
    outliers = int(((m["est"] - m["distinct"]).abs() > slack).sum())
    if outliers > MAX_OUTLIER_SHARE * len(m):
        return False, f"{outliers}/{len(m)} HLL estimates outside 3 sigma"
    return True, f"{len(m)} groups, {outliers} outside 3 sigma"


def route_of(df) -> str:
    """The grouped_sketch dispatch route a DataFrame's executed plan took,
    read from its Python nodes: the direct route maps over Arrow after one
    exchange, the vectorized partial route maps over pandas on both sides
    of it, and the generic route merges with applyInPandas."""
    plan = df._jdf.queryExecution().executedPlan().toString()
    if "FlatMapGroupsInPandas" in plan:
        return "generic"
    if "MapInArrow" in plan:
        return "direct"
    if "MapInPandas" in plan:
        return "partial"
    return "unknown"


def noop_scan(df) -> None:
    df.write.format("noop").mode("overwrite").save()


class Workload:
    name = ""
    needs_states = False

    def __init__(self, inp: Input):
        """Loads the exact answers; runs once per run, outside set-up."""
        self.inp = inp
        self.spark = None
        self.t = None

    def setup(self, spark, tracer) -> None:
        """Binds the workload to a fresh session: the set-up's share."""
        self.spark = spark
        self.t = tracer

    def input_files(self) -> list[str]:
        return parquet_files(self.inp.transcripts)

    def ops(self) -> list:
        raise NotImplementedError

    def rows(self) -> int:
        """Input rows one iteration consumes."""
        raise NotImplementedError

    def scan_probe(self) -> None:
        """Traced runs only: noop write of the projection the workload's
        scans read, timed as sources.scan_s."""
        raise NotImplementedError

    def extra_probes(self) -> dict:
        """Traced runs only: workload-specific layer probes, by name, and
        under ``checks`` their (name, ok, detail) correctness checks."""
        return {}


class GlobalBuild(Workload):
    name = "global_build"

    def __init__(self, inp: Input):
        super().__init__(inp)
        self.specs = transcript_specs(inp.n_convs)
        sc = inp.scalars
        self.role_keys = [k for k, _ in sc["role_counts"]]
        self.tool_keys = [k for k, _ in sc["tool_counts"]]
        convs = self.inp.exact("per_conv")["conv_id"].to_numpy()
        rng = np.random.default_rng(self.inp.seed)
        self.present = list(rng.choice(convs, size=min(256, convs.size), replace=False))
        n = self.inp.n_convs
        self.absent = [f"conv-{i:08d}" for i in range(n, n + 256)]
        self.text_len = np.sort(self.inp.columns("text_len")["text_len"].to_numpy())
        self.sk = None

    def setup(self, spark, tracer) -> None:
        super().setup(spark, tracer)
        self.df = spark.read.parquet(self.inp.transcripts)

    def rows(self) -> int:
        return self.inp.scalars["turns"]

    def ops(self) -> list:
        from probably_jl_spark import functions as PF
        from probably_jl_spark.operators.build import sketch_table

        t = self.t

        def build():
            self.sk = None
            with t.span("sketch_table", "operators.build"):
                res = sketch_table(self.df, self.specs)
            self.sk = res.sketches
            return res.n_rows

        def cardinality():
            with t.span("estimate_cardinality", "functions"):
                return {n: PF.estimate_cardinality(self.sk[n]) for n in ("convs", "conv_tool")}

        def counts():
            with t.span("query_count", "functions"):
                return (
                    {k: PF.query_count(self.sk["role_freq"], k) for k in self.role_keys},
                    {k: PF.query_count(self.sk["tool_freq"], k) for k in self.tool_keys},
                )

        def member():
            with t.span("contains", "functions"):
                return (
                    [PF.contains(self.sk["conv_member"], k) for k in self.present],
                    [PF.contains(self.sk["conv_member"], k) for k in self.absent],
                )

        def quantiles():
            with t.span("quantile", "functions"):
                return {
                    n: [PF.quantile(self.sk[n], q) for q in QS]
                    for n in ("turn_len_td", "turn_len_kll")
                }

        return [
            ("sketch_table", build, self.check_build),
            ("estimate_cardinality", cardinality, self.check_cardinality),
            ("query_count", counts, self.check_counts),
            ("contains", member, self.check_member),
            ("quantile", quantiles, self.check_quantiles),
        ]

    def check_build(self, n_rows):
        want = self.inp.scalars["turns"]
        return n_rows == want, f"n_rows {n_rows} vs {want}"

    def check_cardinality(self, est):
        sc = self.inp.scalars
        want = {"convs": sc["distinct_convs"], "conv_tool": sc["distinct_conv_tool"]}
        ok = all(within_3sigma(est[k], want[k]) for k in want)
        return ok, f"{est} vs {want}"

    def check_counts(self, got):
        sc = self.inp.scalars
        eps_t = 2.0 / self.specs[2].params["width"] * sc["turns"]
        bad = [
            k
            for est, want in zip(got, (sc["role_counts"], sc["tool_counts"]))
            for k, exact in want
            if not exact <= est[k] <= exact + eps_t
        ]
        return not bad, f"keys outside [exact, exact+eps*T]: {bad}"

    def check_member(self, got):
        present, absent = got
        fn = present.count(False)
        return fn == 0, f"{fn} false negatives, {sum(absent)}/{len(absent)} false positives"

    def check_quantiles(self, got):
        errs = {
            n: max(rank_error(self.text_len, x, q) for x, q in zip(vals, QS))
            for n, vals in got.items()
        }
        return max(errs.values()) <= 2.0 / KLL_K, f"max rank error {errs}"

    def scan_probe(self) -> None:
        from probably_jl_spark.operators.build import prepare

        noop_scan(prepare(self.df, self.specs, lineage=False)[0])

    def extra_probes(self) -> dict:
        """The fused build decomposed: partials built and cached, then
        ``tree_merge`` over the cached partials, once as shipped (a driver
        fold at this size, far under its 64 MB gate) and once with an
        explicit depth, which takes the treeReduce branch. The two merges
        must agree byte for byte on the order-insensitive kinds."""
        from probably_jl_spark.operators.build import build_partials, tree_merge

        t0 = time.perf_counter()
        partials = build_partials(self.df, self.specs, lineage=False).cache()
        partials.count()
        t1 = time.perf_counter()
        fold = tree_merge(partials, self.specs)
        t2 = time.perf_counter()
        tree = tree_merge(partials, self.specs, depth=2)
        t3 = time.perf_counter()
        state_bytes = sum(
            len(b or b"")
            for row in partials.select([s.state_col for s in self.specs]).collect()
            for b in row
        )
        partials.unpersist()
        differ = [
            s.name
            for s in self.specs
            if s.kind in ("hll", "cms", "bloom") and fold[s.name].to_bytes() != tree[s.name].to_bytes()
        ]
        return {
            "build.partials_s": t1 - t0,
            "build.tree_merge_s": t2 - t1,
            "build.tree_reduce_s": t3 - t2,
            "build.state_bytes": state_bytes,
            "checks": [("tree_merge[depth=2]", not differ, f"differs from the driver fold: {differ}")],
        }


class GroupedBuild(Workload):
    name = "grouped_build"

    def __init__(self, inp: Input):
        super().__init__(inp)
        self.exact = {
            "conv_id": inp.exact("per_conv"),
            "role,tool": inp.exact("per_role_tool").rename(columns={"tool_k": "tool"}),
            "role": inp.exact("per_role"),
        }
        t = inp.columns("role", "text_len")
        self.role_len = {r: np.sort(g.to_numpy()) for r, g in t.groupby("role")["text_len"]}

    def setup(self, spark, tracer) -> None:
        super().setup(spark, tracer)
        self.df = spark.read.parquet(self.inp.transcripts)

    def calls(self) -> list:
        """(label, group_cols, specs, pre_partial, route) per grouped_sketch
        call: one per dispatch route. The per-conversation call forces the
        direct Arrow route: at this input size the library's distinct-ratio
        sample (~0.26 distinct keys per row) would pick the partial route,
        which a round-robin layout of millions of conversations does not."""
        from probably_jl_spark.operators.specs import SketchSpec

        return [
            ("conv_id", ["conv_id"], [SketchSpec("tools", "hll", key_cols=("tool",))], False, "direct"),
            ("role,tool", ["role", "tool"], [SketchSpec("convs", "hll", key_cols=("conv_id",))], None, "partial"),
            (
                "role",
                ["role"],
                [
                    SketchSpec("convs", "hll", key_cols=("conv_id",)),
                    SketchSpec("turn_len", "kll", value_col="text_len", params={"k": KLL_K}),
                ],
                None,
                "generic",
            ),
        ]

    def rows(self) -> int:
        return self.inp.scalars["turns"] * len(self.calls())

    def grouped(self, label, group_cols, specs, pre_partial):
        from probably_jl_spark.operators.grouped import grouped_sketch

        with self.t.span(f"grouped_sketch[{label}]", "operators.grouped"):
            gdf = grouped_sketch(self.df, group_cols, specs, pre_partial=pre_partial)
        with self.t.span(f"collect[{label}]", "operators.grouped"):
            return gdf, gdf.toPandas()

    def ops(self) -> list:
        from probably_jl_spark import functions as PF
        from probably_jl_spark.sketches.hll import estimate_many

        def check_route(gdf, want):
            got = route_of(gdf)
            return got == want, f"route {got}, expected {want}"

        def hll_op(label, group_cols, specs, pre_partial, route):
            def run():
                gdf, pdf = self.grouped(label, group_cols, specs, pre_partial)
                with self.t.span(f"estimate_many[{label}]", "sketches"):
                    est = estimate_many(list(pdf[specs[0].state_col]))
                return gdf, pdf, est

            def check(out):
                gdf, pdf, est = out
                ok_route, route_detail = check_route(gdf, route)
                ok, detail = check_groups(pdf, group_cols, est, self.exact[label])
                return ok and ok_route, f"{route_detail}; {detail}"

            return (f"grouped_sketch[{label}]", run, check)

        direct, partial, (label, group_cols, specs, pre_partial, route) = self.calls()

        def generic():
            gdf, pdf = self.grouped(label, group_cols, specs, pre_partial)
            with self.t.span(f"estimate[{label}]", "functions"):
                est = [PF.estimate_cardinality(b) for b in pdf["state_convs"]]
                qs = [[PF.quantile(b, q) for q in QS] for b in pdf["state_turn_len"]]
            return gdf, pdf, est, qs

        def check_generic(out):
            gdf, pdf, est, qs = out
            ok_route, route_detail = check_route(gdf, route)
            ok, detail = check_groups(pdf, group_cols, est, self.exact[label])
            errs = [
                rank_error(self.role_len[r], x, q)
                for r, vals in zip(pdf["role"], qs)
                for x, q in zip(vals, QS)
            ]
            worst = max(errs) if errs else 1.0
            ok = ok and ok_route and worst <= 2.0 / KLL_K
            return ok, f"{route_detail}; {detail}; max KLL rank error {worst:.4f}"

        return [hll_op(*direct), hll_op(*partial), (f"grouped_sketch[{label}]", generic, check_generic)]

    def scan_probe(self) -> None:
        from probably_jl_spark.operators.build import plan_columns

        for _, group_cols, specs, _, _ in self.calls():
            noop_scan(self.df.select(*group_cols, *plan_columns(specs)[0]))


class StateQueries(Workload):
    name = "state_queries"
    needs_states = True

    def input_files(self) -> list[str]:
        return parquet_files(self.inp.states) + parquet_files(self.inp.probes)

    def __init__(self, inp: Input):
        super().__init__(inp)
        self.bloom = inp.state_blob("conv_member")
        self.cms = inp.state_blob("conv_turns")
        self.direct_hll = inp.state_blob("conv_tool")
        self.per_prefix = pd.read_parquet(os.path.join(inp.states_dir, "per_prefix.parquet"))
        self.sizes = inp.state_scalars()
        self.eps_t = 2.0 / state_specs(inp.n_convs)[2].params["width"] * inp.scalars["turns"]

    def setup(self, spark, tracer) -> None:
        super().setup(spark, tracer)
        self.states_df = spark.read.parquet(self.inp.states)
        self.probes_df = spark.read.parquet(self.inp.probes)

    def rows(self) -> int:
        return 2 * self.sizes["state_rows"] + 2 * self.sizes["probes"]

    def ops(self) -> list:
        from pyspark.sql import functions as F

        from probably_jl_spark import functions as PF
        from probably_jl_spark.operators.rollup import rollup_states
        from probably_jl_spark.sketches.hll import estimate_many

        t = self.t

        def fine():
            with t.span("rollup_states[conv_prefix]", "operators.rollup"):
                rdf = rollup_states(self.states_df, ["conv_prefix"])
            with t.span("collect[conv_prefix]", "operators.rollup"):
                pdf = rdf.toPandas()
            with t.span("estimate_many[conv_prefix]", "sketches"):
                est = estimate_many(list(pdf["state_conv_tool"]))
            return pdf, est

        def global_():
            with t.span("rollup_states[global]", "operators.rollup"):
                rdf = rollup_states(self.states_df, [])
            with t.span("collect[global]", "operators.rollup"):
                row = rdf.collect()[0]
            with t.span("estimate_cardinality[global]", "functions"):
                est = PF.estimate_cardinality(row["state_conv_tool"])
            return bytes(row["state_conv_tool"]), row["n_rows"], est

        def contains():
            with t.span("batch_contains", "functions"):
                out = (
                    PF.batch_contains(self.probes_df, ["conv_id"], self.bloom)
                    .groupBy("present", "member")
                    .count()
                    .collect()
                )
            return {(r["present"], r["member"]): r["count"] for r in out}

        def counts():
            with t.span("batch_query_counts", "functions"):
                est, exact = F.col("est_count"), F.col("exact")
                return (
                    PF.batch_query_counts(self.probes_df, ["conv_id"], self.cms)
                    .agg(
                        F.sum((est < exact).cast("long")).alias("under"),
                        F.sum((est > exact + F.lit(self.eps_t)).cast("long")).alias("over"),
                        F.count(F.lit(1)).alias("n"),
                    )
                    .collect()[0]
                    .asDict()
                )

        return [
            ("rollup_states[conv_prefix]", fine, self.check_fine),
            ("rollup_states[global]", global_, self.check_global),
            ("batch_contains", contains, self.check_contains),
            ("batch_query_counts", counts, self.check_counts),
        ]

    def check_fine(self, out):
        return check_groups(out[0], ["conv_prefix"], out[1], self.per_prefix)

    def check_global(self, out):
        blob, n_rows, est = out
        sc = self.inp.scalars
        ok = blob == self.direct_hll and n_rows == sc["turns"] and within_3sigma(est, sc["distinct_conv_tool"])
        return ok, f"byte-identical {blob == self.direct_hll}, n_rows {n_rows}, estimate {est}"

    def check_contains(self, got):
        fn = got.get((True, False), 0)
        fp = got.get((False, True), 0)
        n_absent = fp + got.get((False, False), 0)
        self.last_fpr = fp / max(n_absent, 1)
        return fn == 0 and n_absent == self.sizes["probes"] // 2, f"{fn} false negatives, fpr {self.last_fpr:.5f}"

    def check_counts(self, got):
        ok = got["under"] == 0 and got["over"] == 0 and got["n"] == self.sizes["probes"]
        return ok, str(got)

    def scan_probe(self) -> None:
        from pyspark.sql import functions as F

        noop_scan(self.states_df.select("conv_prefix", "n_rows", "state_conv_tool"))
        noop_scan(self.probes_df.select(F.xxhash64("conv_id"), "present", "exact"))


class GroupedStates(Workload):
    """One iteration runs the ``grouped_build`` calls, then the
    ``state_queries`` calls. The two run as one workload so that each run
    measures longer within the comparison budget."""

    name = "grouped_states"
    needs_states = True

    def __init__(self, inp: Input):
        super().__init__(inp)
        self.parts = (GroupedBuild(inp), StateQueries(inp))

    def setup(self, spark, tracer) -> None:
        super().setup(spark, tracer)
        for p in self.parts:
            p.setup(spark, tracer)

    def input_files(self) -> list[str]:
        return [f for p in self.parts for f in p.input_files()]

    def ops(self) -> list:
        return [op for p in self.parts for op in p.ops()]

    def rows(self) -> int:
        return sum(p.rows() for p in self.parts)

    def scan_probe(self) -> None:
        for p in self.parts:
            p.scan_probe()

    @property
    def last_fpr(self):
        return getattr(self.parts[1], "last_fpr", None)


WORKLOADS = {w.name: w for w in (GlobalBuild, GroupedStates)}
