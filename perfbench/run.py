#!/usr/bin/env python3
"""Sketch benchmark: runs one workload on one seed and prints one JSON
result line.

    python3 perfbench/run.py --workload global_build --seed 1 --seconds 15 --trace 0

Run from the repository root (the library is imported from the directory
above this one). A closed loop: one driver process, ``local[nproc]``, one
Spark action at a time.

``--trace 0`` measures the end-to-end metrics: ``setup_s`` (median of
three set-ups, each a fresh SparkContext in the running JVM, page-cache
warm-up of the input and one warm-up iteration), then untimed warm-up
iterations for WARMUP_S, then iterations for ``--seconds``: ``wall_s``
(median seconds per iteration), ``rows_per_s`` and ``peak_rss_mb``
(driver Python + JVM + Python workers).

``--trace 1`` prints the per-layer metrics instead: in a context with the
Spark event log on, iterations alternate between traced (spans, event-log
reads) and untraced, then the in-process ``sketches`` probe runs.
Everything it saw is written to ``.perfbench_cache/traces/``.

Every call is checked against exact answers after the timed region;
``attempted``/``failed`` count calls. ``--smoke`` runs the same code on a
tiny input. The input for a seed is generated on first use and cached in
``.perfbench_cache/``; the states that ``grouped_states`` queries are
cached per seed and per version of the library's sources.
"""

from __future__ import annotations

import argparse
import json
import os
import shutil
import statistics
import subprocess
import sys
import time
from dataclasses import dataclass, field

HERE = os.path.dirname(os.path.abspath(__file__))
ROOT = os.path.dirname(HERE)
CACHE = os.path.join(ROOT, ".perfbench_cache")
SETUPS = 3
MIN_ITERATIONS = 3
# untimed iterations between the last set-up and the measured phase: the
# first few iterations after a set-up still run slower while the JIT settles
WARMUP_S = 4.0
DRIVER_MEMORY = "1g"


def parse_args(argv=None):
    from workloads import WORKLOADS

    p = argparse.ArgumentParser(description=__doc__.split("\n\n")[0])
    p.add_argument("--workload", required=True, choices=sorted(WORKLOADS))
    p.add_argument("--seed", type=int, required=True)
    p.add_argument("--seconds", type=float, required=True)
    p.add_argument("--trace", type=int, choices=(0, 1), default=0)
    p.add_argument("--smoke", action="store_true", help="tiny input, same code path")
    return p.parse_args(argv)


def log(msg: str) -> None:
    print(msg, file=sys.stderr, flush=True)


def import_library() -> bool:
    """The library must come from this checkout, not from site-packages."""
    sys.path.insert(0, ROOT)
    try:
        import probably_jl_spark
        import pyspark  # noqa: F401
    except ImportError as e:
        log(f"perfbench: cannot import the library from {ROOT}: {e}")
        return False
    if not os.path.abspath(probably_jl_spark.__file__).startswith(ROOT + os.sep):
        log(f"perfbench: probably_jl_spark resolves outside {ROOT}")
        return False
    return True


class Sessions:
    """One JVM for the whole run; each set-up starts a fresh SparkContext
    in it. ``close`` stops the context and the JVM and waits for the JVM,
    which stops its Python workers before it exits."""

    def __init__(self, cores: int):
        self.cores = cores
        self.spark = None
        tmp = os.path.join(CACHE, "tmp")
        os.makedirs(tmp, exist_ok=True)
        os.environ["TMPDIR"] = tmp
        os.environ["PYTHONPATH"] = os.pathsep.join(
            [ROOT] + [p for p in os.environ.get("PYTHONPATH", "").split(os.pathsep) if p]
        )
        os.environ["PYSPARK_PYTHON"] = sys.executable
        os.environ["PYSPARK_DRIVER_PYTHON"] = sys.executable

    def stop(self) -> None:
        if self.spark is not None:
            self.spark.stop()
            self.spark = None

    def start(self, event_log_dir: str | None = None):
        from pyspark.sql import SparkSession

        from probably_jl_spark.conf import apply_conf, sketch_build_conf

        conf = sketch_build_conf("local", cores=self.cores)
        conf.update(
            {
                "spark.driver.memory": DRIVER_MEMORY,
                "spark.ui.enabled": "false",
                "spark.ui.showConsoleProgress": "false",
                "spark.local.dir": os.path.join(CACHE, "spark-local"),
                "spark.sql.warehouse.dir": os.path.join(CACHE, "warehouse"),
                "spark.driver.extraJavaOptions": "-Djava.io.tmpdir=" + os.environ["TMPDIR"],
                "spark.eventLog.enabled": "true" if event_log_dir else "false",
            }
        )
        if event_log_dir:
            conf.update(
                {
                    "spark.eventLog.dir": "file://" + event_log_dir,
                    "spark.eventLog.compress": "false",
                    "spark.eventLog.rolling.enabled": "false",
                }
            )
        builder = SparkSession.builder.master(f"local[{self.cores}]").appName("perfbench")
        self.spark = apply_conf(builder, conf).getOrCreate()
        self.spark.sparkContext.setLogLevel("ERROR")
        return self.spark

    def close(self) -> None:
        from pyspark import SparkContext

        self.stop()
        gw = SparkContext._gateway
        if gw is None:
            return
        proc = getattr(gw, "proc", None)
        gw.shutdown()
        SparkContext._gateway = None
        SparkContext._jvm = None
        if proc is not None:
            # a plain interpreter exit returns while the JVM and its Python
            # workers still run for ~2 s; the JVM exits on stdin EOF, and
            # has stopped its workers by then
            proc.stdin.close()
            try:
                proc.wait(timeout=60)
            except subprocess.TimeoutExpired:
                proc.kill()
                proc.wait(timeout=30)


@dataclass
class Iteration:
    wall: float
    calls: list  # (name, ok, detail)
    op_walls: dict = field(default_factory=dict)


@dataclass
class Measured:
    walls: list = field(default_factory=list)
    op_walls: dict = field(default_factory=dict)
    attempted: int = 0
    failed: int = 0
    failures: list = field(default_factory=list)

    def add(self, it: Iteration) -> None:
        self.walls.append(it.wall)
        for name, w in it.op_walls.items():
            self.op_walls.setdefault(name, []).append(w)
        self.attempted += len(it.calls)
        bad = [(n, d) for n, ok, d in it.calls if not ok]
        self.failed += len(bad)
        self.failures.extend(bad)


def run_iteration(wl, tracer) -> Iteration:
    """Run the workload's calls back to back (timed), then check each
    output (untimed). A call that raises counts as failed."""
    if tracer.enabled:
        wl.spark.sparkContext.setJobGroup(f"perfbench-it{tracer.iteration}", "iteration")
    ops = wl.ops()
    outs = []
    op_walls = {}
    t0 = time.perf_counter()
    for name, fn, check in ops:
        t = time.perf_counter()
        try:
            outs.append((name, check, fn(), None))
        except Exception as e:  # a failing call is a result, not a crash
            outs.append((name, check, None, e))
        op_walls[name] = time.perf_counter() - t
    wall = time.perf_counter() - t0
    calls = []
    for name, check, out, err in outs:
        if err is not None:
            calls.append((name, False, f"raised {err!r}"))
            continue
        try:
            ok, detail = check(out)
        except Exception as e:
            ok, detail = False, f"check raised {e!r}"
        calls.append((name, bool(ok), detail))
    return Iteration(wall, calls, op_walls)


def warm_page_cache(paths: list[str]) -> None:
    for p in paths:
        with open(p, "rb") as fh:
            while fh.read(1 << 20):
                pass


def setup(sessions: Sessions, wl, event_log_dir=None):
    """Session start + input page-cache warm-up + one warm-up iteration."""
    from tracing import Tracer

    sessions.stop()
    t0 = time.perf_counter()
    spark = sessions.start(event_log_dir)
    tracer = Tracer(spark.sparkContext, enabled=event_log_dir is not None)
    warm_page_cache(wl.input_files())
    wl.setup(spark, tracer)
    warm = run_iteration(wl, tracer)
    for name, ok, detail in warm.calls:
        if not ok:
            log(f"warm-up call {name} failed: {detail}")
    return time.perf_counter() - t0, tracer


def measure(wl, tracer, seconds: float, after_iteration=None, alternate=False) -> Measured:
    """Untimed warm-up iterations for WARMUP_S (at least one), then
    iterations back to back for ``seconds``. With ``alternate`` the
    tracer is on for even iterations only, so traced and untraced
    iterations share one context and one stretch of time."""
    enabled = tracer.enabled
    tracer.enabled = False
    warm_until = time.perf_counter() + WARMUP_S
    while True:
        for name, ok, detail in run_iteration(wl, tracer).calls:
            if not ok:
                log(f"warm-up call {name} failed: {detail}")
        if time.perf_counter() >= warm_until:
            break
    tracer.enabled = enabled

    m = Measured()
    deadline = time.perf_counter() + seconds
    least = 2 * MIN_ITERATIONS if alternate else MIN_ITERATIONS
    while time.perf_counter() < deadline or len(m.walls) < least:
        tracer.iteration = len(m.walls)
        if alternate:
            tracer.enabled = tracer.iteration % 2 == 0
        it = run_iteration(wl, tracer)
        m.add(it)
        if after_iteration is not None:
            after_iteration(tracer.iteration, it)
    return m


def untraced_run(sessions, wl, args) -> tuple[dict, Measured, dict]:
    from tracing import RssSampler

    setups = []
    for _ in range(SETUPS):
        s, tracer = setup(sessions, wl)
        setups.append(s)
    with RssSampler() as rss:
        m = measure(wl, tracer, args.seconds)
    wall = statistics.median(m.walls)
    metrics = {
        "setup_s": statistics.median(setups),
        "wall_s": wall,
        "rows_per_s": wl.rows() / wall,
        "peak_rss_mb": rss.peak / (1 << 20),
    }
    detail = {"setups_s": setups, "walls_s": m.walls, "op_walls_s": m.op_walls, "rss_samples": rss.samples}
    return metrics, m, detail


def traced_run(sessions, wl, args) -> tuple[dict, Measured, dict]:
    from layers import sketch_layer
    from tracing import EventLog, self_times, span_dicts

    for _ in range(SETUPS - 1):  # same JVM warm-up as an untraced run
        setup(sessions, wl)

    log_dir = os.path.join(CACHE, "eventlog")
    shutil.rmtree(log_dir, ignore_errors=True)  # one run's log at a time
    os.makedirs(log_dir)
    _, tracer = setup(sessions, wl, event_log_dir=log_dir)
    sc = wl.spark.sparkContext
    elog = EventLog(log_dir, sc.applicationId)
    rows = []
    untraced_walls = []

    def after_iteration(i: int, it: Iteration) -> None:
        if not tracer.enabled:
            untraced_walls.append(it.wall)
            return
        job_ids = list(sc.statusTracker().getJobIdsForGroup(f"perfbench-it{i}"))
        spark_agg = elog.collect(job_ids)
        spans = tracer.iteration_spans(i)
        for s in spans:
            s.spark = spark_agg["per_span"].get(str(s.sid), {})
        selfs = self_times(spans)
        covered = sum(s.dur for s in spans if s.parent is None)
        sc.setJobGroup("perfbench-probe", "probe")
        t0 = time.perf_counter()
        wl.scan_probe()
        scan_s = time.perf_counter() - t0
        tot = spark_agg["total"]
        rows.append(
            {
                "wall_s": it.wall,
                "unattributed": max(0.0, 1.0 - covered / it.wall),
                "operators.self_s": sum(selfs[s.sid] for s in spans if s.layer.startswith("operators")),
                "estimators.self_s": sum(selfs[s.sid] for s in spans if s.layer in ("functions", "sketches")),
                "sources.scan_s": scan_s,
                "spark": tot,
                "missing_jobs": spark_agg["missing_jobs"],
            }
        )

    measured = measure(wl, tracer, args.seconds, after_iteration, alternate=True)
    traced_walls = [r["wall_s"] for r in rows]
    sc.setJobGroup("perfbench-probe", "probe")
    extras = wl.extra_probes()
    for name, ok, detail in extras.pop("checks", []):
        measured.attempted += 1
        if not ok:
            measured.failed += 1
            measured.failures.append((name, detail))
    micro = sketch_layer(wl.inp.n_convs, args.seed)

    def med(key):
        return statistics.median([r[key] for r in rows])

    def med_spark(key, scale=1.0):
        return statistics.median([r["spark"].get(key, 0) * scale for r in rows])

    metrics = {
        "sources.scan_s": med("sources.scan_s"),
        "operators.self_s": med("operators.self_s"),
        "estimators.self_s": med("estimators.self_s"),
        "python.data_sent_bytes": med_spark("py_sent_bytes"),
        "python.data_returned_bytes": med_spark("py_returned_bytes"),
        "python.run_s": med_spark("py_run_ms", 1e-3),
        "exchange.shuffle_bytes": med_spark("shuffle_bytes"),
        "spark.scan_time_s": med_spark("scan_ms", 1e-3),
        "spark.tasks_n": med_spark("tasks"),
        "spark.task_s": med_spark("run_ms", 1e-3),
        # GC pauses are rare at this scale: mean, not median
        "spark.gc_s": statistics.fmean([r["spark"].get("gc_ms", 0) * 1e-3 for r in rows]),
        "spark.task_skew": med_spark("task_skew"),
        "iteration.unattributed": med("unattributed"),
        "trace.overhead_s": statistics.median(traced_walls) - statistics.median(untraced_walls),
    }
    metrics.update(micro)

    by_call: dict[str, list] = {}
    for s in tracer.spans:
        if s.iteration >= 0:
            by_call.setdefault(s.name, []).append(s.dur)
    detail = {
        "untraced_walls_s": untraced_walls,
        "traced_walls_s": traced_walls,
        "per_iteration": rows,
        "call_median_s": {k: statistics.median(v) for k, v in by_call.items()},
        "probes": extras,
        "fpr": getattr(wl, "last_fpr", None),
        "spans": span_dicts(tracer.spans),
    }
    return metrics, measured, detail


def main(argv=None) -> int:
    args = parse_args(argv)
    if not import_library():
        return 2
    from inputs import ensure_input, ensure_states, library_digest
    from tracing import host_state, run_record, steal_share
    from workloads import WORKLOADS

    # one task slot per two CPUs: a running task keeps a JVM thread and a
    # Python worker busy at once, so local[nproc] would run about twice as
    # many busy threads as there are CPUs
    cores = max(1, len(os.sched_getaffinity(0)) // 2)
    record = run_record(ROOT, args, cores)
    record["library_digest"] = library_digest()
    wl_cls = WORKLOADS[args.workload]
    sessions = Sessions(cores)
    try:
        t0 = time.perf_counter()
        spark = sessions.start()
        record["jvm_start_s"] = time.perf_counter() - t0
        t0 = time.perf_counter()
        inp = ensure_input(spark, CACHE, "smoke" if args.smoke else "full", args.seed)
        if wl_cls.needs_states:
            ensure_states(spark, inp)
        record["input_s"] = time.perf_counter() - t0
        record["input_turns"] = inp.scalars["turns"]
        wl = wl_cls(inp)
        run = traced_run if args.trace else untraced_run
        metrics, measured, detail = run(sessions, wl, args)
    finally:
        sessions.close()
    record["after"] = host_state()
    record["steal_share"] = steal_share(record["before"], record["after"])
    record["iterations"] = len(measured.walls)
    record["failures"] = measured.failures[:20]

    with open(os.path.join(ROOT, "BENCHMARK.json")) as fh:
        declared = json.load(fh)["per_layer" if args.trace else "end_to_end"]
    units = {m["name"]: m["unit"] for m in declared}
    out_dir = os.path.join(CACHE, "traces" if args.trace else "runs")
    os.makedirs(out_dir, exist_ok=True)
    name = f"{args.workload}-seed{args.seed}{'-smoke' if args.smoke else ''}.json"
    with open(os.path.join(out_dir, name), "w") as fh:
        json.dump({"record": record, "metrics": metrics, **detail}, fh, indent=1, default=str)

    for k in units:
        log(f"{k:34s} {metrics[k]:14.6g} {units[k]}")
    log(json.dumps(record))
    result = {
        "correct": measured.failed == 0,
        "attempted": measured.attempted,
        "failed": measured.failed,
        "metrics": {k: {"value": float(metrics[k]), "unit": units[k]} for k in units},
    }
    print(json.dumps(result), flush=True)
    return 0


if __name__ == "__main__":
    sys.exit(main())
