"""mahout_spark benchmark: one workload, one seed, one closed-loop run.

    python3 perfbench/run.py --workload corpus_cms --seed 1 --seconds 20 \
        --trace 0

Run from the repository root (the directory holding ``mahout_spark/``). One
client runs the workload's pipeline back to back on ``local[<nproc>]`` for
``--seconds`` seconds; the last line of standard output is one JSON object
``{"correct", "attempted", "failed", "metrics"}``.

``--trace 0`` reports the end-to-end metrics from fused iterations (library
calls chained as a user would, only final outputs collected). ``--trace 1``
reports the per-layer metrics instead: each library call (a span) is
labelled with ``setJobDescription``, its output is cached and counted before
the next span reads it, and the Spark event log is folded per span
(``eventlog.py``). See ``README.md`` for the metrics and how to read them.

Everything the run writes (inputs, Spark local and temp dirs, the event log)
goes to ``.perfbench_work/`` under the repository root and is deleted at exit.
"""

from __future__ import annotations

import argparse
import json
import os
import shutil
import statistics
import subprocess
import sys
import tempfile
import time
import traceback
from dataclasses import dataclass

import procstat
from eventlog import DESC, ITER, PHASE, log_files, read_events, summarize
from workloads import WORKLOADS, Workload

HERE = os.path.dirname(os.path.abspath(__file__))
ROOT = os.path.dirname(HERE)

SETUP_ROUNDS = 3
DRIVER_MEM = "3g"
WARMUP_SHARE = 0.2  # share of the input the warm-up pass runs on
# The JIT keeps speeding up the first few full-size iterations, so a run
# that stopped after one would read slower than one that ran two: every run
# times at least two, whatever --seconds is.
MIN_ITERATIONS = 2

SPANS = [
    "functions.text.tokens_array",
    "sketch.agg.sketch_by_key",
    "sketch.queries.cms_pairwise",
    "sketch.agg.sketch_per_group_skewed",
    "sketch.queries.cms_topk_cosine",
    "operators.dedup.minhash_dedup_pairs",
    "operators.cooccurrence.llr_item_similarity",
    "operators.rowsim.row_similarity",
    "operators.recommender.user_cms_profiles",
    "operators.recommender.cms_user_similarity",
    "operators.recommender.recommend_cms",
]
SPAN_METRICS = {  # name: (unit, better)
    "wall_s": ("s", "lower"),
    "plan_s": ("s", "lower"),
    "plan_jobs": ("count", "lower"),
    "task_s": ("s", "lower"),
    "python_stages": ("count", "lower"),
    "shuffle_mb": ("MB", "lower"),
    "shuffle_records": ("count", "lower"),
    "rows_out": ("rows", "higher"),
    "slot_idle_frac": ("ratio", "lower"),
    "leaked_cached": ("count", "lower"),
}
KEPT_PER_SHUFFLED = ["operators.rowsim.row_similarity",
                     "operators.cooccurrence.llr_item_similarity",
                     "sketch.queries.cms_topk_cosine"]
TRACE_METRICS = {
    "trace.overhead_s": ("s", "lower"),
    "trace.unlabelled_task_frac": ("ratio", "lower"),
    "trace.gc_s": ("s", "lower"),
    "trace.spill_mb": ("MB", "lower"),
}
END_TO_END = {
    "setup_s": ("s", "lower"),
    "rows_per_s": ("rows/s", "higher"),
    "cpu_s": ("s", "lower"),
    "recall_at_k": ("ratio", "higher"),
    "pass_frac": ("ratio", "higher"),
}


def layer_metric_specs() -> dict:
    """{name: (unit, better)} of every metric ``--trace 1`` reports."""
    specs = {f"{s}.{m}": u for s in SPANS for m, u in SPAN_METRICS.items()}
    specs.update({f"{s}.kept_per_shuffled": ("ratio", "higher")
                  for s in KEPT_PER_SHUFFLED})
    specs.update(TRACE_METRICS)
    return specs


def n_cores() -> int:
    return len(os.sched_getaffinity(0))


# ---------------------------------------------------------------------------
# Spark session
# ---------------------------------------------------------------------------


def configure_env(work: str, trace: bool) -> None:
    """Environment for the driver JVM and its Python workers; must run before
    the first SparkSession starts the JVM."""
    for sub in ("tmp", "local"):
        os.makedirs(os.path.join(work, sub), exist_ok=True)
    tmp = os.path.join(work, "tmp")
    os.environ.update({
        "TMPDIR": tmp,
        "SPARK_LOCAL_DIRS": os.path.join(work, "local"),
        "SPARK_GRAFT_LOCAL_DIR": os.path.join(work, "local"),
        "SPARK_GRAFT_DRIVER_MEM": DRIVER_MEM,
        "SPARK_GRAFT_JVM_OPTS": f"-Djava.io.tmpdir={tmp} -XX:-UsePerfData",
        # workers import mahout_spark from the checkout, not an install
        "PYTHONPATH": os.pathsep.join(
            [ROOT] + [p for p in os.environ.get("PYTHONPATH", "").split(
                os.pathsep) if p]),
        "PYSPARK_PYTHON": sys.executable,
    })
    if trace:
        os.environ["SPARK_GRAFT_EVENTLOG_DIR"] = os.path.join(work, "events")
    else:
        os.environ.pop("SPARK_GRAFT_EVENTLOG_DIR", None)
    tempfile.tempdir = tmp


def start_spark(work: str):
    from mahout_spark.session import get_spark

    cores = n_cores()
    spark = get_spark(
        "perfbench", master=f"local[{cores}]", shuffle_partitions=cores,
        extra_conf={"spark.sql.warehouse.dir":
                    os.path.join(work, "warehouse"),
                    "spark.ui.showConsoleProgress": "false"})
    spark.sparkContext.setLogLevel("ERROR")
    return spark


def jvm_pid(spark) -> int:
    return spark.sparkContext._gateway.proc.pid


def stop_jvm(timeout: float = 60.0) -> None:
    """Ends the driver JVM, if one was started, and waits until it and the
    Python worker processes it forked have exited. ``spark.stop()`` leaves
    the JVM running; it would otherwise exit only after this process did."""
    from pyspark import SparkContext

    gateway = SparkContext._gateway
    if gateway is None:
        return
    proc = gateway.proc
    tree = procstat.tree(proc.pid)
    gateway.shutdown()
    proc.stdin.close()  # the JVM exits when its standard input closes
    try:
        proc.wait(timeout)
    except subprocess.TimeoutExpired:
        proc.kill()
        proc.wait()
    SparkContext._gateway = SparkContext._jvm = None
    deadline = time.monotonic() + timeout
    while (any(procstat.alive(pid) for pid in tree)
           and time.monotonic() < deadline):
        time.sleep(0.05)


def persistent_rdd_names(spark) -> list[str]:
    return [str(r.name()) for r in
            spark.sparkContext._jsc.getPersistentRDDs().values()]


def release_all(spark) -> None:
    """Drop every cached table and persisted RDD (local checkpoints too)."""
    spark.catalog.clearCache()
    for r in list(spark.sparkContext._jsc.getPersistentRDDs().values()):
        r.unpersist(True)


# ---------------------------------------------------------------------------
# spans
# ---------------------------------------------------------------------------

OWN = "perfbench_"  # name prefix of the tables the harness itself caches


def is_own_table(rdd_name: str) -> bool:
    """Whether a persisted RDD is a table the harness cached with ``pin``.

    ``cacheTable(view)`` names its RDD ``In-memory table <view>``; a plain
    ``Dataset.persist()`` names it after the physical plan, whose file scans
    list input paths that may contain anything, the harness prefix included.
    """
    return rdd_name.startswith(f"In-memory table {OWN}")


class Run:
    """Calls into the library for one iteration, under span labels.

    Fused mode chains the calls as a user would and collects only the
    outputs named ``collect`` (cached first, as a user would, when a later
    call reads them too). Traced mode also caches and counts every call's
    output before the next call reads it, and records per-span wall time,
    time inside the call, rows out and leaked cached tables.
    """

    def __init__(self, spark, traced: bool, iteration: str | None = None):
        self.spark, self.traced = spark, traced
        self.sc = spark.sparkContext
        self.outputs: dict = {}
        self.spans: dict = {}
        self._tables = 0
        self.sc.setLocalProperty(ITER, iteration)

    def _label(self, span, phase) -> None:
        self.sc.setLocalProperty(DESC, span)
        self.sc.setLocalProperty(PHASE, phase)

    def _cache(self, df):
        """Caches ``df`` (lazily) as a harness-owned table, which is never
        counted as a leak of the library, and returns the cached frame."""
        self._tables += 1
        view = f"{OWN}{self._tables}"
        df.createOrReplaceTempView(view)
        self.spark.catalog.cacheTable(view)
        return self.spark.table(view)

    def pin(self, df):
        """Caches a frame the harness builds between library calls. Traced
        runs also materialize it here, outside every span, so its work is
        not charged to the next library call that reads it."""
        df = self._cache(df)
        if self.traced:
            df.count()
        return df

    def _leaks(self) -> int:
        return sum(1 for n in persistent_rdd_names(self.spark)
                   if not is_own_table(n))

    def call(self, span: str, fn, collect: str | None = None):
        leaks0 = self._leaks() if self.traced else 0
        t0 = time.perf_counter()
        self._label(span, "plan")
        try:
            df = fn()
            t1 = time.perf_counter()
            self._label(span, "run")
            if self.traced or collect:
                # a collected output may also feed a later call
                df = self._cache(df)
            if self.traced:
                rows = df.count()
            if collect:
                self.outputs[collect] = df.toPandas()
        finally:
            self._label(None, None)
        if self.traced:
            # a call may also release tables that earlier calls left behind
            leaked = max(0, self._leaks() - leaks0)
            self.spans[span] = {"wall_s": time.perf_counter() - t0,
                                "plan_s": t1 - t0, "rows_out": rows,
                                "leaked_cached": leaked}
        return df

    def close(self) -> None:
        self.sc.setLocalProperty(ITER, None)


# ---------------------------------------------------------------------------
# the run
# ---------------------------------------------------------------------------


def setup_round(name: str, seed: int, work: str, spark):
    """One measured setup: (re)start the session, then generate, write and
    scan the inputs. Only the first round launches the JVM."""
    if spark is not None:
        spark.stop()
    spark = start_spark(work)
    wl = Workload(name, seed)
    paths = wl.write_inputs(os.path.join(work, "inputs"))
    warm = wl.write_inputs(os.path.join(work, "warmup"), WARMUP_SHARE)
    for path in paths.values():
        spark.read.parquet(path).count()
    return spark, wl, paths, warm


def warm_up(spark, wl, warm_paths) -> None:
    """The workload's pipeline once on a slice of its input, so the timed
    iterations start with compiled code and running Python workers. (A
    full-size warm-up iteration costs each run 3-6 s more and left the first
    timed iteration only a little less slow than the next.)"""
    run = Run(spark, traced=False)
    try:
        wl.pipeline(run, warm_paths)
    finally:
        run.close()
        release_all(spark)


@dataclass
class Iteration:
    tag: str         # event-log label of a traced iteration
    wall_s: float
    cpu_s: float
    outputs: dict    # collected final outputs, for the checks
    spans: dict      # traced iterations: per-span numbers the harness took


def iterate(spark, wl, paths, traced: bool, tag: str) -> Iteration:
    """One iteration of the workload's pipeline; raises if the pipeline
    does. Caches are dropped afterwards, outside the timed window."""
    pid = jvm_pid(spark)
    run = Run(spark, traced, iteration=tag if traced else None)
    cpu0, t0 = procstat.cpu_seconds(pid), time.perf_counter()
    try:
        wl.pipeline(run, paths)
        wall = time.perf_counter() - t0
        return Iteration(tag, wall, procstat.cpu_seconds(pid) - cpu0,
                         run.outputs, run.spans)
    finally:
        run.close()
        release_all(spark)


def closed_loop(spark, wl, paths, seconds: float, traced: bool,
                min_iterations: int):
    """Iterations back to back: at least ``min_iterations``, then more while
    another one, as long as the last, still ends within ``seconds``. Returns
    the successful iterations and the number that raised."""
    done, failed = [], 0
    t_start = time.perf_counter()
    while True:
        tag = f"t{len(done) + failed}"
        t0 = time.perf_counter()
        try:
            done.append(iterate(spark, wl, paths, traced, tag))
        except Exception:  # an iteration that raises is a counted failure
            traceback.print_exc()
            failed += 1
        now = time.perf_counter()
        if (len(done) + failed >= min_iterations
                and now + (now - t0) > t_start + seconds):
            return done, failed


def check_all(wl, iterations) -> tuple[list[float], int]:
    """Output checks of every iteration: (recalls, number that failed)."""
    recalls, failed = [], 0
    for it in iterations:
        try:
            recalls.append(wl.check(it.outputs))
        except Exception:  # a failed output check is a counted failure
            traceback.print_exc()
            failed += 1
    return recalls, failed


def span_metrics(iterations, summary: dict, cores: int, fused_wall: float):
    """Per-layer metrics: medians over the traced iterations."""
    per_iter = []
    for it in iterations:
        wall, spans = it.wall_s, it.spans
        ev = summary.get(it.tag, {"spans": {}, "task_ms": 0,
                                  "unlabelled_task_ms": 0})
        m = {}
        for s in SPANS:
            if s not in spans:
                continue
            own, tot = spans[s], ev["spans"].get(s, {})
            task_s = tot.get("task_ms", 0) / 1000.0
            shuffled = tot.get("shuffle_records", 0)
            m.update({
                f"{s}.wall_s": own["wall_s"], f"{s}.plan_s": own["plan_s"],
                f"{s}.plan_jobs": tot.get("plan_jobs", 0),
                f"{s}.task_s": task_s,
                f"{s}.python_stages": tot.get("python_stages", 0),
                f"{s}.shuffle_mb": tot.get("shuffle_bytes", 0) / 2 ** 20,
                f"{s}.shuffle_records": shuffled,
                f"{s}.rows_out": own["rows_out"],
                f"{s}.slot_idle_frac":
                    1.0 - task_s / (own["wall_s"] * cores),
                f"{s}.leaked_cached": own["leaked_cached"],
            })
            if s in KEPT_PER_SHUFFLED:
                m[f"{s}.kept_per_shuffled"] = (own["rows_out"] / shuffled
                                               if shuffled else 0.0)
        spans_ev = ev["spans"].values()
        m["trace.overhead_s"] = wall - fused_wall
        m["trace.unlabelled_task_frac"] = (
            ev["unlabelled_task_ms"] / ev["task_ms"] if ev["task_ms"] else 0.0)
        m["trace.gc_s"] = sum(t["gc_ms"] for t in spans_ev) / 1000.0
        m["trace.spill_mb"] = sum(t["spill_bytes"] for t in spans_ev) / 2**20
        per_iter.append(m)
    specs = layer_metric_specs()
    out = {}
    for name, (unit, _) in specs.items():
        vals = [m[name] for m in per_iter if name in m]
        out[name] = {"value": statistics.median(vals) if vals else 0,
                     "unit": unit}
    return out


def benchmark(name: str, seed: int, seconds: float, trace: bool,
              work: str) -> dict:
    spark, setups = None, []
    for _ in range(SETUP_ROUNDS):
        t0 = time.perf_counter()
        spark, wl, paths, warm = setup_round(name, seed, work, spark)
        setups.append(time.perf_counter() - t0)
    try:
        t0 = time.perf_counter()
        warm_up(spark, wl, warm)
        warm_s = time.perf_counter() - t0
        if trace:
            # one fused iteration, the baseline of trace.overhead_s
            fused, failed = closed_loop(spark, wl, paths, 0, False, 1)
            traced, failed_t = closed_loop(spark, wl, paths, seconds, True, 1)
            iterations, failed = fused + traced, failed + failed_t
        else:
            iterations, failed = closed_loop(spark, wl, paths, seconds, False,
                                             MIN_ITERATIONS)
        try:
            wl.prepare_reference(spark, paths)
            recalls, bad = check_all(wl, iterations)
        except Exception:  # no reference: no iteration counts as checked
            traceback.print_exc()
            recalls, bad = [], len(iterations)
        app_id = spark.sparkContext.applicationId
    finally:
        spark.stop()
    attempted = len(iterations) + failed
    failed += bad
    print(f"{name} seed={seed}: setup rounds "
          f"{', '.join(f'{t:.2f}' for t in setups)} s; warm-up "
          f"{warm_s:.2f} s; iterations "
          f"{', '.join(f'{it.wall_s:.2f}' for it in iterations)} s",
          file=sys.stderr)
    print(f"{name} seed={seed}: {attempted} iterations, {failed} failed, "
          f"fail_frac={failed / attempted:.3f} ratio", file=sys.stderr)
    result = {"correct": failed == 0, "attempted": attempted,
              "failed": failed}
    if trace:
        summary = summarize(read_events(log_files(
            os.environ["SPARK_GRAFT_EVENTLOG_DIR"], app_id)))
        fused_wall = statistics.median(it.wall_s for it in fused) \
            if fused else 0.0
        result["metrics"] = span_metrics(traced, summary, n_cores(),
                                         fused_wall)
        return result
    walls = [it.wall_s for it in iterations]
    values = {
        "setup_s": statistics.median(setups) + warm_s,
        "rows_per_s": statistics.median(wl.n_rows / w for w in walls)
        if walls else 0.0,
        "cpu_s": statistics.median(it.cpu_s for it in iterations)
        if iterations else 0.0,
        "recall_at_k": statistics.median(recalls) if recalls else 0.0,
        "pass_frac": 1.0 - failed / attempted,
    }
    for k, v in values.items():
        print(f"  {k} = {v:.6g} {END_TO_END[k][0]}", file=sys.stderr)
    result["metrics"] = {k: {"value": v, "unit": END_TO_END[k][0]}
                         for k, v in values.items()}
    return result


def main(argv=None) -> int:
    ap = argparse.ArgumentParser(description=__doc__.split("\n")[0])
    ap.add_argument("--workload", required=True)
    ap.add_argument("--seed", type=int, required=True)
    ap.add_argument("--seconds", type=float, required=True)
    ap.add_argument("--trace", type=int, choices=(0, 1), default=0)
    args = ap.parse_args(argv)
    if not os.path.isfile(os.path.join(ROOT, "mahout_spark", "__init__.py")):
        print(f"perfbench: no mahout_spark package under {ROOT}; run from "
              "a repository checkout", file=sys.stderr)
        return 2
    sys.path.insert(0, ROOT)
    if args.workload not in WORKLOADS:
        print(f"perfbench: unknown workload {args.workload!r}; one of "
              f"{', '.join(WORKLOADS)}", file=sys.stderr)
        return 2
    work = os.path.join(ROOT, ".perfbench_work",
                        f"{args.workload}-{args.seed}-{os.getpid()}")
    configure_env(work, bool(args.trace))
    try:
        result = benchmark(args.workload, args.seed, args.seconds,
                           bool(args.trace), work)
    finally:
        stop_jvm()
        shutil.rmtree(work, ignore_errors=True)
        try:  # the parent too, unless another run is using it
            os.rmdir(os.path.dirname(work))
        except OSError:
            pass
    print(json.dumps(result), flush=True)
    return 0


if __name__ == "__main__":
    sys.exit(main())
