"""Run one benchmark workload and print its metrics.

    python3 perfbench/run.py --workload olap_nested --seed 1 --seconds 12 --trace 0

Run from the root of a checkout. The run:

1. prepares its inputs (``datagen.py``; excluded from every metric):
   links to the repo's fixed sf0.01 test tables and a ``documents`` corpus
   drawn from ``--seed``, under ``.perfbench_work/`` in the checkout,
   where all scratch files of the run live and are removed at exit;
2. sets up: starts the session with the engine's own bootstrap
   (``oamap_spark.session.get_spark``) on ``local[<cores>]``, then runs
   one warm-up pass over the workload's queries in declared order. The
   warm-up checks every result against the registry's DuckDB oracle
   with ``plans.verify.compare_query`` and records its row count; it
   also stages the steady-state indexes. Then two untimed passes, run
   like the timed ones, settle the JVM's compiled code. Oracle time is not
   set-up time;
3. measures for ``--seconds``: full passes over the workload's queries,
   each in an order drawn from the seed, every query executed through
   the ``noop`` sink with its output rows counted and compared with the
   verified count. At least three passes run;
4. prints summary lines (starting with ``#``), then one JSON line with
   ``correct``, ``attempted``, ``failed`` and the metrics. ``--trace 0``
   reports the end-to-end metrics of ``BENCHMARK.json``; ``--trace 1``
   reports the per-layer metrics and writes every span to
   ``.perfbench_work/traces/<workload>-seed<seed>.json``.
"""

from __future__ import annotations

import argparse
import itertools
import json
import math
import os
import random
import shlex
import shutil
import statistics
import subprocess
import sys
import tempfile
import threading
import time
from pathlib import Path

from pyspark import SparkContext
from pyspark.sql import Observation
from pyspark.sql import functions as F

import datagen
from probes import (
    BatchListener, RssSampler, StatusReader, Wrapped, busy_seconds, cpu_ticks, descendants,
    dir_bytes, steal_share,
)
from spans import Tracer, outermost, self_times, union_length, within
from workloads import WORKLOADS

HERE = Path(__file__).resolve().parent
ROOT = HERE.parent
WORK = ROOT / ".perfbench_work"

N_DOCS = 500  # documents corpus
DUP_SHARE = 0.05  # near-duplicate documents
MIN_PASSES = 3  # timed passes at least; pass_s is their median
# Untimed passes after the warm-up, run like the timed ones, so that the
# timed action's code is generated and compiled in set-up. On 4 vCPUs
# without them the first timed pass ran 20-60% slower than the third, and
# after one the first timed pass still used the most CPU of the three.
SETTLE_PASSES = 2
QUERY_TIMEOUT_S = 90.0

# Self time is reported for these span layers.
LAYERS = (
    "pass", "query", "queries.build", "plans.plan", "exec.action",
    "compiler", "clustering", "exec.job", "stream.batch",
)
# SQL-store metrics, summed per pass (see probes._metric_key).
SQL_METRICS = (
    "plans.codegen_stages", "sources.scan_ms", "sources.metadata_ms", "udf.python_run_ms",
    "udf.python_init_ms", "udf.bytes_to_python", "udf.bytes_from_python",
    "cache.inmem_scan_rows", "io.bytes_written", "io.files_written",
)
# Metrics of an untraced run (--trace 0), with their units.
END_TO_END_UNITS = {
    "setup_s": "s", "pass_s": "s", "query_gmean_s": "s",
}
# Per-layer metrics of a traced run, reported as the median over traced
# passes, with their units.
PER_PASS_UNITS = {
    "sources.scan_ms": "ms", "sources.bytes_read": "bytes",
    "sources.rows_read": "count", "sources.metadata_ms": "ms",
    "compiler.compile_ms": "ms",
    "queries.build_s": "s", "queries.build_jobs": "count",
    "plans.plan_ms": "ms", "plans.exchanges": "count",
    "plans.broadcasts": "count", "plans.codegen_stages": "count",
    "exec.jobs": "count", "exec.stages": "count", "exec.tasks": "count",
    "exec.task_run_ms": "ms", "exec.task_cpu_ms": "ms",
    "exec.cpu_per_run": "ratio", "exec.gc_ms": "ms",
    "exec.shuffle_read_bytes": "bytes", "exec.shuffle_write_bytes": "bytes",
    "exec.spill_bytes": "bytes", "exec.driver_gap_s": "s",
    "udf.python_run_ms": "ms", "udf.python_init_ms": "ms",
    "udf.bytes_to_python": "bytes", "udf.bytes_from_python": "bytes",
    "clustering.calls": "count", "clustering.call_s": "s",
    "clustering.jobs_per_call": "count",
    "cache.tracked_live": "count", "cache.storage_mb": "MiB",
    "cache.inmem_scan_rows": "count",
    "io.bytes_written": "bytes", "io.files_written": "count",
    "io.staged_bytes": "bytes",
    "stream.batches": "count", "stream.add_batch_ms": "ms",
    "stream.input_rows": "count", "stream.jobs_per_batch": "count",
    "stream.batch_p50_s": "s", "stream.batch_p90_s": "s",
    **{f"self.{layer}_s": "s" for layer in LAYERS},
}
# Every metric of a traced run (--trace 1).
PER_LAYER_UNITS = {
    "session.start_s": "s", "session.warmup_s": "s", "trace.overhead_s": "s",
    "peak_rss_mb": "MiB",
    **PER_PASS_UNITS,
}
# Wrapped public functions: (module, name, layer).
WRAPPED = (
    ("oamap_spark.compiler", "compile_row_fn", "compiler"),
    ("oamap_spark.compiler", "as_column", "compiler"),
    ("oamap_spark.operators.clustering", "connected_components_min_id", "clustering"),
    ("oamap_spark.operators.clustering", "incremental_components_min_id", "clustering"),
    ("oamap_spark.operators.clustering", "apply_components_update", "clustering"),
)


def parse_args(argv):
    ap = argparse.ArgumentParser(description=__doc__.split("\n")[0])
    ap.add_argument("--workload", required=True, choices=sorted(WORKLOADS))
    ap.add_argument("--seed", type=int, required=True)
    ap.add_argument("--seconds", type=float, required=True)
    ap.add_argument("--trace", type=int, choices=(0, 1), default=0)
    return ap.parse_args(argv)


def sandbox(run_dir: Path) -> None:
    """Point every scratch location of Python, the JVM and Spark into
    ``run_dir`` and make the engine importable by Python workers."""
    tmp, local = run_dir / "tmp", run_dir / "local"
    for d in (tmp, local):
        d.mkdir(parents=True)
    os.environ["TMPDIR"] = str(tmp)
    tempfile.tempdir = str(tmp)
    os.environ["SPARK_LOCAL_DIRS"] = str(local)
    os.environ["PYTHONPATH"] = os.pathsep.join(
        p for p in (str(ROOT), os.environ.get("PYTHONPATH")) if p
    )
    os.environ["PYSPARK_PYTHON"] = sys.executable
    # Every JVM started below (the launcher and the driver) picks these up.
    os.environ["JAVA_TOOL_OPTIONS"] = (
        f"-Djava.io.tmpdir={tmp} -Dderby.system.home={run_dir} -XX:-UsePerfData"
    )
    os.environ["PYSPARK_SUBMIT_ARGS"] = shlex.join(
        ["--conf", f"spark.sql.warehouse.dir={run_dir / 'warehouse'}", "pyspark-shell"]
    )


def keep_stream_dir_in(run_dir: Path) -> None:
    """The events file-stream source links its input from a directory
    under ``/tmp`` (``streaming.pipelines._stream_dir``). Put the same
    link directory inside the run directory instead, so that a run
    writes nothing outside its checkout. Only the link's directory
    changes; the stream is read and processed by the engine's code. The
    run directory is new in every run, so the link is never stale."""
    from oamap_spark.streaming import pipelines

    def stream_dir(sf_dir: str) -> str:
        d = run_dir / "stream" / "events"
        link = d / "events.parquet"
        if not link.is_symlink():
            d.mkdir(parents=True, exist_ok=True)
            link.symlink_to(Path(sf_dir) / "events.parquet")
        return str(d)

    pipelines._stream_dir = stream_dir


def quantile(values: list[float], q: float) -> float:
    """The ``q`` quantile with linear interpolation (q in [0, 1])."""
    xs = sorted(values)
    pos = q * (len(xs) - 1)
    lo = int(pos)
    hi = min(lo + 1, len(xs) - 1)
    return xs[lo] + (xs[hi] - xs[lo]) * (pos - lo)


class Runner:
    """One session running one workload's queries."""

    def __init__(self, spark, workload, sf_dir: str, tracer) -> None:
        from oamap_spark import cache
        from oamap_spark.queries import registry

        self.spark = spark
        self.workload = workload
        self.sf_dir = sf_dir
        self.tracer = tracer
        self.cache = cache
        self.specs = {n: registry.all_specs()[n] for n in workload.queries}
        self.expected: dict[str, int | None] = {}
        self.warmup_walls: dict[str, float] = {}
        self.observations = itertools.count()
        self.attempted = 0
        self.failed = 0
        self.failures: list[str] = []
        self.plan_counts: dict[str, float] = {}

    def _fail(self, what: str) -> None:
        self.failed += 1
        self.failures.append(what)

    def _timeout(self):
        t = threading.Timer(QUERY_TIMEOUT_S, self.spark.sparkContext.cancelAllJobs)
        t.daemon = True
        t.start()
        return t

    def warmup(self) -> float:
        """One pass in declared order that checks every result against
        its oracle and keeps its row count. Returns its wall time minus
        the oracle's."""
        from oamap_spark.plans import verify

        run_oracle = verify.run_oracle
        oracle = {"s": 0.0, "rows": 0}

        def timed_oracle(sf_dir, sql):
            t = time.perf_counter()
            cols, rows = run_oracle(sf_dir, sql)
            oracle["s"] += time.perf_counter() - t
            oracle["rows"] = len(rows)
            return cols, rows

        verify.run_oracle = timed_oracle
        t0 = time.perf_counter()
        try:
            for name, spec in self.specs.items():
                self.attempted += 1
                q0, oracle_s = time.perf_counter(), oracle["s"]
                timer = self._timeout()
                try:
                    df = spec.fn(self.spark, self.sf_dir)
                    errs = verify.compare_query(
                        self.spark, self.sf_dir, lambda *_: df, spec.oracle
                    )
                except Exception as e:  # a failing query is counted, not fatal
                    errs = [f"{type(e).__name__}: {e}"]
                finally:
                    timer.cancel()
                if errs:
                    self.expected[name] = None
                    self._fail(f"warm-up {name}: {errs[0][:300]}")
                else:
                    self.expected[name] = oracle["rows"]
                self.between_queries()
                self.warmup_walls[name] = time.perf_counter() - q0 - (oracle["s"] - oracle_s)
        finally:
            verify.run_oracle = run_oracle
        return time.perf_counter() - t0 - oracle["s"]

    def between_queries(self) -> None:
        if not self.workload.keep_state:
            self.cache.sweep()
            self.spark.catalog.clearCache()

    def action(self, df) -> int:
        """Evaluate ``df`` in full through the noop sink; returns its
        output rows, counted on the way."""
        obs = Observation(f"rows_{next(self.observations)}")
        (
            df.observe(obs, F.count(F.lit(1)).alias("rows"))
            .write.format("noop")
            .mode("overwrite")
            .save()
        )
        return obs.get["rows"]

    def execute(self, name: str) -> float:
        """Build and run one query through the noop sink; returns its
        wall time. Failures and wrong row counts are counted."""
        from oamap_spark.plans import audit

        spec = self.specs[name]
        tr = self.tracer
        self.attempted += 1
        timer = self._timeout()
        t0 = time.perf_counter()
        try:
            with tr.span("query", query=name):
                with tr.span("queries.build"):
                    df = spec.fn(self.spark, self.sf_dir)
                if tr.enabled:
                    with tr.span("plans.plan"):
                        counts = {
                            "plans.exchanges": audit.shuffle_count(df),
                            "plans.broadcasts": audit.broadcast_join_count(df),
                        }
                    for k, v in counts.items():
                        self.plan_counts[k] = self.plan_counts.get(k, 0) + v
                with tr.span("exec.action"):
                    rows = self.action(df)
            if rows != self.expected.get(name):
                self._fail(f"{name}: {rows} rows, verified {self.expected.get(name)}")
        except Exception as e:  # a failing query is counted, not fatal
            self._fail(f"{name}: {type(e).__name__}: {str(e)[:300]}")
        finally:
            timer.cancel()
        return time.perf_counter() - t0


def layer_metrics(tracer, jobs, sql, batches, p0, p1) -> dict[str, float]:
    """Per-layer figures of one traced pass from its spans, the Spark
    jobs and SQL metrics read back after it, and its micro-batches."""
    batch_spans = [tracer.attach("stream.batch", b["start"], b["end"]) for b in batches]
    jobs = [j for j in jobs if p0 <= j["start"] <= p1]
    job_spans = [tracer.attach("exec.job", j["start"], j["end"]) for j in jobs]
    spans = tracer.spans

    def total(key):
        return float(sum(j.get(key, 0.0) for j in jobs))

    def seconds(name):
        return sum(s.duration for s in outermost(spans, name))

    m = {
        "exec.jobs": float(len(jobs)),
        "exec.driver_gap_s": (p1 - p0)
        - union_length([(max(s.start, p0), min(s.end, p1)) for s in job_spans]),
        "sources.bytes_read": total("bytes_read"),
        "sources.rows_read": total("rows_read"),
        "queries.build_s": seconds("queries.build"),
        "queries.build_jobs": float(
            len(within(job_spans, outermost(spans, "queries.build")))
        ),
        "plans.plan_ms": seconds("plans.plan") * 1e3,
        "compiler.compile_ms": seconds("compiler") * 1e3,
    }
    for key in ("stages", "tasks", "task_run_ms", "task_cpu_ms", "gc_ms",
                "shuffle_read_bytes", "shuffle_write_bytes", "spill_bytes"):
        m[f"exec.{key}"] = total(key)
    run_ms = m["exec.task_run_ms"]
    m["exec.cpu_per_run"] = m["exec.task_cpu_ms"] / run_ms if run_ms else 0.0
    for key in SQL_METRICS:
        m[key] = sql.get(key, 0.0)
    calls = outermost(spans, "clustering")
    m["clustering.calls"] = float(len(calls))
    m["clustering.call_s"] = seconds("clustering")
    m["clustering.jobs_per_call"] = (
        len(within(job_spans, calls)) / len(calls) if calls else 0.0
    )
    walls = [b["end"] - b["start"] for b in batches]
    m["stream.batches"] = float(len(batches))
    m["stream.add_batch_ms"] = float(sum(b["add_batch_ms"] for b in batches))
    m["stream.input_rows"] = float(sum(b["input_rows"] for b in batches))
    m["stream.jobs_per_batch"] = (
        len(within(job_spans, batch_spans)) / len(batches) if batches else 0.0
    )
    m["stream.batch_p50_s"] = quantile(walls, 0.5) if walls else 0.0
    m["stream.batch_p90_s"] = quantile(walls, 0.9) if walls else 0.0
    st = self_times(spans)
    for layer in LAYERS:
        m[f"self.{layer}_s"] = st.get(layer, 0.0)
    return m


def stop_spark(spark) -> None:
    """Stop the session, then the JVM and every process below it, and
    wait until they have ended."""
    spark.stop()
    gw = SparkContext._gateway
    if gw is not None:
        proc = getattr(gw, "proc", None)
        gw.shutdown()
        if proc is not None:
            proc.stdin.close()
            try:
                proc.wait(timeout=30)
            except subprocess.TimeoutExpired:
                proc.kill()
                proc.wait(timeout=30)
    deadline = time.time() + 30
    while descendants(os.getpid()) and time.time() < deadline:
        time.sleep(0.1)


def run(args, run_dir: Path) -> tuple[dict, list[str]]:
    workload = WORKLOADS[args.workload]
    sandbox(run_dir)
    keep_stream_dir_in(run_dir)
    sf_dir = str(run_dir / "data")
    datagen.prepare(sf_dir, datagen.fixed_data_dir(ROOT), args.seed, N_DOCS, DUP_SHARE)

    from oamap_spark.session import get_spark

    n_cores = len(os.sched_getaffinity(0))
    t0 = time.perf_counter()
    spark = get_spark("perfbench", n_cores)
    start_s = time.perf_counter() - t0
    tracer = Tracer(False)
    runner = Runner(spark, workload, sf_dir, tracer)
    passes: list[dict] = []
    latencies: dict[str, list[float]] = {name: [] for name in workload.queries}
    try:
        warmup_s = runner.warmup()
        rng = random.Random(args.seed)
        t0 = time.perf_counter()
        for _ in range(SETTLE_PASSES):
            for name in rng.sample(workload.queries, len(workload.queries)):
                runner.execute(name)
                runner.between_queries()
        warmup_s += time.perf_counter() - t0
        if args.trace:
            reader = StatusReader(spark)
            listener = BatchListener()
            spark.streams.addListener(listener)
            # Mark the set-up's jobs and executions as read.
            reader.new_jobs()
            reader.new_sql_metrics()
        rss = RssSampler().start()
        ticks = cpu_ticks()
        deadline = time.perf_counter() + args.seconds
        # With tracing, passes alternate untraced / traced, starting and
        # ending untraced so a warming trend does not bias the overhead.
        while (
            len(passes) < MIN_PASSES
            or time.perf_counter() < deadline
            or (args.trace and len(passes) % 2 == 0)
        ):
            traced = bool(args.trace) and len(passes) % 2 == 1
            order = rng.sample(workload.queries, len(workload.queries))
            tracer.enabled, tracer.spans = traced, []
            runner.plan_counts = {}
            rec: dict = {"traced": traced, "order": order}
            wraps = [Wrapped(tracer, *w) for w in WRAPPED] if traced else []
            try:
                c0 = cpu_ticks()
                p0 = time.time()
                with tracer.span("pass"):
                    for name in order:
                        tracer.qid = f"p{len(passes)}:{name}"
                        latencies[name].append(runner.execute(name))
                        if traced:
                            live = spark.sparkContext._jsc.getPersistentRDDs().size()
                            rec["cache.tracked_live"] = max(
                                rec.get("cache.tracked_live", 0.0), float(live)
                            )
                            rec["cache.storage_mb"] = max(
                                rec.get("cache.storage_mb", 0.0), reader.cached_mb()
                            )
                        runner.between_queries()
                        tracer.qid = ""
                p1 = time.time()
                c1 = cpu_ticks()
            finally:
                for w in wraps:
                    w.restore()
            rec["pass_s"] = p1 - p0
            rec["cpu_s"] = busy_seconds(c0, c1)
            if args.trace:
                jobs, sql = reader.new_jobs(), reader.new_sql_metrics()
                batches = listener.take()
                if traced:
                    rec.update(layer_metrics(tracer, jobs, sql, batches, p0, p1))
                    rec.update(runner.plan_counts)
                    rec["io.staged_bytes"] = float(dir_bytes(os.environ["TMPDIR"]))
                    rec["spans"] = [vars(s) for s in tracer.spans]
            passes.append(rec)
        peak_rss = rss.stop()
        steal = steal_share(ticks, cpu_ticks())
    finally:
        stop_spark(spark)

    lines = [
        f"# workload={args.workload} seed={args.seed} cores={n_cores} "
        f"loadavg={os.getloadavg()[0]:.2f} steal={steal:.3f} "
        f"pass_walls={[round(p['pass_s'], 2) for p in passes]} "
        f"pass_cpu={[round(p['cpu_s'], 2) for p in passes]} "
        f"query_samples={sum(map(len, latencies.values()))} "
        f"error_rate={runner.failed / runner.attempted:.4f} "
        f"({runner.failed}/{runner.attempted})"
    ] + [
        "# warm-up (s): " + " ".join(
            f"{name}={t:.3f}" for name, t in runner.warmup_walls.items()
        ),
        "# query medians (s): " + " ".join(
            f"{name}={statistics.median(ts):.3f}" for name, ts in latencies.items()
        ),
        "# query walls (s): " + " ".join(
            f"{name}={[round(t, 3) for t in ts]}" for name, ts in latencies.items()
        ),
    ] + [f"# failure: {f}" for f in runner.failures]
    untraced = [p["pass_s"] for p in passes if not p["traced"]]
    if args.trace:
        traced = [p for p in passes if p["traced"]]
        values = {
            "session.start_s": start_s,
            "session.warmup_s": warmup_s,
            "peak_rss_mb": peak_rss,
            "trace.overhead_s": statistics.median(p["pass_s"] for p in traced)
            - statistics.median(untraced),
        }
        for key in PER_PASS_UNITS:
            values[key] = statistics.median(p.get(key, 0.0) for p in traced)
        units = PER_LAYER_UNITS
        out = WORK / "traces" / f"{args.workload}-seed{args.seed}.json"
        out.parent.mkdir(parents=True, exist_ok=True)
        out.write_text(json.dumps({
            "workload": args.workload, "seed": args.seed, "cores": n_cores,
            "loadavg": os.getloadavg(), "failures": runner.failures,
            "passes": passes,
        }))
        lines.append(f"# trace written to {out.relative_to(ROOT)}")
    else:
        values = {
            "setup_s": start_s + warmup_s,
            "pass_s": statistics.median(untraced),
            "query_gmean_s": math.exp(statistics.fmean(
                math.log(statistics.median(ts)) for ts in latencies.values()
            )),
        }
        units = END_TO_END_UNITS
    result = {
        "correct": runner.failed == 0,
        "attempted": runner.attempted,
        "failed": runner.failed,
        "metrics": {k: {"value": values[k], "unit": u} for k, u in units.items()},
    }
    return result, lines


def main(argv=None) -> int:
    args = parse_args(argv)
    sys.path.insert(0, str(ROOT))
    try:
        import oamap_spark.queries.registry  # noqa: F401
    except ImportError as e:
        print(f"perfbench: the engine is not importable from {ROOT}: {e}", file=sys.stderr)
        return 2
    run_dir = WORK / f"{args.workload}-seed{args.seed}-{os.getpid()}"
    try:
        result, lines = run(args, run_dir)
    finally:
        shutil.rmtree(run_dir, ignore_errors=True)
    for line in lines:
        print(line)
    print(json.dumps(result))
    return 0


if __name__ == "__main__":
    sys.exit(main())
