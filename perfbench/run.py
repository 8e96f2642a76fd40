#!/usr/bin/env python3
"""Batch-engine benchmark: end-to-end metrics, or per-layer metrics when traced.

Run from the root of a checkout:

    python3 perfbench/run.py --workload iterative_sf01 --seed 1 --seconds 25 --trace 0

One run starts the engine's Spark session, runs the workload's unmeasured warm
passes, then measures as many whole passes over the workload as fill about ``--seconds`` (at
least one). Every pass checks every output against ``expected.json`` and reads
its own directory of symlinks to the fixture tables, so module caches keyed on
the fixture path start cold. The last line of standard output is one
JSON object: ``correct``, ``attempted``, ``failed`` and ``metrics``.

``--trace 1`` turns on Spark's event log (uncompressed, not rolling) and tags
every call with a job group; the log is reduced to per-module metrics after the
session stops. Fixture tables are read from ``$PERFBENCH_FIXTURES/<sf>``
(default ``~/testdata``). All working files go under ``.perfbench_work/`` in
the current directory and are removed at exit.
"""

from __future__ import annotations

import time

T_START = time.perf_counter()

import argparse  # noqa: E402
import hashlib  # noqa: E402
import json  # noqa: E402
import os  # noqa: E402
import shutil  # noqa: E402
import statistics  # noqa: E402
import subprocess  # noqa: E402
import sys  # noqa: E402
import threading  # noqa: E402
from dataclasses import dataclass, field  # noqa: E402

import eventlog  # noqa: E402
import proctree  # noqa: E402
from workloads import CACHE_BUILDER, CACHE_SIBLING, MODULE, MODULES, WORKLOADS  # noqa: E402

HERE = os.path.dirname(os.path.abspath(__file__))
ROOT = os.getcwd()

END_TO_END = {"setup_s": "s", "wall_s": "s"}
OP_METRICS = {
    "plan_s": "s",
    "exec_s": "s",
    "jobs": "count",
    "tasks": "count",
    "driver_gap_s": "s",
    "task_run_s": "s",
    "task_cpu_s": "s",
    "gc_s": "s",
    "shuffle_mb": "MB",
    "spill_mb": "MB",
}
PER_LAYER = {
    "session.start_s": "s",
    "registry.load_s": "s",
    "session.warm_pass_s": "s",
    "session.jvm_peak_rss_mb": "MB",
    "catalog.scan_s": "s",
    **{f"operators.{m}.{k}": u for m in MODULES for k, u in OP_METRICS.items()},
    "dfcache.cold_build_jobs": "count",
    "dfcache.sibling_jobs": "count",
    "pipeline.batch_latency_p50_s": "s",
    "pipeline.batch_latency_p75_s": "s",
    "pipeline.fetch_s": "s",
    "pipeline.dispatch_wait_ms_p50": "ms",
    "pipeline.process_s": "s",
    "pipeline.finalize_lag_ms_p50": "ms",
    "pipeline.mean_inflight": "count",
    "pipeline.driver_py_cpu_s": "s",
    "pipeline.serial_s": "s",
    "pipeline.speedup": "ratio",
    "trace.wall_s": "s",
    "trace.cpu_s": "s",
}


def describe(exc: BaseException) -> str:
    """Exception type and the first line of its message."""
    return f"{type(exc).__name__}: {(str(exc).splitlines() or [''])[0][:200]}"


def digest(rows) -> str:
    """Order-insensitive digest of collected rows."""
    h = hashlib.sha256()
    for d in sorted(hashlib.sha256(repr(tuple(r)).encode()).digest() for r in rows):
        h.update(d)
    return h.hexdigest()


@dataclass
class Op:
    """One key call (serial passes) or one batch (pipeline passes); epoch seconds."""

    key: str
    t0: float = 0.0  # call start / fetch start
    t_plan: float = 0.0  # fn() returned / fetch end
    t_exec0: float = 0.0  # processor start (pipeline only)
    t_exec1: float = 0.0  # processor end (pipeline only)
    t_end: float = 0.0  # result materialised / finalizer called
    groups: list[str] = field(default_factory=list)
    rows: int | None = None
    digest: str | None = None
    error: str | None = None


@dataclass
class Pass:
    ops: list[Op]
    wall_s: float
    cpu_s: float
    py_cpu_s: float = 0.0


class Bench:
    def __init__(self, spark, workload, seed: int, trace: bool, work: str, fixtures: str, workers: int):
        from go_batch_processor_spark.registry import REGISTRY

        self.registry = REGISTRY
        self.spark = spark
        self.sc = spark.sparkContext
        self.w = workload
        self.seed = seed
        self.trace = trace
        self.work = work
        self.fixtures = fixtures
        with open(os.path.join(HERE, "expected.json"), encoding="utf-8") as fh:
            self.expected = json.load(fh)[workload.sf]
        self.workers = workers
        self.attempted = 0
        self.failed = 0
        self.tables: set[str] = set()  # fixture tables the checked calls read

    def fixture_dir(self, label: str) -> str:
        """A fresh real directory of symlinks to the fixture tables."""
        src = os.path.join(self.fixtures, self.w.sf)
        d = os.path.join(self.work, "fx", label, self.w.sf)
        os.makedirs(d)
        for name in sorted(os.listdir(src)):
            os.symlink(os.path.join(src, name), os.path.join(d, name))
        return d

    def tag(self, op: Op, group: str) -> None:
        if self.trace:
            self.sc.setJobGroup(group, op.key)
            op.groups.append(group)

    def record(self, label: str, op: Op, reason: str | None) -> None:
        self.attempted += 1
        if reason is not None:
            self.failed += 1
            print(f"FAIL {label} {op.key}: {reason}", flush=True)

    def check(self, op: Op) -> str | None:
        """Mismatch against the stored expectation, or None when the output is right."""
        if op.error is not None:
            return op.error
        exp = self.expected[op.key]
        if op.rows != exp["rows"]:
            return f"{op.rows} rows, expected {exp['rows']}"
        if "digest" in exp and op.digest != exp["digest"]:
            return f"digest {op.digest[:12]} != expected {exp['digest'][:12]}"
        return None

    def serial_pass(self, order: list[str], label: str) -> Pass:
        """Keys one at a time, each collected and checked."""
        d = self.fixture_dir(label)
        ops = []
        cpu0 = proctree.tree_cpu_s()
        for key in order:
            op = Op(key)
            self.tag(op, f"{label}:{key}")
            op.t0 = time.time()
            try:
                df = self.registry[key].fn(self.spark, d)
                op.t_plan = time.time()
                if self.trace:
                    self.tables.update(
                        os.path.basename(f).removesuffix(".parquet") for f in df.inputFiles()
                    )
                rows = df.collect()
                op.rows, op.digest = len(rows), digest(rows)
            except Exception as exc:  # noqa: BLE001 — counted and reported, the pass goes on
                op.error = describe(exc)
            op.t_end = time.time()
            self.record(label, op, self.check(op))
            ops.append(op)
        cpu = proctree.tree_cpu_s() - cpu0
        self.spark.catalog.clearCache()
        return Pass(ops, ops[-1].t_end - ops[0].t0, cpu)

    def pipeline_pass(self, batches: list[str], label: str) -> Pass:
        """Every batch through one BatchPipeline, each checked like a serial call."""
        from go_batch_processor_spark.pipeline import (
            BatchPipeline,
            FnFinalizer,
            FnProcessor,
            FnSupplier,
        )

        d = self.fixture_dir(label)
        ops = [Op(k) for k in batches]
        pending = iter(enumerate(ops))
        lock = threading.Lock()
        in_flight: dict[int, Op] = {}
        current = threading.local()
        left = [len(ops)]
        all_done = threading.Event()

        def done(op: Op) -> None:
            op.t_end = time.time()
            with lock:
                left[0] -= 1
                if left[0] == 0:
                    all_done.set()

        def fetch():
            i, op = next(pending, (None, None))
            if op is None:
                return None
            self.tag(op, f"{label}:fetch:{i}")
            op.t0 = time.time()
            try:
                df = self.registry[op.key].fn(self.spark, d)
            except Exception as exc:
                op.error = "fetch " + describe(exc)
                done(op)
                raise
            op.t_plan = time.time()
            with lock:
                in_flight[id(df)] = op
            return df

        def process(df):
            with lock:
                op = in_flight.pop(id(df))
            current.op = op
            op.t_exec0 = time.time()
            if self.trace:
                op.groups.append(self.sc.getLocalProperty("spark.jobGroup.id"))
            try:
                rows = df.collect()
                op.rows, op.digest = len(rows), digest(rows)
            finally:
                op.t_exec1 = time.time()
            return df

        def finalize(_processed, error):
            op = current.op
            if error is not None:
                op.error = describe(error)
            done(op)

        pipe = BatchPipeline(self.workers, FnSupplier(fetch), FnProcessor(process))
        pipe.with_finalizer(FnFinalizer(finalize))
        cpu0, py0 = proctree.tree_cpu_s(), time.process_time()
        t_start = time.time()
        pipe.start()
        finished = all_done.wait(timeout=120)
        py_cpu = time.process_time() - py0
        cpu = proctree.tree_cpu_s() - cpu0
        if not finished:
            self.sc.cancelAllJobs()
        pipe.stop()
        self.spark.catalog.clearCache()
        for op in ops:
            if op.error is None and op.t_end == 0.0:
                op.error = "batch not finished within 120 s"
            self.record(label, op, self.check(op))
        return Pass(ops, max(op.t_end for op in ops) - t_start, cpu, py_cpu)

    def timed_pass(self, label: str) -> Pass:
        """One pass of the workload, in the order the seed and ``label`` give."""
        tag = f"{self.seed}:{label}"
        if self.w.pipeline:
            return self.pipeline_pass(self.w.batches(tag), label)
        return self.serial_pass(self.w.order(tag), label)

    def scan_pass(self, tables: list[str]) -> float:
        """Noop-materialise each fixture table the workload reads, cold."""
        from go_batch_processor_spark.catalog import load_table

        d = self.fixture_dir("scan")
        t0 = time.perf_counter()
        for name in tables:
            load_table(self.spark, d, name).write.format("noop").mode("overwrite").save()
        return time.perf_counter() - t0


def per_layer(bench: Bench, groups, passes: list[Pass], extra: dict[str, float]) -> dict[str, float]:
    """Per-layer metrics of the first measured pass; ``trace.*`` over all passes."""
    first = passes[0]
    out = {name: 0.0 for name in PER_LAYER}
    out.update(extra)
    ok = [op for op in first.ops if op.error is None]  # failed ops lack timestamps
    for op in ok:
        prefix = f"operators.{MODULE[op.key]}."
        totals = [groups[g] for g in op.groups if g in groups]
        spans = [s for t in totals for s in t.job_spans]
        if bench.w.pipeline:
            plan, exe = op.t_plan - op.t0, op.t_exec1 - op.t_exec0
        else:
            plan, exe = op.t_plan - op.t0, op.t_end - op.t_plan
        out[prefix + "plan_s"] += plan
        out[prefix + "exec_s"] += exe
        out[prefix + "driver_gap_s"] += (op.t_end - op.t0) - eventlog.busy_s(
            spans, op.t0, op.t_end
        )
        for k in ("jobs", "tasks", "task_run_s", "task_cpu_s", "gc_s", "shuffle_mb", "spill_mb"):
            out[prefix + k] += sum(getattr(t, k) for t in totals)
        if op.key == CACHE_BUILDER:
            out["dfcache.cold_build_jobs"] = sum(t.jobs for t in totals)
        elif op.key == CACHE_SIBLING:
            out["dfcache.sibling_jobs"] = sum(t.jobs for t in totals)
    if bench.w.pipeline:
        ops = ok
        q = statistics.quantiles([op.t_end - op.t0 for op in ops], n=4)
        out["pipeline.batch_latency_p50_s"], out["pipeline.batch_latency_p75_s"] = q[1], q[2]
        out["pipeline.fetch_s"] = sum(op.t_plan - op.t0 for op in ops)
        out["pipeline.dispatch_wait_ms_p50"] = 1e3 * statistics.median(
            op.t_exec0 - op.t_plan for op in ops
        )
        out["pipeline.process_s"] = sum(op.t_exec1 - op.t_exec0 for op in ops)
        out["pipeline.finalize_lag_ms_p50"] = 1e3 * statistics.median(
            op.t_end - op.t_exec1 for op in ops
        )
        out["pipeline.mean_inflight"] = sum(op.t_end - op.t0 for op in ops) / first.wall_s
        out["pipeline.driver_py_cpu_s"] = first.py_cpu_s
        out["pipeline.speedup"] = bench.w.copies * out["pipeline.serial_s"] / first.wall_s
    out["trace.wall_s"] = statistics.fmean(p.wall_s for p in passes)
    out["trace.cpu_s"] = statistics.median(p.cpu_s for p in passes)
    return out


def shutdown(spark) -> None:
    """Stop the session, then the py4j JVM and the Python workers under it."""
    from pyspark import SparkContext

    gateway = SparkContext._gateway
    children = [p for p in proctree.descendants() if p != os.getpid()]
    spark.stop()
    proc = getattr(gateway, "proc", None)
    if proc is not None:
        proc.stdin.close()  # the gateway JVM exits at end of its stdin
        try:
            proc.wait(timeout=60)
        except subprocess.TimeoutExpired:
            pass  # wait_gone kills what is left
    proctree.wait_gone(children, timeout_s=30)


def main() -> int:
    ap = argparse.ArgumentParser(description=__doc__.splitlines()[0])
    ap.add_argument("--workload", required=True, choices=sorted(WORKLOADS))
    ap.add_argument("--seed", type=int, required=True)
    ap.add_argument("--seconds", type=float, required=True)
    ap.add_argument("--trace", type=int, choices=(0, 1), default=0)
    args = ap.parse_args()
    w = WORKLOADS[args.workload]
    trace = bool(args.trace)

    fixtures = os.path.expanduser(os.environ.get("PERFBENCH_FIXTURES", "~/testdata"))
    if not os.path.isdir(os.path.join(fixtures, w.sf)):
        print(f"perfbench: no fixture directory {fixtures}/{w.sf}", file=sys.stderr)
        return 2
    work = os.path.join(ROOT, ".perfbench_work", f"{w.name}-{os.getpid()}")
    nproc = prepare(work)
    try:
        return run(args, w, trace, fixtures, work, nproc)
    finally:
        shutil.rmtree(work, ignore_errors=True)


def prepare(work: str) -> int:
    """Make the run's working directories and pin the engine to local[nproc]."""
    for sub in ("tmp", "local", "events", "fx"):
        os.makedirs(os.path.join(work, sub))
    nproc = len(os.sched_getaffinity(0))
    os.environ["SPARK_GRAFT_CPUS"] = str(nproc)
    os.environ["SPARK_LOCAL_DIRS"] = os.path.join(work, "local")
    os.environ["TMPDIR"] = os.path.join(work, "tmp")
    return nproc


def session_conf(work: str, trace: bool) -> dict[str, str]:
    """``get_spark(extra_conf=...)``: working files inside ``work``, event log when tracing."""
    conf = {
        "spark.ui.showConsoleProgress": "false",
        "spark.local.dir": os.path.join(work, "local"),
        "spark.sql.warehouse.dir": os.path.join(work, "warehouse"),
        "spark.driver.extraJavaOptions": (
            f"-Djava.io.tmpdir={os.path.join(work, 'tmp')} -XX:-UsePerfData"
        ),
    }
    if trace:
        conf.update(
            {
                "spark.eventLog.enabled": "true",
                "spark.eventLog.dir": "file://" + os.path.join(work, "events"),
                "spark.eventLog.compress": "false",
                "spark.eventLog.rolling.enabled": "false",
            }
        )
    return conf


def run(args, w, trace: bool, fixtures: str, work: str, nproc: int) -> int:
    sys.path.insert(0, ROOT)
    try:
        import pyspark

        from go_batch_processor_spark.registry import _ensure_loaded
        from go_batch_processor_spark.session import get_spark
    except ImportError as exc:
        print(f"perfbench: engine not importable from {ROOT}: {exc}", file=sys.stderr)
        return 2

    spark = get_spark(app_name=f"perfbench-{w.name}", extra_conf=session_conf(work, trace))
    try:
        t_spark = time.perf_counter()
        _ensure_loaded()
        t_loaded = time.perf_counter()
        bench = Bench(spark, w, args.seed, trace, work, fixtures, nproc)

        for i in range(w.warm):
            bench.timed_pass(f"warm{i}")  # checked like every pass, not measured
        t_warm = time.perf_counter()

        passes = [bench.timed_pass(f"m{i}") for i in range(w.passes(args.seconds))]

        extra: dict[str, float] = {}
        if trace:
            if w.pipeline:
                extra["pipeline.serial_s"] = bench.serial_pass(
                    w.order(f"{args.seed}:serial"), "serial"
                ).wall_s
            extra["catalog.scan_s"] = bench.scan_pass(sorted(bench.tables))
            extra["session.jvm_peak_rss_mb"] = proctree.peak_rss_mb("java")
        extra["session.start_s"] = t_spark - T_START
        extra["registry.load_s"] = t_loaded - t_spark
        extra["session.warm_pass_s"] = t_warm - t_loaded
        info = {
            "workload": w.name,
            "seed": args.seed,
            "nproc": nproc,
            "spark": pyspark.__version__,
            "passes": len(passes),
            "wall_s": [p.wall_s for p in passes],
            "cpu_s": [p.cpu_s for p in passes],
        }
    finally:
        shutdown(spark)

    if trace:
        (log,) = os.listdir(os.path.join(work, "events"))
        groups = eventlog.read_groups(os.path.join(work, "events", log))
        metrics = per_layer(bench, groups, passes, extra)
        units = PER_LAYER
    else:
        metrics = {
            "setup_s": t_warm - T_START,
            # The mean, not the median: passes still speed up from one to the
            # next, and the mean weighs the whole measured window.
            "wall_s": statistics.fmean(p.wall_s for p in passes),
        }
        units = END_TO_END
    print(json.dumps({"run": info}), flush=True)
    print(
        json.dumps(
            {
                "correct": bench.failed == 0,
                "attempted": bench.attempted,
                "failed": bench.failed,
                "metrics": {k: {"value": metrics[k], "unit": u} for k, u in units.items()},
            }
        ),
        flush=True,
    )
    return 0


if __name__ == "__main__":
    sys.exit(main())
