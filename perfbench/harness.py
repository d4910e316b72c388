"""Shared benchmark machinery: the session lifecycle, set-up rounds,
the closed loop, and the metric definitions every workload reports."""

from __future__ import annotations

import contextlib
import json
import os
import shutil
import statistics
import subprocess
import sys
import tempfile
import time
import traceback
from dataclasses import dataclass, field
from typing import Callable, Optional

HERE = os.path.dirname(os.path.abspath(__file__))
ROOT = os.path.dirname(HERE)

MIN_OPS = 3
SETUP_ROUNDS = 3


def metric_units() -> tuple[dict[str, str], dict[str, str]]:
    """The end-to-end and per-layer metrics a run prints, with their
    units, as ``BENCHMARK.json`` at the checkout root declares them.  A
    per-layer metric a workload does not exercise reads 0."""
    with open(os.path.join(ROOT, "BENCHMARK.json")) as f:
        spec = json.load(f)
    return ({m["name"]: m["unit"] for m in spec["end_to_end"]},
            {m["name"]: m["unit"] for m in spec["per_layer"]})


@dataclass
class Op:
    """One closed-loop operation: its timed interval and what it did."""

    index: int
    start: float = 0.0
    end: float = 0.0
    rows: int = 0
    ok: bool = True
    traced: bool = False
    span: object = None
    extra: dict = field(default_factory=dict)

    @property
    def seconds(self) -> float:
        return self.end - self.start


def median(xs, default=0.0):
    xs = list(xs)
    return statistics.median(xs) if xs else default


def tail(xs) -> Optional[tuple[float, int]]:
    """The highest percentile with at least ten samples beyond it, as
    ``(value, percentile)``; None below eleven samples."""
    xs = sorted(xs)
    n = len(xs)
    if n < 11:
        return None
    k = n - 11  # index with exactly ten samples above it
    return xs[k], int(100 * (k + 1) / n)


def slope(ys) -> float:
    """Least-squares slope of ``ys`` over their index."""
    n = len(ys)
    if n < 2:
        return 0.0
    mx = (n - 1) / 2
    my = sum(ys) / n
    num = sum((i - mx) * (y - my) for i, y in enumerate(ys))
    return num / sum((i - mx) ** 2 for i in range(n))


def _vm_hwm_kb(pid) -> int:
    with open(f"/proc/{pid}/status") as f:
        for line in f:
            if line.startswith("VmHWM:"):
                return int(line.split()[1])
    return 0


class Bench:
    """Session lifecycle, set-up rounds, the closed loop and the
    metrics shared by every workload."""

    def __init__(self, args) -> None:
        self.seconds = float(args.seconds)
        self.trace = bool(args.trace)
        self.cores = len(os.sched_getaffinity(0))
        self.work = os.path.join(HERE, "_work", f"{args.workload}-{os.getpid()}")
        self.spark = None
        self.tracer = None
        self.layers: dict[str, float] = {}
        self.session_starts: list[float] = []

    # ---- session ----

    def start_session(self, cpus: int):
        from flink_cdc_2_3_0_src_spark.session import get_spark
        from spans import Tracer

        os.environ["SPARK_GRAFT_CPUS"] = str(cpus)
        t0 = time.perf_counter()
        # A fixed-size heap (-Xms = -Xmx) makes the driver's footprint a
        # property of the workload rather than of when G1 chose to grow.
        self.spark = get_spark("perfbench", conf={
            "spark.driver.memory": "2g",
            "spark.local.dir": os.path.join(self.work, "spark-local"),
            "spark.driver.extraJavaOptions":
                f'-Xms2g -XX:-UsePerfData "-Djava.io.tmpdir={self.work}/tmp"',
            "spark.ui.showConsoleProgress": "false",
        })
        self.session_starts.append(time.perf_counter() - t0)
        sc = self.spark.sparkContext
        sc.setLogLevel("ERROR")
        sc.setCheckpointDir(os.path.join(self.work, "checkpoints"))
        if self.tracer is None:
            self.tracer = Tracer(sc)
        self.tracer.sc = sc
        return self.spark

    def stop_session(self) -> None:
        if self.spark is not None:
            self.spark.stop()
            self.spark = None

    def shutdown(self) -> None:
        """Stop Spark and the JVM it launched, and wait for it to exit."""
        from pyspark import SparkContext

        self.stop_session()
        gw = SparkContext._gateway
        if gw is None:
            return
        proc = getattr(gw, "proc", None)
        gw.shutdown()
        SparkContext._gateway = None
        SparkContext._jvm = None
        if proc is not None:
            proc.stdin.close()
            try:
                proc.wait(timeout=60)
            except subprocess.TimeoutExpired:
                proc.kill()
                proc.wait()

    def peak_rss_mb(self) -> float:
        from pyspark import SparkContext

        kb = _vm_hwm_kb("self")
        gw = SparkContext._gateway
        if gw is not None and getattr(gw, "proc", None) is not None:
            kb += _vm_hwm_kb(gw.proc.pid)
        return kb / 1024

    def old_gen_peak_mb(self) -> float:
        """Peak occupancy of the JVM's old generation: the heap the run
        retained, which the fixed-size heap hides from the RSS."""
        jvm = self.spark.sparkContext._jvm
        for pool in jvm.java.lang.management.ManagementFactory.getMemoryPoolMXBeans():
            if "Old Gen" in pool.getName():
                return pool.getPeakUsage().getUsed() / 2**20
        return 0.0

    def warm_up(self) -> None:
        """A small aggregation so the first workload call does not pay
        for loading the query engine's classes."""
        self.spark.range(200_000).selectExpr("id % 13 AS k").groupBy("k").count().collect()

    # ---- the loop ----

    def keep_going(self, ops: list[Op], t0: float) -> bool:
        """Start another op while fewer than MIN_OPS ran, or while the
        median op is predicted to end within the measuring window."""
        if len(ops) < MIN_OPS:
            return True
        elapsed = time.perf_counter() - t0
        return elapsed + median(o.seconds for o in ops) <= self.seconds

    def closed_loop(self, op_fn: Callable[[Op], None]) -> list[Op]:
        """Run ``op_fn`` back to back until the window is spent.  In a
        traced run every second op is traced; the others give the
        untraced baseline for the tracing overhead."""
        ops: list[Op] = []
        t0 = time.perf_counter()
        while self.keep_going(ops, t0):
            op = Op(len(ops), traced=self.trace and len(ops) % 2 == 1)
            self.run_op(op, op_fn)
            ops.append(op)
            if not op.ok and op.extra.get("error"):
                break
        return ops

    def run_op(self, op: Op, op_fn: Callable[[Op], None]) -> None:
        """Run one op under its own span (when traced), recording an
        exception as a failed op."""
        self.tracer.active = op.traced
        try:
            with self.tracer.span("op", op_id=op.index) as sp:
                op_fn(op)
            op.span = sp
        except Exception:
            op.ok = False
            op.extra["error"] = traceback.format_exc()
            print(op.extra["error"], file=sys.stderr)
            if not op.end:
                op.end = time.perf_counter()
        finally:
            self.tracer.active = False

    # ---- metrics ----

    def spark_layers(self, ops: list[Op]) -> None:
        """Per-op Spark totals over the traced ops (medians)."""
        traced = [o for o in ops if o.traced and o.span is not None]
        works = [(o, self.tracer.total_work(o.span)) for o in traced]
        if not works:
            return
        cores = self.cores
        self.layers.update({
            "spark.jobs": median(w.jobs for _, w in works),
            "spark.stages": median(w.stages for _, w in works),
            "spark.tasks": median(w.tasks for _, w in works),
            "spark.exec_run_s": median(w.exec_run_s for _, w in works),
            "spark.exec_cpu_s": median(w.exec_cpu_s for _, w in works),
            "spark.cpu_over_run": median(
                w.exec_cpu_s / w.exec_run_s for _, w in works if w.exec_run_s),
            "spark.shuffle_write_bytes": median(w.shuffle_write_bytes for _, w in works),
            "spark.busy_frac": median(
                w.exec_run_s / (o.seconds * cores) for o, w in works),
        })
        plain = [o.seconds for o in ops if not o.traced and o.ok]
        if plain:
            self.layers["trace.overhead_frac"] = (
                median(o.seconds for o, _ in works) / median(plain) - 1)

    def span_ms(self, name: str) -> float:
        return 1e3 * median(s.seconds for s in self.tracer.named(name))


@contextlib.contextmanager
def _phase(phases: dict, name: str):
    t0 = time.perf_counter()
    try:
        yield
    finally:
        phases[name] = time.perf_counter() - t0


def run_workload(args) -> int:
    # Fails with ImportError outside a checkout of the engine, before
    # anything is started.
    sys.path.insert(0, ROOT)
    import flink_cdc_2_3_0_src_spark  # noqa: F401

    from workloads import WORKLOADS

    end_to_end, per_layer = metric_units()
    workload_cls = WORKLOADS[args.workload]
    bench = Bench(args)
    os.makedirs(os.path.join(bench.work, "tmp"), exist_ok=True)
    # Python workers the JVM starts import the engine from this checkout.
    os.environ["PYTHONPATH"] = os.pathsep.join(
        p for p in (ROOT, os.environ.get("PYTHONPATH")) if p)
    os.environ["TMPDIR"] = tempfile.tempdir = os.path.join(bench.work, "tmp")
    wl = workload_cls(bench)
    phases: dict[str, float] = {}
    ops: list[Op] = []
    setups: list[float] = []
    try:
        with _phase(phases, "total"):
            with _phase(phases, "gen"):
                wl.generate(args.seed)
            bench.layers["gen.s"] = phases["gen"]
            with _phase(phases, "setup"):
                for _ in range(SETUP_ROUNDS):
                    bench.stop_session()
                    t0 = time.perf_counter()
                    bench.start_session(bench.cores)
                    bench.warm_up()
                    wl.setup()
                    setups.append(time.perf_counter() - t0)
            bench.layers["scale.cores"] = bench.cores
            bench.layers["session.launch_s"] = bench.session_starts[0]
            bench.layers["session.start_s"] = median(bench.session_starts)
            with _phase(phases, "prepare"):
                wl.prepare()
            with _phase(phases, "measure"):
                ops = wl.measure()
            with _phase(phases, "check"):
                problem = wl.check(ops)
            if problem:
                print(f"oracle mismatch: {problem}", file=sys.stderr)
            if bench.trace:
                with _phase(phases, "trace_layers"):
                    bench.layers["jvm.old_gen_peak_mb"] = bench.old_gen_peak_mb()
                    bench.spark_layers(ops)
                    wl.trace_layers(ops)
            rss = bench.peak_rss_mb()
    finally:
        bench.shutdown()
        shutil.rmtree(bench.work, ignore_errors=True)
        print("# phases_s " + json.dumps(phases), file=sys.stderr)
        print("# op_ms " + json.dumps([1e3 * o.seconds for o in ops]), file=sys.stderr)

    attempted = wl.warmup_ops + len(ops)
    failed = sum(not o.ok for o in ops)
    if problem:
        # the oracle sees the cumulative output, so it cannot tell which
        # op went wrong: count every op as wrong
        failed = attempted
    done = [o for o in ops if o.ok]
    timed = [o for o in done if not o.traced]
    wall = (done[-1].end - done[0].start) if done else 0.0
    e2e = {
        "setup_s": median(setups),
        "op_p50_ms": 1e3 * median(o.seconds for o in timed),
        "rows_per_s": sum(o.rows for o in done) / wall if wall else 0.0,
        "peak_rss_mb": rss,
    }
    wl.summary(e2e, timed, failed / attempted)

    if bench.trace:
        metrics = {k: {"value": float(bench.layers.get(k, 0.0)), "unit": u}
                   for k, u in per_layer.items()}
        out = os.path.join(HERE, "_out")
        os.makedirs(out, exist_ok=True)
        bench.tracer.dump(os.path.join(out, f"spans-{args.workload}-seed{args.seed}.jsonl"))
    else:
        metrics = {k: {"value": float(e2e[k]), "unit": u} for k, u in end_to_end.items()}
    print(json.dumps({
        "correct": failed == 0,
        "attempted": attempted,
        "failed": failed,
        "metrics": metrics,
    }))
    return 0
