"""Engine benchmark at local[4]: the flagship pipeline, and a vector
lookup plus raster round trip.

    python3 perfbench/run.py --workload pipeline --seed 1 --seconds 1 --trace 0

Run from the root of a checkout.  The last stdout line is one JSON
object {"correct", "attempted", "failed", "metrics"}; with ``--trace 0``
the metrics are the end-to-end ones, with ``--trace 1`` the per-layer
ones (spans and layer numbers are also written under
``.perfbench_out/``).  See perfbench/README.md.
"""

from __future__ import annotations

import argparse
import json
import os
import shutil
import statistics
import sys
import time
import traceback

import host

HERE = os.path.dirname(os.path.abspath(__file__))
ROOT = os.path.dirname(HERE)
CORES = 4
DRIVER_MEM = "2g"
SETUP_REPEATS = 3


def log(msg: str) -> None:
    print(f"[perfbench] {msg}", file=sys.stderr, flush=True)


def isolate(work: str) -> None:
    """Keep every file Spark, the JVM and Python workers write inside
    the checkout's work directory."""
    for d in ("local", "tmp"):
        os.makedirs(os.path.join(work, d), exist_ok=True)
    os.environ["SPARK_LOCAL_DIRS"] = os.path.join(work, "local")
    os.environ["TMPDIR"] = os.path.join(work, "tmp")
    # every JVM, the spark-submit launcher included: no /tmp/hsperfdata
    os.environ["JAVA_TOOL_OPTIONS"] = (
        f"-XX:-UsePerfData -Djava.io.tmpdir={os.path.join(work, 'tmp')}")
    os.environ["SPARK_DRIVER_MEM"] = DRIVER_MEM
    os.environ["PYSPARK_PYTHON"] = sys.executable
    os.environ["PYSPARK_DRIVER_PYTHON"] = sys.executable
    os.environ["PYTHONPATH"] = os.pathsep.join(
        [ROOT] + [p for p in os.environ.get("PYTHONPATH", "").split(os.pathsep) if p])


def start_session(work: str, event_dir: str | None):
    t0 = time.perf_counter()
    from gdal_spark.session import get_spark

    conf = {
        "spark.sql.warehouse.dir": os.path.join(work, "warehouse"),
        "spark.local.dir": os.path.join(work, "local"),
        "spark.ui.showConsoleProgress": "false",
    }
    if event_dir:
        os.makedirs(event_dir, exist_ok=True)
        conf.update({
            "spark.eventLog.enabled": "true",
            "spark.eventLog.dir": "file://" + event_dir,
            "spark.eventLog.compress": "false",
        })
    spark = get_spark("perfbench", cores=CORES, extra_conf=conf)
    spark.sparkContext.setLogLevel("ERROR")
    return spark, time.perf_counter() - t0


def stop_session(spark) -> None:
    from pyspark import SparkContext

    kids = host.descendants(os.getpid())
    spark.stop()
    gw = SparkContext._gateway
    if gw is not None:
        proc = getattr(gw, "proc", None)
        gw.shutdown()
        if proc is not None:
            proc.stdin.close()
            try:
                proc.wait(timeout=30)
            except Exception:
                proc.kill()
                proc.wait()
        SparkContext._gateway = None
        SparkContext._jvm = None
    host.stop_tree(kids)


class Phase:
    """Warm-up and a timed loop of operations in one session."""

    def __init__(self, wl, seconds: float, proc, tracer=None):
        self.wl, self.seconds, self.proc, self.tr = wl, seconds, proc, tracer
        self.walls: list[float] = []  # untraced operations
        self.cpu: list[float] = []  # their process-tree CPU seconds
        self.traced_walls: list[float] = []
        self.ops: list[dict] = []  # outputs of traced operations
        self.probes: list[dict] = []
        self.attempted = self.failed = 0
        self.errors: list[str] = []

    def run_op(self, op: str):
        c0, t0 = self.proc.cpu_s(), time.perf_counter()
        out = self.wl.operation(op)
        wall = time.perf_counter() - t0
        self.op_cpu = self.proc.cpu_s() - c0
        errors = self.wl.check(out)
        self.check_s = time.perf_counter() - t0 - wall
        return out, wall, errors

    def warm_up(self) -> float:
        t0 = time.perf_counter()
        errors = self.wl.warm_up()
        if errors:
            self.attempted += 1
            self.failed += 1
            self.errors += [f"warm-up: {e}" for e in errors]
        return time.perf_counter() - t0

    def measure(self) -> None:
        """Operations until ``seconds`` of operation time has been
        measured and the workload's ``MIN_OPS`` have run.  With a
        tracer, operations alternate untraced and traced (at least one
        of each)."""
        spent = 0.0
        need = 1 if self.tr else self.wl.MIN_OPS
        while spent < self.seconds or len(self.walls) < need or (self.tr and not self.traced_walls):
            traced = self.tr is not None and self.attempted % 2 == 1
            self.attempted += 1
            op = f"{'t' if traced else 'op'}{self.attempted}"
            if self.tr is not None:
                self.tr.enabled = traced
            try:
                out, wall, errors = self.run_op(op)
                spent += wall
                if traced:
                    self.probes.append(self.wl.probe(op))
            except Exception as e:  # an operation that raises is a failed one
                log(traceback.format_exc())
                errors, wall, out = [f"{type(e).__name__}: {e}"], None, None
                spent += 1.0
            if self.tr is not None:
                self.tr.enabled = False
            if out is not None:
                self.wl.cleanup(out)
            if errors:
                self.failed += 1
                self.errors += [f"{op}: {e}" for e in errors]
                log(f"{op} FAILED: {errors}")
                if self.failed >= 3:
                    break
                continue
            (self.traced_walls if traced else self.walls).append(wall)
            if traced:
                self.ops.append(out)
            else:
                self.cpu.append(self.op_cpu)
            log(f"{op} {wall:.3f} s, {self.op_cpu:.1f} CPU s (check {self.check_s:.2f} s) "
                f"{self.wl.describe(out)}")


def setup(wl) -> float:
    """Inputs built SETUP_REPEATS times (they must agree), the oracle
    computed once, the inputs handed to Spark once.  Returns the median
    build time plus the oracle and materialization times."""
    times, digests = [], set()
    for _ in range(SETUP_REPEATS):
        t0 = time.perf_counter()
        digests.add(wl.generate())
        times.append(time.perf_counter() - t0)
    if len(digests) != 1:
        raise RuntimeError(f"same seed gave different inputs: {digests}")
    t0 = time.perf_counter()
    wl.oracle()
    wl.materialize()
    return statistics.median(times) + time.perf_counter() - t0


def run_phase(args, work: str, Workload, tracer_cls, proc, event_dir=None):
    spark, start_s = start_session(work, event_dir)
    try:
        tr = tracer_cls(spark.sparkContext, False)
        wl = Workload(spark, args.seed, args.scale, work, tr)
        data_s = setup(wl)
        ph = Phase(wl, args.seconds, proc, tr if event_dir else None)
        warm_s = ph.warm_up()
        ph.start_s = start_s
        ph.setup_s = start_s + data_s + warm_s
        log(f"setup {ph.setup_s:.2f} s (session {start_s:.2f}, data {data_s:.2f}, "
            f"warm-up {warm_s:.2f})")
        if not ph.errors:
            ph.measure()
        ph.kernels = wl.kernels() if event_dir and ph.ops else {}
        return ph
    finally:
        t0 = time.perf_counter()
        stop_session(spark)
        log(f"session stopped in {time.perf_counter() - t0:.2f} s")


def traced_metrics(ph, work: str) -> tuple[dict, dict]:
    """Per-layer numbers from the spans and the event log."""
    import layers
    from tracing import EventLog

    from gdal_spark.plans.scalebench import calibrate_host

    wl, tr = ph.wl, ph.tr
    ev = EventLog(os.path.join(work, "eventlog"))
    m = {k: 0.0 for k in layers.PER_LAYER}
    m["session.start_s"] = ph.start_s
    if ph.ops:
        if wl.name == "pipeline":
            m.update(layers.pipeline_layers(ev, tr, wl, ph.ops))
        else:
            m.update(layers.vector_layers(ev, tr, [o["vector"] for o in ph.ops], ph.probes))
            m.update(layers.raster_layers(ev, tr, [o["raster"] for o in ph.ops]))
        m.update(layers.spark_layer(ev, tr, wl.OP_SPAN, CORES))
    m.update(ph.kernels)
    m["trace.ops"] = len(ph.traced_walls)
    m["trace.op_s"] = statistics.median(ph.traced_walls) if ph.traced_walls else 0.0
    m["trace.untraced_op_s"] = statistics.median(ph.walls) if ph.walls else 0.0
    if m["trace.untraced_op_s"]:
        m["trace.overhead_frac"] = m["trace.op_s"] / m["trace.untraced_op_s"] - 1.0
    m["trace.eventlog_bytes"] = sum(
        os.path.getsize(os.path.join(d, f)) for d, _, fs in os.walk(ev.log_dir) for f in fs)
    cal = calibrate_host(levels=(1, 2, 4))
    m["host.work_rate_1"] = cal["work_rate"]["1"]
    m["host.speedup_4"] = cal["speedup_vs_first"]["4"]
    return m, cal


def main(argv=None) -> int:
    t_process = time.perf_counter()
    ap = argparse.ArgumentParser(description=__doc__.split("\n\n")[0])
    ap.add_argument("--workload", required=True,
                    choices=("pipeline", "lookup_roundtrip"))
    ap.add_argument("--seed", type=int, required=True)
    ap.add_argument("--seconds", type=float, required=True)
    ap.add_argument("--trace", type=int, choices=(0, 1), default=0)
    ap.add_argument("--scale", choices=("full", "tiny"), default="full",
                    help="tiny: small inputs for the smoke test")
    args = ap.parse_args(argv)

    if not os.path.isfile(os.path.join(ROOT, "gdal_spark", "__init__.py")):
        log(f"no gdal_spark package under {ROOT}: run from a full checkout")
        return 2

    work = os.path.join(ROOT, ".perfbench_work", f"{args.workload}-{args.seed}-{os.getpid()}")
    out_dir = os.path.join(ROOT, ".perfbench_out", f"{args.workload}-seed{args.seed}")
    isolate(work)
    sys.path.insert(0, ROOT)

    import layers
    from tracing import Tracer
    from workloads import WORKLOADS

    Workload = WORKLOADS[args.workload]
    proc = host.ProcTree()
    proc.start()
    try:
        ph = run_phase(args, work, Workload, Tracer, proc,
                       os.path.join(work, "eventlog") if args.trace else None)
        proc.stop()
        if args.trace:
            units = layers.PER_LAYER
            metrics, cal = traced_metrics(ph, work)
            os.makedirs(out_dir, exist_ok=True)
            ph.tr.dump(os.path.join(out_dir, "spans.jsonl"))
            with open(os.path.join(out_dir, "layers.json"), "w") as f:
                json.dump({"workload": args.workload, "seed": args.seed, "scale": args.scale,
                           "calibrate_host": cal, "metrics": metrics,
                           "untraced_op_s": ph.walls, "traced_op_s": ph.traced_walls},
                          f, indent=1)
            log(f"spans and layer metrics written to {out_dir}")
        else:
            units = layers.END_TO_END
            metrics = {
                "rows_per_s": ph.wl.rows / statistics.median(ph.walls) if ph.walls else 0.0,
                "rows_per_cpu_s": ph.wl.rows / statistics.median(ph.cpu) if ph.cpu else 0.0,
                "setup_s": ph.setup_s,
                "peak_rss_mb": proc.peak / 2**20,
            }
    finally:
        proc.stop()
        shutil.rmtree(work, ignore_errors=True)
        try:
            os.rmdir(os.path.dirname(work))
        except OSError:  # another run is using it
            pass
    for e in ph.errors:
        log(f"check failed: {e}")
    correct = not ph.errors and ph.failed == 0
    n = len(ph.walls)
    if args.trace:
        log(f"tracing overhead {metrics['trace.overhead_frac']:+.3f} "
            f"({len(ph.traced_walls)} traced vs {n} untraced operations)")
    summary = {
        "rows_per_s": f"n={n} operations",
        "rows_per_cpu_s": f"n={n} operations",
        "setup_s": f"n=1 set-up ({SETUP_REPEATS} input builds, median)",
        "peak_rss_mb": f"n={proc.samples} samples",
    }
    print(f"workload={args.workload} seed={args.seed} trace={args.trace} "
          f"wall={time.perf_counter() - t_process:.1f}s ops={ph.attempted} "
          f"failed={ph.failed} failed_frac={ph.failed / max(ph.attempted, 1):.4f} "
          f"(n={ph.attempted} operations)")
    for k, v in metrics.items():
        extra = f"  [{summary[k]}]" if k in summary and not args.trace else ""
        print(f"  {k} = {v:.6g} {units[k]}{extra}")
    print(json.dumps({
        "correct": correct,
        "attempted": max(ph.attempted, 1),
        "failed": ph.failed,
        "metrics": {k: {"value": float(v), "unit": units[k]} for k, v in metrics.items()},
    }))
    return 0


if __name__ == "__main__":
    sys.exit(main())
