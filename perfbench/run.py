#!/usr/bin/env python3
"""Benchmark of the engine's ask, ingest and headline paths.

    python3 perfbench/run.py --workload ask --seed 1 --seconds 12 --trace 0

Run from the repository root.  One closed-loop client per workload, on
``local[$SPARK_GRAFT_CPUS]`` (at most ``nproc`` cores).  The last line of
stdout is one JSON object with ``correct``, ``attempted``, ``failed`` and
``metrics``: the end-to-end metrics with ``--trace 0``, the per-layer
metrics with ``--trace 1``.  The line before it carries the run's
context: operation count, samples above p90, host steal, load,
parallelism, and the raw ``ops_per_s``, ``op_p50_ms`` and ``op_p90_ms``.
Everything the run writes goes under ``.perfbench/``.

Wall time on a shared host follows the hypervisor's steal and the other
tenants' load: with 22 % steal an ``ask`` took twice as long.  So the
end-to-end throughput and latencies are reported in units of a
reference job (``reference_job``), run between operations every half
second in the same session, which slows down with them; the raw
figures stay in the context line.
"""

from __future__ import annotations

import argparse
import json
import math
import os
import shutil
import signal
import statistics
import sys
import time
import traceback
from pathlib import Path

HERE = Path(__file__).resolve().parent
ROOT = HERE.parent
WORK = ROOT / ".perfbench"
WORKLOADS = ("ask", "ingest", "headline")
REF_EVERY_S = 0.5


def _fail(msg: str) -> None:
    print(f"perfbench: {msg}", file=sys.stderr)
    sys.exit(2)


def _configure_env(run_dir: Path) -> None:
    """Keep every file the engine, Spark and the JVM write inside the checkout,
    and let Python workers import the package from it."""
    tmp = run_dir / "tmp"
    tmp.mkdir(parents=True)
    os.environ["TMPDIR"] = str(tmp)
    os.environ["SPARK_LOCAL_DIRS"] = str(tmp)
    os.environ["PANDASQLITE_SPARK_CACHE_DIR"] = str(run_dir / "cache")
    # spark-submit's launcher JVM; the driver JVM gets the same options as conf
    os.environ["SPARK_LAUNCHER_OPTS"] = _jvm_options(run_dir)
    path = os.environ.get("PYTHONPATH", "")
    os.environ["PYTHONPATH"] = str(ROOT) + (os.pathsep + path if path else "")
    ncpu = len(os.sched_getaffinity(0))
    want = int(os.environ.get("SPARK_GRAFT_CPUS", ncpu))
    os.environ["SPARK_GRAFT_CPUS"] = str(max(1, min(want, ncpu)))
    sys.path.insert(0, str(ROOT))


def _jvm_options(run_dir: Path) -> str:
    """Without the first and last a JVM writes its temp and perf-data files
    under /tmp; the second keeps the JIT compiler threads alive, so that
    procstat can tell their CPU apart."""
    return f"-XX:-UsePerfData -XX:-UseDynamicNumberOfCompilerThreads -Djava.io.tmpdir={run_dir / 'tmp'}"


def percentile(values: list[float], q: float) -> float:
    """Nearest-rank percentile."""
    s = sorted(values)
    return s[max(0, math.ceil(q * len(s)) - 1)]


def reference_job(spark) -> None:
    """The host-speed reference: a fixed small Spark job that calls nothing in
    pandasqlite_spark, about 60 ms on an idle 4-vCPU host."""
    spark.range(0, 2_000_000, 1, 4).selectExpr("sum(id)").collect()


class Loop:
    """Outcome of one timed loop."""

    def __init__(self) -> None:
        self.lat_s: list[float] = []
        self.kinds: list[str] = []
        self.attempted = 0
        self.failed = 0
        self.wall_s = 0.0  # without the reference jobs
        self.cpu: dict[str, float] = {}  # of the first cpu_ops operations, without the reference jobs
        self.cpu_ops = 0
        self.ref_s: list[float] = []
        self.steal_pct = 0.0
        self.load_1m = 0.0

    @property
    def ops_per_s(self) -> float:
        return len(self.lat_s) / self.wall_s

    @property
    def ref(self) -> float:
        """Median seconds of the reference job during this loop."""
        return statistics.median(self.ref_s)

    @property
    def cpu_s_per_op(self) -> float:
        return sum(v for k, v in self.cpu.items() if k != "jit") / self.cpu_ops


def timed_loop(workload, procs, seconds: float, start: int, spark) -> Loop:
    """Run operations start, start+1, ... until ``seconds`` have passed, at
    least ``workload.cpu_ops`` operations have run and the workload is at a
    point where it may stop.  Between operations, at most every REF_EVERY_S,
    the reference job runs; its time and CPU are kept out of the operations'
    figures.

    CPU is counted over the first ``cpu_ops`` operations only: a fixed
    amount of work, reached at the same point of the JVM's JIT warm-up in
    every run.  Counted over the whole loop, it would depend on how many
    operations the host's speed lets the loop fit, and the later ones cost
    less (a headline pass's JVM CPU fell from 14 to 6 s over six passes)."""
    from procstat import cpu_delta, host_ticks, steal_pct

    out = Loop()
    out.cpu_ops = workload.cpu_ops
    ref_cpu: dict[str, float] = {}
    procs.refresh()
    cpu0, host0 = procs.sample(), host_ticks()
    t0 = last_ref = time.perf_counter()
    i = start
    while True:
        if time.perf_counter() - last_ref >= REF_EVERY_S or not out.ref_s:
            c, r0 = procs.sample(), time.perf_counter()
            reference_job(spark)
            last_ref = time.perf_counter()
            out.ref_s.append(last_ref - r0)
            for k, v in cpu_delta(c, procs.sample()).items():
                ref_cpu[k] = ref_cpu.get(k, 0.0) + v
        out.attempted += 1
        try:
            lat, ok, kind = workload.run_op(i)
        except Exception:
            traceback.print_exc()
            lat, ok, kind = None, False, "error"
        if ok:
            out.lat_s.append(lat)
            out.kinds.append(kind)
        else:
            out.failed += 1
        i += 1
        if out.attempted == out.cpu_ops:
            procs.refresh()
            out.cpu = {k: v - ref_cpu.get(k, 0.0) for k, v in cpu_delta(cpu0, procs.sample()).items()}
        if out.attempted >= out.cpu_ops and time.perf_counter() - t0 >= seconds and workload.may_stop(i):
            break
    out.wall_s = time.perf_counter() - t0 - sum(out.ref_s)
    out.steal_pct = steal_pct(host0, host_ticks())
    out.load_1m = os.getloadavg()[0]
    return out


def _shutdown(spark, procs) -> None:
    """Stop Spark, end the JVM and wait until every process of the tree is gone."""
    from pyspark import SparkContext

    procs.refresh()
    started = [p for p in procs.members if p != procs.root]
    gateway = SparkContext._gateway
    spark.stop()
    if gateway is not None:
        gateway.shutdown()
        proc = getattr(gateway, "proc", None)
        if proc is not None:
            proc.stdin.close()  # the gateway JVM exits when its stdin closes
            proc.wait(timeout=60)
    deadline = time.monotonic() + 30
    while True:
        alive = [p for p in started if _alive(p)]
        if not alive:
            return
        if time.monotonic() > deadline:
            for p in alive:
                try:
                    os.kill(p, signal.SIGKILL)
                except ProcessLookupError:
                    pass
            deadline = time.monotonic() + 10
        time.sleep(0.1)


def _alive(pid: int) -> bool:
    try:
        with open(f"/proc/{pid}/stat") as f:
            return f.read().rsplit(")", 1)[1].split()[0] != "Z"
    except OSError:
        return False


def main() -> None:
    ap = argparse.ArgumentParser(description=__doc__.split("\n\n")[0])
    ap.add_argument("--workload", required=True, choices=WORKLOADS)
    ap.add_argument("--seed", type=int, required=True)
    ap.add_argument("--seconds", type=float, required=True)
    ap.add_argument("--trace", type=int, choices=(0, 1), default=0)
    args = ap.parse_args()

    if not (ROOT / "pandasqlite_spark" / "__init__.py").is_file():
        _fail(f"no pandasqlite_spark package in {ROOT}; run from a full checkout")

    run_dir = WORK / "runs" / f"{args.workload}-{args.seed}-{os.getpid()}"
    shutil.rmtree(run_dir, ignore_errors=True)
    _configure_env(run_dir)
    try:
        result = run(args, run_dir)
    finally:
        shutil.rmtree(run_dir, ignore_errors=True)
    print(json.dumps(result))


def run(args, run_dir: Path) -> dict:
    import data
    from procstat import ProcTree

    tables = data.ensure_tables(WORK)
    procs = ProcTree()
    module = __import__(args.workload)
    workload = module.Workload(args.seed, tables, run_dir, args.seconds)

    from pandasqlite_spark.session import get_spark

    extra_conf = {"spark.driver.extraJavaOptions": _jvm_options(run_dir)}
    log_dir = run_dir / "eventlog"
    if args.trace:
        log_dir.mkdir()
        extra_conf |= {
            "spark.eventLog.enabled": "true",
            "spark.eventLog.dir": log_dir.as_uri(),
            "spark.eventLog.compress": "false",
            "spark.ui.retainedJobs": "100000",
            "spark.ui.retainedStages": "100000",
        }
    t0 = time.perf_counter()
    spark = get_spark(f"perfbench_{args.workload}", extra_conf=extra_conf)
    session_start_s = time.perf_counter() - t0
    try:
        tracer = layers = None
        if args.trace:
            from spans import Tracer

            tracer = Tracer(spark, args.workload, procs)
        warm_attempted, warm_failed = workload.setup(spark, tracer)
        setup_s = time.perf_counter() - t0
        for _ in range(20):  # compile and JIT-warm the reference job
            reference_job(spark)
        loop = timed_loop(workload, procs, args.seconds, 0, spark)
        if args.trace:
            workload.install_tracing(tracer)
            traced = timed_loop(workload, procs, args.seconds, loop.attempted, spark)
            tracer.unwrap()
            layers = tracer.resolve()
        late_failed = workload.finish()
        parallelism = spark.sparkContext.defaultParallelism
    finally:
        _shutdown(spark, procs)

    attempted = warm_attempted + loop.attempted
    failed = warm_failed + loop.failed + late_failed
    if args.trace:
        attempted += traced.attempted
        failed += traced.failed
    if not loop.lat_s:
        _fail("no operation succeeded")
    p50, p90 = statistics.median(loop.lat_s), percentile(loop.lat_s, 0.9)
    context = {
        "workload": args.workload,
        "seed": args.seed,
        "ops": loop.attempted,
        "failed": failed,
        "samples_above_p90": sum(1 for v in loop.lat_s if v > p90),
        "host.steal_pct": round(loop.steal_pct, 2),
        "host.load_1m": loop.load_1m,
        "host.parallelism": parallelism,
        "ops_per_s": loop.ops_per_s,
        "op_p50_ms": p50 * 1e3,
        "op_p90_ms": p90 * 1e3,
        "ref_ms": loop.ref * 1e3,
        "ref_runs": len(loop.ref_s),
        "loop_s": round(loop.wall_s, 3),
        "cpu_ops": loop.cpu_ops,
        "jit_s_per_op": loop.cpu["jit"] / loop.cpu_ops,
        "kinds": {k: loop.kinds.count(k) for k in sorted(set(loop.kinds))},
    }
    print(json.dumps(context))

    if not args.trace:
        metrics = {
            "setup_s": (setup_s, "s"),
            "ops_per_ref": (loop.ops_per_s * loop.ref, "1/ref"),
            "op_p50_ref": (p50 / loop.ref, "ref"),
            "op_p90_ref": (p90 / loop.ref, "ref"),
            "cpu_s_per_op": (loop.cpu_s_per_op, "s"),
        }
    else:
        from spans import parse_event_log

        events = parse_event_log(log_dir)
        tracer.dump(WORK / "traces" / f"{args.workload}-seed{args.seed}.json")
        n = traced.attempted
        stage = {k: sum(g.get(k, 0.0) for grp, g in events.items() if grp.startswith(f"{args.workload}/op"))
                 for k in ("run_s", "cpu_s", "gc_s", "shuffle_write_bytes", "spill_bytes")}
        metrics = {
            "session.start_s": (session_start_s, "s"),
            "cpu.driver_py_s_per_op": (loop.cpu["driver_py"] / loop.cpu_ops, "s"),
            "cpu.jvm_s_per_op": (loop.cpu["jvm"] / loop.cpu_ops, "s"),
            "cpu.py_workers_s_per_op": (loop.cpu["py_workers"] / loop.cpu_ops, "s"),
            "cpu.jit_s_per_op": (loop.cpu["jit"] / loop.cpu_ops, "s"),
            "host.steal_pct": (loop.steal_pct, "%"),
            "host.load_1m": (loop.load_1m, "load"),
            "host.parallelism": (parallelism, "count"),
            "trace.overhead_pct": ((loop.ops_per_s * loop.ref / (traced.ops_per_s * traced.ref) - 1.0) * 100.0, "%"),
            "stage.executor_run_s_per_op": (stage["run_s"] / n, "s"),
            "stage.executor_cpu_s_per_op": (stage["cpu_s"] / n, "s"),
            "stage.gc_s_per_op": (stage["gc_s"] / n, "s"),
            "shuffle.write_mb_per_op": (stage["shuffle_write_bytes"] / 1e6 / n, "MB"),
            "spill.mb_per_op": (stage["spill_bytes"] / 1e6 / n, "MB"),
        }
        vals = workload.layer_metrics(tracer, layers, events)
        for mod in WORKLOADS:
            for name, unit in __import__(mod).LAYER_METRICS.items():
                metrics[name] = (vals.get(name, 0.0), unit)
    return {
        "correct": failed == 0,
        "attempted": attempted,
        "failed": failed,
        "metrics": {k: {"value": float(v), "unit": u} for k, (v, u) in metrics.items()},
    }


if __name__ == "__main__":
    main()
