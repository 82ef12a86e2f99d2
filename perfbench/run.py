"""One benchmark run of one workload in one process.

    python3 perfbench/run.py --workload catalog_olap --seed 1 --seconds 20 --trace 0

Stages seeded inputs, starts one ``local[nproc]`` session, runs whole
passes of the workload's operation list for ``--seconds`` and at least
three (pass 0 is cold, pass 1 the warm-up, pass 2 the measured warm
pass; later passes are checked but measure nothing), checks every
operation's output against DuckDB and the generator's counts outside the
timed operations, and prints one JSON line last: the end-to-end metrics
with ``--trace 0``, the per-layer metrics with ``--trace 1``. A per-pass
diagnostics line (wall and CPU seconds, JIT, GC, Janino compiles, host
CPU steal) is printed just before it. See perfbench/README.md.
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
import traceback

ROOT = os.path.dirname(os.path.dirname(os.path.abspath(__file__)))
sys.path.insert(0, ROOT)

from perfbench import tracing  # noqa: E402


def _since_process_start() -> float:
    with open("/proc/self/stat") as f:
        start_ticks = int(f.read().rsplit(")", 1)[1].split()[19])
    with open("/proc/uptime") as f:
        uptime = float(f.read().split()[0])
    return uptime - start_ticks / os.sysconf("SC_CLK_TCK")


T0 = time.perf_counter() - _since_process_start()  # process start on the perf_counter clock

WORKLOADS = ("catalog_olap", "nrg_etl", "rag_pipeline")
NPROC = len(os.sched_getaffinity(0))
#: Driver heap, fixed (-Xms = -Xmx): an eighth of RAM, at most 2 GiB. In
#: local mode every task runs in this one JVM; a fixed heap takes G1's
#: heap resizing out of the run-to-run differences.
HEAP_MB = min(2048, os.sysconf("SC_PAGE_SIZE") * os.sysconf("SC_PHYS_PAGES") // (8 << 20))


def _pin_environment(work: str) -> None:
    """One JVM with nproc task slots; native math libraries single-threaded;
    every temporary file inside the run's work directory."""
    tmp = os.path.join(work, "tmp")
    os.makedirs(tmp, exist_ok=True)
    for var in ("OMP_NUM_THREADS", "OPENBLAS_NUM_THREADS", "MKL_NUM_THREADS", "NUMEXPR_NUM_THREADS"):
        os.environ[var] = "1"
    os.environ["SPARK_GRAFT_CPUS"] = str(NPROC)
    os.environ["SPARK_LOCAL_DIRS"] = os.path.join(work, "local")
    os.environ["TMPDIR"] = tmp
    os.environ["PYSPARK_PYTHON"] = sys.executable
    os.environ["PYSPARK_DRIVER_PYTHON"] = sys.executable


def _start_session(work: str):
    from nrg_etl_airflow_spark_emr_spark.session import get_spark

    return get_spark(
        app_name="perfbench",
        master=f"local[{NPROC}]",
        shuffle_partitions=NPROC,
        driver_memory=f"{HEAP_MB}m",
        extra={
            "spark.local.dir": os.path.join(work, "local"),
            "spark.sql.warehouse.dir": os.path.join(work, "warehouse"),
            "spark.ui.showConsoleProgress": "false",
            "spark.driver.extraJavaOptions": (
                f"-Xms{HEAP_MB}m -Djava.net.preferIPv4Stack=true -Djava.io.tmpdir={work}/tmp "
                f"-Dderby.system.home={work}"
            ),
        },
    )


class Pass:
    def __init__(self, index: int):
        self.index = index
        # (op, wall s, CPU s, raised)
        self.ops: list[tuple[str, float, float, bool]] = []
        self.seconds = 0.0
        self.cpu_s = 0.0  # this process and its descendants
        self.jvm = (0, 0, 0)  # JIT ms, GC ms, Janino compiles during the pass


class Runner:
    """Times operations; in a traced run also opens a span per operation."""

    def __init__(self, tracer):
        self.tracer = tracer
        self.current: Pass | None = None

    def op(self, name: str, fn, span: str, footprint: str | None = None):
        c = tracing.tree_cpu_s()
        t = time.perf_counter()
        out, raised = None, False
        try:
            with self.tracer.span(span, footprint):
                out = fn()
        except Exception:
            traceback.print_exc(file=sys.stderr)
            raised = True
        wall = time.perf_counter() - t
        self.current.ops.append((name, wall, tracing.tree_cpu_s() - c, raised))
        return out


def _stop(spark) -> None:
    """Stop the session, then the JVM it runs in, and wait for it."""
    gateway = spark.sparkContext._gateway
    proc = getattr(gateway, "proc", None)
    spark.stop()
    gateway.shutdown()
    if proc is not None:
        proc.stdin.close()  # the gateway JVM exits when its stdin closes
        try:
            proc.wait(timeout=60)
        except subprocess.TimeoutExpired:
            proc.kill()
            proc.wait()


def main(argv: list[str] | None = None) -> int:
    ap = argparse.ArgumentParser(description="one benchmark run (see perfbench/README.md)")
    ap.add_argument("--workload", choices=WORKLOADS, required=True)
    ap.add_argument("--seed", type=int, required=True)
    ap.add_argument("--seconds", type=float, required=True)
    ap.add_argument("--trace", type=int, choices=(0, 1), default=0)
    ap.add_argument("--spans", help="write the traced run's spans as JSON to this file")
    args = ap.parse_args(argv)

    try:
        import nrg_etl_airflow_spark_emr_spark  # noqa: F401
    except ImportError as e:
        print(f"perfbench: the engine package is not importable from {ROOT}: {e}", file=sys.stderr)
        return 2
    from perfbench import workloads

    work = os.path.join(ROOT, ".perfbench_work", f"{args.workload}-{os.getpid()}")
    shutil.rmtree(work, ignore_errors=True)
    os.makedirs(work)
    spark = None
    try:
        _pin_environment(work)
        wl_cls = workloads.WORKLOADS[args.workload]
        inputs = wl_cls.stage(args.seed, os.path.join(work, "inputs"))
        t = time.perf_counter()
        spark = _start_session(work)
        session_s = time.perf_counter() - t
        setup_s = time.perf_counter() - T0

        jvm = tracing.JvmCounters(spark)
        tracer = tracing.Tracer(spark, jvm, enabled=bool(args.trace))
        tracer.install()
        runner = Runner(tracer)
        wl = wl_cls(spark, inputs, work, runner, tracer)
        steal0 = tracing.cpu_steal_s()
        passes: list[Pass] = []
        t_window = time.perf_counter()
        while True:
            p = Pass(len(passes))
            runner.current = p
            tracer.pass_index = p.index
            before = jvm.read()
            c = tracing.tree_cpu_s()
            t = time.perf_counter()
            wl.run_pass(p.index)
            p.seconds = time.perf_counter() - t
            p.cpu_s = tracing.tree_cpu_s() - c
            p.jvm = tuple(b - a for a, b in zip(before, jvm.read()))
            passes.append(p)
            tracer.harvest()  # between passes: no job is running
            if len(passes) > workloads.MEASURED_PASS and time.perf_counter() - t_window >= args.seconds:
                break
        steal_s = tracing.cpu_steal_s() - steal0
        peak_rss_mb = jvm.peak_rss_mb()
        tracer.uninstall()

        t = time.perf_counter()
        failed_ops = wl.check(passes)  # outside the timed operations
        check_s = time.perf_counter() - t
        attempted = sum(len(p.ops) for p in passes)
        raised = {(p.index, name) for p in passes for name, _w, _c, r in p.ops if r}
        failed = sum(1 for p in passes for name, _w, _c, _r in p.ops if (p.index, name) in raised | failed_ops)
        warm = passes[workloads.MEASURED_PASS]
        op_wall = [w for name, w, _c, _r in warm.ops if name in wl.latency_ops]
        op_cpu = [c for name, _w, c, _r in warm.ops if name in wl.latency_ops]
        diagnostics = {
            "workload": args.workload,
            "seed": args.seed,
            "passes": [
                {"s": round(p.seconds, 4), "cpu_s": round(p.cpu_s, 2), "jit_ms": p.jvm[0], "gc_ms": p.jvm[1],
                 "codegen_compiles": p.jvm[2]}
                for p in passes
            ],
            "op_p50_wall_s": round(statistics.median(op_wall), 4),
            "op_p50_cpu_s": round(statistics.median(op_cpu), 3),
            "peak_rss_mb": round(peak_rss_mb, 1),
            "host.steal_s": round(steal_s, 3),
            "session_start_s": round(session_s, 4),
            "check_s": round(check_s, 3),
            "failed_ops": sorted(f"{i}:{n}" for i, n in failed_ops),
        }
        print("diagnostics " + json.dumps(diagnostics))

        if args.trace:
            metrics = workloads.layer_metrics(tracer, passes, wl, session_s, steal_s, peak_rss_mb)
            if args.spans:
                tracer.dump(args.spans)
        else:
            metrics = {
                "setup_s": (setup_s, "s"),
                "cold_pass_cpu_s": (passes[0].cpu_s, "s"),
                "warm_pass_cpu_s": (warm.cpu_s, "s"),
            }
        result = {
            "correct": failed == 0,
            "attempted": attempted,
            "failed": failed,
            "metrics": {k: {"value": v, "unit": u} for k, (v, u) in metrics.items()},
        }
        print(json.dumps(result))
        return 0
    finally:
        if spark is not None:
            _stop(spark)
        shutil.rmtree(work, ignore_errors=True)
        try:
            os.rmdir(os.path.dirname(work))
        except OSError:
            pass  # another run's work directory is still there


if __name__ == "__main__":
    sys.exit(main())
