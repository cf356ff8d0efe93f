"""Benchmark of the ETL engine: one workload per run, one JSON line out.

    python3 perfbench/run.py --workload daily_load --seed 1 --seconds 10 --trace 0

Run from the repository root. The run sets up ``SETUP_REPS`` times, each
time in a fresh Spark session on ``local[$SPARK_GRAFT_CPUS]`` (default:
all cores; the first also starts the JVM) and a fresh private directory
under the current directory: it generates its inputs from the seed and
stages them for the workload. It keeps the last set-up, runs one untimed
warm-up pass, then a fixed number of timed passes (``--seconds`` divided
by the workload's nominal pass length, at least two), and checks the
outputs. The last line of stdout is ``{"correct", "attempted", "failed",
"metrics"}``: end-to-end metrics with ``--trace 0``, per-layer metrics
with ``--trace 1``. A run record goes to stderr; with ``--trace 1`` it
carries every span. The private directory is removed at exit. See
``perfbench/README.md``.
"""

from __future__ import annotations

import time

T_START = time.perf_counter()

import argparse  # noqa: E402
import json  # noqa: E402
import math  # noqa: E402
import os  # noqa: E402
import shutil  # noqa: E402
import signal  # noqa: E402
import statistics  # noqa: E402
import sys  # noqa: E402
import tempfile  # noqa: E402

WORKLOADS = ("daily_load", "query_mix")
MIN_PASSES = 2
SETUP_REPS = 3  # the median leaves out the first, cold set-up
DATA_SF = 0.01


def _parse(argv: list[str]) -> argparse.Namespace:
    ap = argparse.ArgumentParser(description=__doc__.splitlines()[0])
    ap.add_argument("--workload", required=True, choices=WORKLOADS)
    ap.add_argument("--seed", type=int, default=1)
    ap.add_argument("--seconds", type=float, default=10.0)
    ap.add_argument("--trace", type=int, choices=(0, 1), default=0)
    ap.add_argument("--sf", type=float, default=DATA_SF, help="input scale factor")
    ap.add_argument("--inject-failure", action="store_true",
                    help="make one op per pass raise (self-test of fail counting)")
    return ap.parse_args(argv)


def _workload(name: str):
    if name == "daily_load":
        from perfbench.daily_load import DailyLoad
        return DailyLoad
    from perfbench.query_mix import QueryMix
    return QueryMix


def main(argv: list[str]) -> int:
    args = _parse(argv)
    root = os.getcwd()
    if not os.path.isfile(os.path.join(root, "etl_pipeline_project_spark", "__init__.py")):
        sys.stderr.write("perfbench: run from the repository root; etl_pipeline_project_spark not found\n")
        return 2
    # nothing of a run may land in the tree: no bytecode, no spark-warehouse
    sys.dont_write_bytecode = True
    os.environ["PYTHONDONTWRITEBYTECODE"] = "1"
    sys.path.insert(0, root)
    # Python workers (pandas UDFs, Python data sources) import the package too
    os.environ["PYTHONPATH"] = os.pathsep.join(
        p for p in (root, os.environ.get("PYTHONPATH")) if p)
    os.environ.setdefault("SPARK_GRAFT_CPUS", str(os.cpu_count() or 1))
    # a terminated run still removes its directory and stops its JVM
    signal.signal(signal.SIGTERM, lambda *_: sys.exit(143))
    run_dir = tempfile.mkdtemp(prefix=".perfbench-", dir=root)
    os.environ["SPARK_LOCAL_DIRS"] = os.path.join(run_dir, "local")
    try:
        result = _run(args, root, run_dir)
    finally:
        shutil.rmtree(run_dir, ignore_errors=True)
    print(json.dumps(result))
    return 0 if result["correct"] else 1


def _stop(spark) -> None:
    """Stop the session and wait for the driver JVM to exit."""
    from pyspark import SparkContext

    gateway = SparkContext._gateway
    spark.stop()
    proc = getattr(gateway, "proc", None)
    gateway.shutdown()
    if proc is not None:
        proc.stdin.close()
        try:
            proc.wait(timeout=60)
        except Exception:  # noqa: BLE001 - last resort: never leave the JVM behind
            proc.kill()
            proc.wait()


def _run(args, root: str, run_dir: str) -> dict:
    from bench import _cpu_sample
    from perfbench import gen, probes
    from perfbench.harness import Ctx
    from perfbench.trace import Tracer

    workload = _workload(args.workload)
    # a fixed count whatever the speed, so every commit reports the same statistic
    passes = max(MIN_PASSES, math.ceil(args.seconds / workload.PASS_S))
    tracer = Tracer(bool(args.trace))
    cpu0 = _cpu_sample()
    spark = rep_dir = None
    setups, setup_cpu, marks = [], [], []
    try:
        for rep in range(SETUP_REPS):
            if spark is not None:
                spark.stop()  # the JVM stays up; the next session starts from scratch
                shutil.rmtree(rep_dir, ignore_errors=True)
            t0 = T_START if rep == 0 else time.perf_counter()
            c0 = 0.0 if rep == 0 else probes.tree_cpu_s()
            marks.append(len(tracer.spans))
            wl = workload(passes)
            with tracer.span("session.get_spark"):
                from etl_pipeline_project_spark.session import get_spark

                spark = get_spark("perfbench", extra_conf={
                    "spark.sql.warehouse.dir": os.path.join(run_dir, "warehouse"),
                    "spark.local.dir": os.path.join(run_dir, "local"),
                    "spark.driver.extraJavaOptions": f"-Djava.io.tmpdir={run_dir}",
                    "spark.ui.showConsoleProgress": "false",
                })
            rep_dir = os.path.join(run_dir, f"setup{rep}")
            ctx = Ctx(spark, os.path.join(rep_dir, "data"), os.path.join(rep_dir, "work"),
                      args.seed, tracer)
            gen.write_tables(ctx.data_dir, args.sf, args.seed)
            wl.setup(ctx)
            setups.append(time.perf_counter() - t0)
            setup_cpu.append(probes.tree_cpu_s() - c0)
        marks.append(len(tracer.spans))
        return _measure(args, root, ctx, wl, passes, setups, setup_cpu, marks, cpu0)
    finally:
        if spark is not None:
            _stop(spark)


def _measure(args, root, ctx, wl, n_passes, setups, setup_cpu, marks, cpu0) -> dict:
    from bench import _cpu_sample, _host_noise
    from perfbench import metrics, probes

    spark, tracer = ctx.spark, ctx.tracer
    t0, c0 = time.perf_counter(), probes.tree_cpu_s()
    wl.warmup(ctx)
    warm_s = time.perf_counter() - t0
    warm_cpu = probes.tree_cpu_s() - c0
    # CPU seconds, not wall time: host steal moves wall time by more than
    # the bounds from run to run (README.md, "Measured spread")
    setup_s = statistics.median(setup_cpu) + warm_cpu

    ctx.timed = True
    marks.append(len(tracer.spans))
    cost0, probe0 = tracer.cost_s, ctx.probe_s
    gc0 = probes.gc_ms(spark)
    passes, pass_cpu = [], []
    for _ in range(n_passes):
        ctx.inject_failure = args.inject_failure
        t0, c0 = time.perf_counter(), probes.tree_cpu_s()
        wl.run_pass(ctx)
        passes.append(time.perf_counter() - t0)
        pass_cpu.append(probes.tree_cpu_s() - c0)
    gc_ms = probes.gc_ms(spark) - gc0
    rss = probes.peak_rss_mb(spark)
    cpu1 = _cpu_sample()
    t0 = time.perf_counter()
    wl.check(ctx)
    check_s = time.perf_counter() - t0

    lat = [o.seconds * 1000.0 for o in ctx.ops if o.ok and not o.label.startswith("check:")]
    failed = sum(1 for o in ctx.ops if not o.ok)
    attempted = len(ctx.ops)
    record = {
        "workload": args.workload,
        "trace": args.trace,
        "provenance": probes.provenance(spark, root, args.seed),
        "host": _host_noise(cpu0, cpu1),
        "sf": args.sf,
        "passes": [round(p, 4) for p in passes],
        "pass_cpu_s": [round(c, 2) for c in pass_cpu],
        "setup": {"reps_s": [round(s, 4) for s in setups], "warmup_s": round(warm_s, 4),
                  "reps_cpu_s": [round(c, 2) for c in setup_cpu], "warmup_cpu_s": round(warm_cpu, 2)},
        "check_s": round(check_s, 4),
        "ops": attempted,
        "warmup_op_ms": [[o.label, round(o.seconds * 1000.0, 1)] for o in ctx.warm_ops],
        "op_ms": [[o.label, round(o.seconds * 1000.0, 1)] for o in ctx.ops],
        "output_digest": ctx.outputs.hexdigest(),
    }
    if args.trace:
        overhead_s = tracer.cost_s - cost0 + ctx.probe_s - probe0
        values = metrics.per_layer(ctx, tracer, marks, passes, lat, setups=setups, warm_s=warm_s,
                                   rss_mb=rss, failed=failed, attempted=attempted,
                                   gc_ms=gc_ms, overhead_s=overhead_s)
        record["spans"] = tracer.spans
    else:
        values = metrics.end_to_end(setup_s, pass_cpu)
    sys.stderr.write(f"perfbench: run {json.dumps(record)}\n")
    return {
        "correct": failed == 0,
        "attempted": attempted,
        "failed": failed,
        "metrics": {k: {"value": v, "unit": u} for k, (v, u) in values.items()},
    }


if __name__ == "__main__":
    raise SystemExit(main(sys.argv[1:]))
