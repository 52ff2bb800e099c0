#!/usr/bin/env python3
"""perfbench: closed-loop benchmark of the ingestion and query engine.

Run from the repository root:

    python3 perfbench/run.py --workload ingest --seed 1 --seconds 5 --trace 0

One Python driver process, one Spark session on ``local[$SPARK_GRAFT_CPUS]``
(default: the CPUs this process may run on) with the engine's own
``session.ENGINE_CONFS``. Set-up (session start, seeded input generation,
warm-up) is timed as ``setup_s``; then the workload runs as a closed loop
with one client for ``--seconds``, checking every output. ``--trace 1``
makes the separate traced run: spans around the calls into each layer,
Spark counters per span, per-layer metrics, and a span file under
``.perfbench_out/``.

Every file the run writes lives under ``.perfbench_work/`` (removed at the
end) and ``.perfbench_out/`` in the repository root. The last line of
standard output is one JSON object: ``correct``, ``attempted``, ``failed``
and ``metrics`` (end-to-end metrics untraced, per-layer metrics traced).
The exit code is 0 only when every check passed.
"""

from __future__ import annotations

import argparse
import json
import os
import shutil
import statistics
import sys
import tempfile
import time

HERE = os.path.dirname(os.path.abspath(__file__))
ROOT = os.path.dirname(HERE)
sys.path.insert(0, ROOT)

GEN_REPEATS = 3


def parse_args(argv: list[str] | None) -> argparse.Namespace:
    p = argparse.ArgumentParser(description=__doc__.split("\n\n")[0])
    p.add_argument("--workload", required=True, choices=("ingest", "query"))
    p.add_argument("--seed", type=int, required=True)
    p.add_argument("--seconds", type=float, required=True)
    p.add_argument("--trace", type=int, choices=(0, 1), default=0)
    p.add_argument("--size", choices=("full", "tiny"), default="full",
                   help="tiny: small inputs, for the self-test")
    p.add_argument("--corrupt-expected", action="store_true",
                   help="plant one wrong expected value (self-test of the gate)")
    return p.parse_args(argv)


def isolate(work: str) -> dict[str, str]:
    """Point every scratch location of Python, the JVM and Spark into
    the work directory, before the JVM starts."""
    dirs = {d: os.path.join(work, d) for d in ("tmp", "spark-local", "spark-warehouse")}
    for d in dirs.values():
        os.makedirs(d, exist_ok=True)
    os.environ["TMPDIR"] = dirs["tmp"]
    tempfile.tempdir = None  # re-read TMPDIR
    os.environ["SPARK_LOCAL_DIRS"] = dirs["spark-local"]
    # the JVMs would otherwise keep a perf-data file under /tmp
    os.environ["SPARK_LAUNCHER_OPTS"] = "-XX:-UsePerfData"
    return dirs


def start_session(work: str, cpus: str):
    from dataingestionengineprocess_spark.session import get_spark

    dirs = isolate(work)
    return get_spark("perfbench", master=f"local[{cpus}]", extra_confs={
        "spark.ui.enabled": "false",
        "spark.ui.showConsoleProgress": "false",
        "spark.local.dir": dirs["spark-local"],
        "spark.sql.warehouse.dir": dirs["spark-warehouse"],
        "spark.driver.extraJavaOptions":
            f"-XX:-UsePerfData -Djava.io.tmpdir={dirs['tmp']} "
            f"-Dderby.system.home={dirs['tmp']}",
    })


def vm_hwm_mb(pid: int) -> float:
    with open(f"/proc/{pid}/status") as f:
        for line in f:
            if line.startswith("VmHWM:"):
                return int(line.split()[1]) / 1024.0
    return 0.0


def stop_session(spark) -> None:
    """Stop Spark and wait for the JVM it launched to exit."""
    from pyspark import SparkContext

    gateway = SparkContext._gateway
    spark.stop()
    if gateway is None:
        return
    proc = getattr(gateway, "proc", None)
    gateway.shutdown()
    if proc is not None:
        proc.stdin.close()  # the gateway JVM exits when its stdin closes
        proc.wait(timeout=60)


def main(argv: list[str] | None = None) -> int:
    args = parse_args(argv)
    # the engine must be importable from the checkout: fail before any output
    import dataingestionengineprocess_spark  # noqa: F401

    sys.path.insert(0, HERE)
    from spans import Tracer
    from workloads import E2E, LAYERS, WORKLOADS, Context

    cpus = os.environ.get("SPARK_GRAFT_CPUS") or str(len(os.sched_getaffinity(0)))
    os.environ["SPARK_GRAFT_CPUS"] = cpus
    run_id = f"{args.workload}-s{args.seed}-p{os.getpid()}"
    work = os.path.join(ROOT, ".perfbench_work", run_id)
    shutil.rmtree(work, ignore_errors=True)
    os.makedirs(work)

    t0 = time.perf_counter()
    spark = start_session(work, cpus)
    session_s = time.perf_counter() - t0
    try:
        tracer = Tracer(spark, run_id, enabled=bool(args.trace))
        ctx = Context(spark=spark, tracer=tracer, work=work, seed=args.seed,
                      tiny=args.size == "tiny", corrupt_expected=args.corrupt_expected)
        wl = WORKLOADS[args.workload](ctx)
        gen_s = []
        for _ in range(GEN_REPEATS):
            t0 = time.perf_counter()
            wl.generate()
            gen_s.append(time.perf_counter() - t0)
        t0 = time.perf_counter()
        wl.warm_up()
        warm_s = time.perf_counter() - t0
        wl.run(args.seconds)

        e2e, named = wl.metrics()
        e2e["setup_s"] = session_s + statistics.median(gen_s) + warm_s
        e2e["ok_frac"] = 1.0 - ctx.failed / max(ctx.attempted, 1)
        jvm_pid = spark.sparkContext._jvm.java.lang.ProcessHandle.current().pid()
        e2e["peak_rss_mb"] = vm_hwm_mb(os.getpid()) + vm_hwm_mb(int(jvm_pid))
        layers = {}
        if args.trace:
            # the layers this workload does not drive: one cold, tiny pass
            other_work = os.path.join(work, "other")
            os.makedirs(other_work)
            other = next(w for name, w in WORKLOADS.items() if name != args.workload)
            layers = other(Context(spark=spark, tracer=tracer, work=other_work,
                                   seed=args.seed, tiny=True,
                                   corrupt_expected=False)).light_layers()
            layers = dict.fromkeys(LAYERS, 0.0) | layers | wl.layer_metrics()
            out_dir = os.path.join(ROOT, ".perfbench_out")
            os.makedirs(out_dir, exist_ok=True)
            span_file = os.path.join(out_dir, f"spans-{args.workload}-s{args.seed}.jsonl")
            tracer.write(span_file)
    finally:
        stop_session(spark)
        shutil.rmtree(work, ignore_errors=True)

    for what in ctx.failures:
        print(f"FAILED: {what}", file=sys.stderr)
    print(f"# workload={args.workload} seed={args.seed} seconds={args.seconds} "
          f"trace={args.trace} cpus={cpus}")
    print(f"# setup: session {session_s:.3f} s, generate median of {GEN_REPEATS} "
          f"{statistics.median(gen_s):.3f} s, warm-up {warm_s:.3f} s")
    for name, (value, unit) in named.items():
        if isinstance(value, tuple):  # a tail: (percentile, value, samples)
            pct, v, n = value
            print(f"{name} {v:.6g} {unit} (p{pct:.1f} of {n} samples)")
        elif value is None:
            print(f"{name} n/a {unit} (fewer than 20 samples)")
        else:
            print(f"{name} {value:.6g} {unit}" if isinstance(value, float)
                  else f"{name} {value} {unit}")
    print(f"ops_failed_frac {ctx.failed / max(ctx.attempted, 1):.6g} ratio "
          f"({ctx.failed} of {ctx.attempted})")
    for name in E2E:
        label = "traced " if args.trace else ""
        print(f"{label}{name} {e2e[name]:.6g} {E2E[name][0]}")
    if args.trace:
        print(f"# spans: {span_file}")
        for name, v in layers.items():
            print(f"{name} {v:.6g} {LAYERS[name][0]}")
        metrics = {k: {"value": v, "unit": LAYERS[k][0]} for k, v in layers.items()}
    else:
        metrics = {k: {"value": e2e[k], "unit": E2E[k][0]} for k in E2E}
    print(json.dumps({"correct": ctx.failed == 0, "attempted": ctx.attempted,
                      "failed": ctx.failed, "metrics": metrics}))
    return 0 if ctx.failed == 0 else 1


if __name__ == "__main__":
    sys.exit(main())
