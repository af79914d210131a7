"""Benchmark entry point.

    python3 perfbench/run.py --workload NAME --seed N --seconds S --trace 0|1

Run from the repository root.  One process is one run: it pins the
environment, starts one Spark session, generates the workload's inputs
from the seed, runs warm rounds (set-up), then repeats rounds for
``--seconds`` (a closed loop with one client), checks the outputs and
prints one JSON object as the last line of standard output.  With
``--trace 0`` the metrics are the end-to-end ones of ``BENCHMARK.json``;
with ``--trace 1`` they are its per-layer ones, from spans around calls
into the program and from Spark's status store.  Details land in
``perfbench/out/``.
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

T_START = time.perf_counter()
HERE = os.path.dirname(os.path.abspath(__file__))
ROOT = os.path.dirname(HERE)
PROGRAM = os.path.join(ROOT, "sap_data_pipeline_spark", "__init__.py")


def pin_environment(work: str) -> dict[str, str]:
    """Cores, heap, module path and every temp location, before the
    JVM starts; returns the Spark settings the session needs beyond its
    own defaults."""
    cores = min(len(os.sched_getaffinity(0)), 4)
    with open("/proc/meminfo") as fh:
        total_kb = int(next(ln for ln in fh if ln.startswith("MemTotal")).split()[1])
    heap_mb = max(1024, min(3072, total_kb // 1024 // 5))
    tmp = os.path.join(work, "tmp")
    os.makedirs(tmp)
    os.environ.update({
        "SPARK_GRAFT_CPUS": str(cores),
        "SPARK_GRAFT_DRIVER_MEM": f"{heap_mb}m",
        # Python workers import the package by name
        "PYTHONPATH": os.pathsep.join(p for p in (ROOT, os.environ.get("PYTHONPATH")) if p),
        "SPARK_GRAFT_ARTIFACT_DIR": os.path.join(work, "artifacts"),
        "SPARK_LOCAL_DIRS": os.path.join(work, "spark-local"),
        "TMPDIR": tmp,
        # no JVM performance-data file under the system temp directory
        "JAVA_TOOL_OPTIONS": "-XX:-UsePerfData",
    })
    return {
        "spark.ui.showConsoleProgress": "false",
        "spark.local.dir": os.path.join(work, "spark-local"),
        "spark.sql.warehouse.dir": os.path.join(work, "warehouse"),
        "spark.driver.extraJavaOptions": f"-Djava.io.tmpdir={tmp} -Dderby.system.home={tmp}",
        # the traced run reads every job and stage of the run back
        "spark.ui.retainedJobs": "100000",
        "spark.ui.retainedStages": "100000",
        "spark.sql.ui.retainedExecutions": "100000",
    }


def stop_spark(spark) -> None:
    """Stop the session and wait for the JVM (and its Python workers)."""
    from pyspark import SparkContext

    gateway = SparkContext._gateway
    proc = getattr(gateway, "proc", None)
    spark.stop()
    gateway.shutdown()
    if proc is not None:
        proc.stdin.close()
        try:
            proc.wait(timeout=60)
        except subprocess.TimeoutExpired:
            proc.kill()
            proc.wait()


def main() -> int:
    ap = argparse.ArgumentParser(description=__doc__.split("\n\n")[0])
    ap.add_argument("--workload", required=True)
    ap.add_argument("--seed", type=int, required=True)
    ap.add_argument("--seconds", type=float, required=True)
    ap.add_argument("--trace", type=int, choices=(0, 1), default=0)
    args = ap.parse_args()
    if not os.path.isfile(PROGRAM):
        print(f"perfbench: {PROGRAM} is missing; run from a checkout of the repository",
              file=sys.stderr)
        return 2
    with open(os.path.join(ROOT, "BENCHMARK.json")) as fh:
        manifest = json.load(fh)
    sys.path.insert(0, ROOT)
    sys.path.insert(0, HERE)
    from workloads import WORKLOADS

    if args.workload not in WORKLOADS:
        print(f"perfbench: unknown workload {args.workload!r}; one of {sorted(WORKLOADS)}",
              file=sys.stderr)
        return 2
    work = os.path.join(HERE, ".work", f"{args.workload}-{args.seed}-{os.getpid()}")
    shutil.rmtree(work, ignore_errors=True)
    os.makedirs(work)
    try:
        return run(args, work, WORKLOADS[args.workload], manifest)
    finally:
        shutil.rmtree(work, ignore_errors=True)


def run(args, work: str, cls, manifest: dict) -> int:
    conf = pin_environment(work)
    import spans

    tracer = None
    if args.trace:
        tracer = spans.Tracer()
        tracer.install()
    from sap_data_pipeline_spark import session

    spark = session.get_spark(f"perfbench-{args.workload}", extra_conf=conf)
    try:
        spark.sparkContext.setLogLevel("ERROR")
        if tracer:
            tracer.attach(spark)
        wl = cls(spark, work, args.seed, tracer)
        wl.prepare()
        # codegen, JIT, first-run caches and cold artifact builds
        warm = [wl.round(k)["steps"] for k in range(wl.WARM_ROUNDS)]
        t_setup = time.perf_counter()
        setup_s = t_setup - T_START
        setup = {"t": (T_START, t_setup), "jobs": (0, tracer.next_job() if tracer else 0)}

        rounds, t0 = [], time.perf_counter()
        # traced rounds alternate with untraced ones
        min_rounds = max(wl.MIN_ROUNDS, 2 if tracer else 1)
        while len(rounds) < min_rounds or time.perf_counter() - t0 < args.seconds:
            traced = tracer is not None and len(rounds) % 2 == 1
            if tracer:
                tracer.enabled = traced
            job0 = tracer.next_job() if tracer else 0
            r0 = time.perf_counter()
            r = wl.round(wl.WARM_ROUNDS + len(rounds))
            r1 = time.perf_counter()
            r.update(traced=traced, wall_s=r1 - r0, t=(r0, r1),
                     jobs=(job0, tracer.next_job() if tracer else 0))
            rounds.append(r)
        extra = None
        if tracer and wl.layer_only:
            # a warm-up pass untraced, then the measured one
            tracer.enabled = False
            wl.layer_only(0)
            tracer.enabled = True
            tracer.sql_mark()
            b0, job0 = time.perf_counter(), tracer.next_job()
            wl.layer_only(1)
            extra = {"t": (b0, time.perf_counter()), "jobs": (job0, tracer.next_job()),
                     "python": tracer.python_workers()}
        if tracer:
            tracer.enabled = False
        wl.check()
        layers = None
        if tracer:
            values, layers = spans.layer_metrics(spark, tracer, rounds, setup, extra)
            values.update(wl.layer([r for r in rounds if r["traced"]]))
    finally:
        stop_spark(spark)

    named = wl.named(rounds)
    for name, ok, detail in wl.checks:
        print(f"check {'ok  ' if ok else 'FAIL'} {name}: {detail}")
    for name, v in named.items():
        print(f"metric {name} = {v:.6g}")
    os.makedirs(os.path.join(HERE, "out"), exist_ok=True)
    with open(os.path.join(HERE, "out", f"{args.workload}-seed{args.seed}-trace{args.trace}.json"),
              "w") as fh:
        json.dump({"workload": args.workload, "seed": args.seed, "setup_s": setup_s,
                   "warm_steps": warm, "steps": [r["steps"] for r in rounds],
                   "named": named, "checks": wl.checks, "failed_steps": wl.failed,
                   "catalog": wl.catalog, "layers": layers}, fh, indent=1)

    if tracer:
        print(f"dominant layer: {layers['dominant']}")
        wanted = manifest["per_layer"]
    else:
        wanted = manifest["end_to_end"]
        values = {"round_s": statistics.median(sum(s for _, s in r["steps"]) for r in rounds),
                  "setup_s": setup_s}
    failed_checks = sum(1 for c in wl.checks if not c[1])
    print(json.dumps({
        "correct": not failed_checks and not wl.failed,
        "attempted": wl.attempted + len(wl.checks),
        "failed": len(wl.failed) + failed_checks,
        "metrics": {m["name"]: {"value": values.get(m["name"], 0.0), "unit": m["unit"]}
                    for m in wanted},
    }))
    return 0


if __name__ == "__main__":
    sys.exit(main())
