#!/usr/bin/env python3
"""Benchmark entry point.

    python3 perfbench/run.py --workload NAME --seed N --seconds S --trace 0|1

Run from the repository root.  The run generates its inputs from the
seed (cached per seed), sets the session up several times and keeps the
median set-up time, measures whole passes of the workload for about
``--seconds`` seconds, checks every output off the clock, and prints
one JSON object as its last line of standard output:

    {"correct": ..., "attempted": ..., "failed": ..., "metrics": {...}}

With ``--trace 0`` the metrics are the end-to-end metrics named in
BENCHMARK.json; with ``--trace 1`` they are its per-layer metrics, and
the spans are written to ``perfbench/.work/trace/``.  ``correct`` is
false when any output disagrees with its oracle or with the generator,
and in a traced run also when a layer check fails (the workload no
longer loads the layer it was chosen for); ``failed`` also counts
operations that raised and events a subscription never delivered.
"""

from __future__ import annotations

import argparse
import json
import os
import shutil
import sys
import tempfile
import time

HERE = os.path.dirname(os.path.abspath(__file__))
ROOT = os.path.dirname(HERE)
WORK = os.path.join(HERE, ".work")
SETUPS = 3


def _configure_environment() -> None:
    """Keep every file the run writes inside the work directory, pin the
    core count, and let Python workers import the package."""
    import workloads

    tmp = os.path.join(WORK, "tmp")
    shutil.rmtree(tmp, ignore_errors=True)
    os.makedirs(tmp)
    env = os.environ
    env["PYTHONPATH"] = os.pathsep.join(p for p in (ROOT, env.get("PYTHONPATH")) if p)
    env["PYSPARK_PYTHON"] = sys.executable
    env["SPARK_GRAFT_CPUS"] = str(workloads.SPARK_CORES)
    env["SPARK_LOCAL_DIRS"] = os.path.join(WORK, "spark-local")
    env["SPARK_DRIVER_MEM"] = "2g"
    env["TMPDIR"] = tmp
    # every JVM, the launcher's included: temp files here, no /tmp/hsperfdata
    env["JAVA_TOOL_OPTIONS"] = f"-XX:-UsePerfData -Djava.io.tmpdir={tmp}"
    env.pop("SPARK_GRAFT_PLAIN_SESSION", None)
    env["SPARK_GRAFT_EXTRA_CONF"] = ";".join([
        "spark.ui.showConsoleProgress=false",
        f"spark.sql.warehouse.dir={os.path.join(WORK, 'warehouse')}",
        "spark.ui.retainedStages=5000",
        "spark.ui.retainedJobs=5000",
    ])
    tempfile.tempdir = None


def _shutdown(spark) -> None:
    """Stop the session and wait for the JVM process to end."""
    from pyspark import SparkContext

    gateway = SparkContext._gateway
    spark.stop()
    if gateway is None:
        return
    proc = getattr(gateway, "proc", None)
    gateway.shutdown()
    if proc is not None:
        if proc.stdin:
            proc.stdin.close()
        try:
            proc.wait(timeout=60)
        except Exception:
            proc.kill()
            proc.wait()


def run(workload: str, seed: int, seconds: float, trace: bool) -> dict:
    t_run = time.perf_counter()
    import workloads
    from meters import Tracer, median, peak_rss_mb

    spec = json.load(open(os.path.join(ROOT, "BENCHMARK.json")))
    wl = workloads.make(workload)
    wl.prepare(seed, os.path.join(WORK, "inputs"))
    _configure_environment()
    from env_event_stream_spark.session import get_spark

    prepare_s = time.perf_counter() - t_run

    tracer = Tracer(trace)
    stats = workloads.Stats()
    setups, sessions, warmups = [], [], []
    spark = None
    for _ in range(SETUPS):
        if spark is not None:
            wl.stop()
            spark.stop()
        t0 = time.perf_counter()
        spark = get_spark("perfbench")
        t1 = time.perf_counter()
        tracer.attach(spark)
        t2 = time.perf_counter()
        wl.start(spark, tracer, stats)
        wl.warmup()
        t3 = time.perf_counter()
        sessions.append(t1 - t0)
        warmups.append(t3 - t2)
        setups.append(t1 - t0 + t3 - t2)

    if trace:
        tracer.status.since()  # the set-ups' stages are no timed call's
    with tracer.span(workload):
        pass_s: list[float] = []
        t_start = time.perf_counter()
        while True:
            elapsed = time.perf_counter() - t_start
            # start another whole pass only if it should end in time
            if pass_s and elapsed + median(pass_s) > seconds:
                break
            p0 = time.perf_counter()
            wl.timed_pass()
            pass_s.append(time.perf_counter() - p0)
    measured_s = time.perf_counter() - t_start

    t_check = time.perf_counter()
    wl.check()
    check_s = time.perf_counter() - t_check
    batch_s = wl.batch_s()
    py_mb, jvm_mb = peak_rss_mb(spark)
    rss = py_mb + jvm_mb
    layers = wl.layers() if trace else {}
    wl.stop()
    tracer.close()
    _shutdown(spark)

    error_rate = stats.failed / max(1, stats.attempted)
    e2e = {"setup_s": median(setups), "batch_s": batch_s, "peak_rss_mb": rss}
    print(f"workload {workload} seed {seed}: {len(pass_s)} passes in {measured_s:.2f} s, "
          f"{stats.attempted} operations, {stats.failed} failed")
    print(f"  phases: prepare {prepare_s:.1f} s, set-ups "
          + " ".join(f"{v:.1f}" for v in setups)
          + f" s, measure {measured_s:.1f} s, check {check_s:.1f} s, "
          f"total {time.perf_counter() - t_run:.1f} s")
    for line in wl.report():
        print(line)
    for what in stats.wrong + stats.errors:
        print(f"  failure: {what}")
    print(f"  error_rate = {error_rate:.4f}")
    print(f"  peak_rss_mb = {rss:.1f} (python {py_mb:.1f}, jvm {jvm_mb:.1f})")

    if trace:
        layers.update({
            "session.get_spark_s": median(sessions),
            "session.warmup_s": median(warmups),
            "error_rate": error_rate,
            "trace.batch_s": batch_s,
        })
        if batch_s:
            layers["build.share"] = layers.get("build.s", 0.0) / batch_s
            layers["exec.share"] = layers.get("exec.s", 0.0) / batch_s
        tracer.write(os.path.join(WORK, "trace", f"{workload}-seed{seed}.json"))
        wanted = spec["per_layer"]
        values = layers
        off_layer = _layer_checks(workload, layers)
    else:
        off_layer = []
        wanted = spec["end_to_end"]
        values = e2e
    metrics = {
        m["name"]: {"value": float(values.get(m["name"], 0.0)), "unit": m["unit"]}
        for m in wanted
    }
    for name, m in metrics.items():
        print(f"  {name} = {m['value']:.6g} {m['unit']}")
    return {
        "correct": not stats.wrong and not off_layer,
        "attempted": stats.attempted,
        "failed": stats.failed,
        "metrics": metrics,
    }


LAYER_CHECKS = {
    # the layer each workload was chosen to load
    "catalog_iterative": [("build.share", ">=", 0.75)],
    "events_scan": [("exec.share", ">=", 0.75)],
    "broker_pubsub": [("dlq.add_calls", ">", 0.0), ("stream.batches", ">", 0.0)],
}


def _layer_checks(workload: str, layers: dict) -> list[str]:
    """Print each layer check; return the ones that failed.  A traced run
    whose workload no longer loads its layer reports ``correct: false``:
    the workload then measures something other than what it is for."""
    failed = []
    for name, op, bound in LAYER_CHECKS.get(workload, []):
        v = layers.get(name, 0.0)
        ok = v >= bound if op == ">=" else v > bound
        print(f"  layer check {name} {op} {bound}: {v:.4g} {'PASS' if ok else 'FAIL'}")
        if not ok:
            failed.append(name)
    return failed


def main(argv=None) -> int:
    ap = argparse.ArgumentParser(description=__doc__.split("\n\n")[0])
    ap.add_argument("--workload", required=True)
    ap.add_argument("--seed", type=int, required=True)
    ap.add_argument("--seconds", type=float, required=True)
    ap.add_argument("--trace", type=int, choices=(0, 1), default=0)
    args = ap.parse_args(argv)

    if not os.path.isdir(os.path.join(ROOT, "env_event_stream_spark")):
        print(f"no env_event_stream_spark package under {ROOT}", file=sys.stderr)
        return 2
    sys.path[:0] = [HERE, ROOT]
    import workloads

    if args.workload not in workloads.WORKLOADS:
        print(f"unknown workload {args.workload!r}; one of {workloads.WORKLOADS}",
              file=sys.stderr)
        return 2
    result = run(args.workload, args.seed, args.seconds, bool(args.trace))
    print(json.dumps(result), flush=True)
    return 0


if __name__ == "__main__":
    sys.exit(main())
