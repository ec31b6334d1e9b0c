"""Benchmark of the extraction and evaluation engine.

    python3 perfbench/run.py --workload extract_html --seed 1 --seconds 10 --trace 0

Run from the root of a checkout.  One driver process runs one job at a
time (a closed loop with one client) on a local[nproc] session.  Inputs
come from --seed and are generated once per (workload, seed, size),
outside every timed metric.

--trace 0 prints the end-to-end metrics: setup_s (median of SETUP_REPS
set-ups, each a fresh SparkContext through the result of one whole job;
the first also launches the JVM), items_per_s and cpu_s_per_1k_items
(medians over the jobs of the --seconds window), and worker_peak_rss_mb.
--trace 1 runs the same window, then the same jobs again with Spark's
event log on, steps the plan's stages, times single-core rooflines, and
prints the per-layer metrics; the full ledger goes to a file under
.perfbench_work/.  Both modes check the program's outputs.

The last stdout line is one JSON object: correct, attempted, failed,
metrics.  See perfbench/README.md.
"""

from __future__ import annotations

import argparse
import json
import os
import shutil
import signal
import statistics
import sys
import time

ROOT = os.path.dirname(os.path.dirname(os.path.abspath(__file__)))
sys.path.insert(0, ROOT)

from perfbench import procstat, trace  # noqa: E402
from perfbench.workloads import WORKLOADS  # noqa: E402

SETUP_REPS = 3
DRIVER_MEMORY = "2g"
TRACED_JOBS = 2
E2E_UNITS = {"setup_s": "s", "items_per_s": "1/s", "cpu_s_per_1k_items": "s",
             "worker_peak_rss_mb": "MB"}


def settings(work: str, traced: bool) -> dict:
    cores = len(os.sched_getaffinity(0))
    return {
        "nproc": cores,
        "cores": cores,
        "shuffle_partitions": cores,
        "driver_memory": DRIVER_MEMORY,
        "event_log": "traced phase only" if traced else "off",
        "pythonpath": ROOT,
        "loadavg_1m": os.getloadavg()[0],
        "spark_local_dir": os.path.join(work, "spark-local"),
    }


def start_session(cfg: dict, work: str, event_log_dir: str | None):
    from deepseek_ocr_omnidocbench_spark.session import get_spark

    tmp = os.path.join(work, "tmp")
    conf = {
        "spark.driver.memory": cfg["driver_memory"],
        "spark.local.dir": cfg["spark_local_dir"],
        "spark.driver.extraJavaOptions": "-Djava.io.tmpdir=%s -XX:-UsePerfData" % tmp,
        "spark.eventLog.enabled": "true" if event_log_dir else "false",
    }
    if event_log_dir:
        os.makedirs(event_log_dir, exist_ok=True)
        # no zstd module for Python here, so the log must be plain JSON
        conf.update({"spark.eventLog.dir": event_log_dir,
                     "spark.eventLog.compress": "false"})
    return get_spark(app_name="perfbench", cores=cfg["cores"],
                     shuffle_partitions=cfg["shuffle_partitions"], extra_conf=conf)


def setup(wl, cfg: dict, work: str, event_log_dir: str | None = None,
          reps: int = SETUP_REPS):
    """-> (session, [set-up seconds]).  Each rep stops the previous
    SparkContext (not timed) and times a fresh one through the result of
    one whole job.  The JVM outlives the reps, so they also warm its JIT
    for the timed window (the first two jobs in a JVM run measurably
    slower)."""
    spark, secs = None, []
    for _ in range(reps):
        if spark is not None:
            spark.stop()
        t0 = time.perf_counter()
        spark = start_session(cfg, work, event_log_dir)
        wl.job(spark)
        secs.append(time.perf_counter() - t0)
    return spark, secs


def measure(wl, spark, seconds: float, windows: list | None = None) -> list[dict]:
    """Run whole jobs back to back until ``seconds`` have passed."""
    me = os.getpid()
    samples = []
    t_end = time.perf_counter() + seconds
    while not samples or time.perf_counter() < t_end:
        c0, w0, t0 = procstat.cpu_seconds(me), time.time(), time.perf_counter()
        wl.job(spark)
        wall = time.perf_counter() - t0
        cpu = procstat.cpu_seconds(me) - c0
        if windows is not None:
            windows.append((w0, time.time()))
        driver_mb, worker_mb = procstat.python_peak_rss_mb(me)
        samples.append({"wall_s": wall, "cpu_s": cpu,
                        "driver_rss_mb": driver_mb, "worker_rss_mb": worker_mb})
    return samples


def e2e_metrics(wl, setup_secs: list[float], samples: list[dict]) -> dict:
    return {
        "setup_s": statistics.median(setup_secs),
        "items_per_s": statistics.median(wl.size / s["wall_s"] for s in samples),
        "cpu_s_per_1k_items": statistics.median(
            1000.0 * s["cpu_s"] / wl.size for s in samples),
        "worker_peak_rss_mb": max(s["worker_rss_mb"] for s in samples),
    }


def shutdown(spark) -> None:
    """Stop Spark, end the JVM and wait for every descendant to exit."""
    from pyspark import SparkContext

    if spark is not None:
        spark.stop()
    gw = SparkContext._gateway
    if gw is not None:
        gw.shutdown()
        proc = getattr(gw, "proc", None)
        if proc is not None:
            proc.stdin.close()  # the gateway JVM exits on stdin EOF
            proc.wait(timeout=60)
        SparkContext._gateway = SparkContext._jvm = None
    deadline = time.time() + 30
    while len(procstat.tree_pids(os.getpid())) > 1:
        if time.time() > deadline:
            for pid in procstat.tree_pids(os.getpid())[1:]:
                os.kill(pid, signal.SIGKILL)
        time.sleep(0.2)


def traced(wl, spark, cfg: dict, work: str, seed: int,
           untraced: list[dict]) -> tuple[dict, dict, tuple[int, int]]:
    """Rerun the jobs with the event log on, step the plan, and build the
    ledger.  -> (per-layer metrics, ledger, (checked, failed) of the
    stepping's own output checks)."""
    log_dir = os.path.join(work, "eventlog", "%s-s%d" % (wl.name, seed))
    shutil.rmtree(log_dir, ignore_errors=True)
    spark.stop()
    spark, _ = setup(wl, cfg, work, event_log_dir=log_dir, reps=1)
    windows: list = []
    samples = [s for _ in range(TRACED_JOBS) for s in measure(wl, spark, 0, windows)]
    tracer = trace.Tracer()
    checked = wl.step(spark, tracer, work)
    spark.stop()  # flushes and closes the event log

    events = trace.read_event_log(log_dir)
    layer = trace.engine_metrics(events, windows)
    layer.update(tracer.layer_metrics())
    for s in tracer.spans:
        if s["jobs_count"]:
            n = len(trace.jobs_in(events, s["start"], s["end"]))
            layer[s["jobs_count"]] = layer.get(s["jobs_count"], 0) + n
    layer.update(trace.rooflines(seed))
    traced_wall = statistics.median(s["wall_s"] for s in samples)
    untraced_wall = statistics.median(s["wall_s"] for s in untraced)
    layer["trace.overhead_s"] = traced_wall - untraced_wall
    ledger = {"traced_jobs": samples, "spans": tracer.spans,
              "traced_wall_s": traced_wall, "untraced_wall_s": untraced_wall,
              "step_checked": checked}
    return layer, ledger, checked


def main(argv: list[str] | None = None) -> int:
    ap = argparse.ArgumentParser(description=__doc__.split("\n\n")[0])
    ap.add_argument("--workload", required=True, choices=sorted(WORKLOADS))
    ap.add_argument("--seed", type=int, required=True)
    ap.add_argument("--seconds", type=float, required=True)
    ap.add_argument("--trace", type=int, choices=(0, 1), default=0)
    args = ap.parse_args(argv)

    # fail before any output when the package is not beside perfbench/
    import deepseek_ocr_omnidocbench_spark  # noqa: F401

    work = os.path.join(ROOT, ".perfbench_work")
    for d in ("tmp", "spark-local", "runs"):
        os.makedirs(os.path.join(work, d), exist_ok=True)
    # workers inherit the environment: they need the package importable
    # and must keep their temp files inside the checkout
    os.environ["PYTHONPATH"] = os.pathsep.join(
        p for p in (ROOT, os.environ.get("PYTHONPATH")) if p)
    os.environ["TMPDIR"] = os.path.join(work, "tmp")
    os.environ["SPARK_LOCAL_DIRS"] = os.path.join(work, "spark-local")

    cls = WORKLOADS[args.workload]
    wl = cls(ROOT, args.seed, len(os.sched_getaffinity(0)))
    cfg = settings(work, traced=bool(args.trace))
    print("settings " + json.dumps(cfg, sort_keys=True), flush=True)

    spark = None
    phases = {}
    t0 = time.perf_counter()
    try:
        # a traced run reports no setup_s; one set-up keeps it inside the
        # per-run time limit
        spark, setup_secs = setup(wl, cfg, work, reps=1 if args.trace else SETUP_REPS)
        phases["setup_s"] = time.perf_counter() - t0
        samples = measure(wl, spark, args.seconds)
        metrics = e2e_metrics(wl, setup_secs, samples)
        phases["window_s"] = time.perf_counter() - t0 - sum(phases.values())
        attempted, failed = wl.check(spark)
        phases["check_s"] = time.perf_counter() - t0 - sum(phases.values())
        record = {"workload": wl.name, "seed": args.seed, "items": wl.size,
                  "settings": cfg, "setup_s": setup_secs, "jobs": samples,
                  "e2e": metrics, "attempted": attempted, "failed": failed,
                  "phases": phases}
        if args.trace:
            layers, record["ledger"], (n, bad) = traced(
                wl, spark, cfg, work, args.seed, samples)
            record["layers"] = layers
            attempted, failed = attempted + n, failed + bad
            record.update(attempted=attempted, failed=failed)
            metrics = {k: layers[k] for k in trace.PER_LAYER_UNITS}
            spark = None
            units = trace.PER_LAYER_UNITS
            phases["traced_s"] = time.perf_counter() - t0 - sum(phases.values())
        else:
            units = E2E_UNITS
    finally:
        shutdown(spark)
    phases["shutdown_s"] = time.perf_counter() - t0 - sum(phases.values())

    path = os.path.join(work, "runs", "%s-s%d-t%d.json" % (wl.name, args.seed, args.trace))
    with open(path, "w") as f:
        json.dump(record, f, indent=1, default=str)
    print("ledger " + path, file=sys.stderr)
    print(json.dumps({"correct": failed == 0, "attempted": attempted,
                      "failed": failed,
                      "metrics": {k: {"value": v, "unit": units[k]}
                                  for k, v in metrics.items()}}))
    return 0


if __name__ == "__main__":
    sys.exit(main())
