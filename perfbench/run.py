"""Benchmark entry point.

    python3 perfbench/run.py --workload stream_recommend --seed 1 --seconds 10 --trace 0

Run from the root of a checkout. Generates the workload's inputs from
``--seed``, sets up, measures for ``--seconds``, checks the outputs and
prints one JSON line last: ``{"correct", "attempted", "failed",
"metrics"}`` with the end-to-end metrics (``--trace 0``) or the
per-layer metrics of a traced run (``--trace 1``). Every file it writes
stays under ``.perfbench/`` in the checkout; the run's work dir
(inputs, checkpoints, sink, warehouse, Spark scratch) is removed at
exit and traced runs leave their spans in ``.perfbench/traces/``.
"""

from __future__ import annotations

import argparse
import dataclasses
import hashlib
import json
import os
import shutil
import signal
import statistics
import subprocess
import sys
import tempfile
import time

ROOT = os.path.dirname(os.path.dirname(os.path.abspath(__file__)))
PACKAGE = "spark_streaming_kafka_spark"

END_TO_END = {"latency_p50_ms": "ms", "latency_p95_ms": "ms", "setup_s": "s"}
#: What ``setup_s`` adds up (a part a workload does not have is 0).
SETUP_PARTS = ("setup.session_s", "setup.inputs_s", "setup.etl_s", "setup.train_s",
               "setup.warmup_s")

#: Healthy fixed-work probe times on the 4-core reference box
#: (ROADMAP: md5 61 ms, matmul 194 ms). A run whose probes read over
#: twice these both before and after it is labelled contended. (The
#: load average is printed but not judged: it counts the run's own
#: Spark threads.)
BOX_REF_MS = {"md5_32mb": 61.0, "matmul_512": 194.0}


def per_layer_units(mix) -> dict[str, str]:
    units = {}
    for p in ("latestOffset", "getBatch", "queryPlanning", "addBatch", "walCommit",
              "commitOffsets", "triggerExecution"):
        units[f"stream.{p}_ms"] = "ms"
    units.update({
        "stream.batches": "count", "stream.events_per_batch_p50": "count",
        "stream.queue_wait_p50_ms": "ms", "source.generator_lag_max_ms": "ms",
        "recommend_stream.process_batch_ms": "ms", "recommend.add_ratings_ms": "ms",
        "recommend.serve_plan_ms": "ms", "recommend.retrain_ms": "ms",
        "recommend.retrains": "count", "recommend.history_rows": "count",
        "recommend.served_users_ratio": "ratio",
        "sink.write_ms": "ms", "sink.rows": "count",
        "serve.plan_ms": "ms", "serve.collect_ms": "ms", "serve.jobs_per_request": "count",
    })
    units.update({f"analytics.{q}_s": "s" for q in mix})
    units.update({"analytics.build_s": "s", "analytics.action_s": "s",
                  "analytics.build_jobs": "count"})
    units.update({
        "spark.jobs": "count", "spark.stages": "count", "spark.tasks": "count",
        "spark.failed_tasks": "count", "spark.executor_run_ms": "ms",
        "spark.executor_cpu_ms": "ms", "spark.jvm_gc_ms": "ms",
        "spark.shuffle_read_bytes": "bytes", "spark.shuffle_write_bytes": "bytes",
        "spark.spill_bytes": "bytes", "spark.python_worker_ms": "ms",
    })
    units.update({
        "setup.session_s": "s", "setup.inputs_s": "s", "setup.etl_s": "s",
        "setup.train_s": "s", "setup.warmup_s": "s", "mem.driver_peak_rss_mb": "MB",
        "box.cores": "count", "box.md5_32mb_ms": "ms", "box.matmul_512_ms": "ms",
        "box.contended": "count",
        "trace.latency_p50_ms": "ms", "trace.spans": "count",
    })
    return units


def box_probe() -> dict[str, float]:
    """Fixed single-core work (bench.py's calibration probe): 32 MB md5
    and eight 512x512 matmuls. Slow readings mean a contended box."""
    import numpy as np

    buf = b"\xab" * (32 << 20)
    t0 = time.perf_counter()
    hashlib.md5(buf).hexdigest()
    md5 = (time.perf_counter() - t0) * 1000.0
    a = np.ones((512, 512))
    t0 = time.perf_counter()
    for _ in range(8):
        a = a @ a % 7.0
    mm = (time.perf_counter() - t0) * 1000.0
    return {"md5_32mb": md5, "matmul_512": mm, "load1": os.getloadavg()[0]}


def contended(box: dict[str, float]) -> bool:
    """``box`` holds the faster of the before/after probe readings."""
    return any(box[k] > 2 * ref for k, ref in BOX_REF_MS.items())


def jvm_peak_rss_mb(spark) -> float:
    pid = spark._jvm.java.lang.ProcessHandle.current().pid()
    with open(f"/proc/{pid}/status") as f:
        for line in f:
            if line.startswith("VmHWM:"):
                return int(line.split()[1]) / 1024.0
    return 0.0


def pin_environment(work: str) -> int:
    """Cores, worker import path and scratch dirs, set before the JVM
    starts. Returns the core count N used for ``local[N]``."""
    cpus = len(os.sched_getaffinity(0))
    tmp = os.path.join(work, "tmp")
    os.makedirs(tmp)
    os.environ["SPARK_GRAFT_CPUS"] = str(cpus)
    # python workers import the package by name (mapInPandas & co)
    os.environ["PYTHONPATH"] = os.pathsep.join(
        p for p in (ROOT, os.environ.get("PYTHONPATH")) if p)
    os.environ["PYSPARK_PYTHON"] = sys.executable
    os.environ["SPARK_LOCAL_DIRS"] = os.path.join(work, "spark-local")
    os.environ["TMPDIR"] = tmp
    os.environ.setdefault("SPARK_GRAFT_DRIVER_MEM", "3g")
    tempfile.tempdir = tmp
    return cpus


def stop_jvm(spark) -> None:
    """Stop Spark, then the gateway JVM, and wait for it to exit."""
    from pyspark import SparkContext

    spark.stop()
    gw = SparkContext._gateway
    if gw is None:
        return
    proc = getattr(gw, "proc", None)
    gw.shutdown()
    if proc is not None:
        proc.stdin.close()  # the gateway exits when its stdin closes
        try:
            proc.wait(timeout=60)
        except subprocess.TimeoutExpired:
            proc.kill()
            proc.wait()
    SparkContext._gateway = None
    SparkContext._jvm = None


@dataclasses.dataclass
class Measured:
    cpus: int
    res: object  # workloads.Result
    setup: dict[str, float]
    box: dict[str, float]
    rss_mb: float


def measure(workload: str, seed: int, seconds: float, trace: bool, work: str,
            sf: float | None = None, **kwargs) -> Measured:
    """Generate inputs, start Spark, run the workload in ``work`` and
    stop Spark again."""
    from perfbench import workloads as wl

    cpus = pin_environment(work)
    probe0 = box_probe()
    t0 = time.perf_counter()
    data_dir = wl.inputs(workload, os.path.join(work, "data"), seed, sf)
    inputs_s = time.perf_counter() - t0
    t0 = time.perf_counter()
    spark = wl.start_session(cpus, work, ui=trace)
    session_s = time.perf_counter() - t0
    try:
        res = wl.WORKLOADS[workload](spark, work, seed, seconds, trace, data_dir, **kwargs)
        rss = jvm_peak_rss_mb(spark)
    finally:
        stop_jvm(spark)
    probe1 = box_probe()
    if not res.latencies_ms:
        raise RuntimeError("no latency samples in the measured window")
    setup = {"setup.session_s": session_s, "setup.inputs_s": inputs_s,
             "setup.etl_s": 0.0, "setup.train_s": 0.0, **res.setup}
    box = {k: min(probe0[k], probe1[k]) for k in probe0}
    return Measured(cpus, res, setup, box, rss)


def report(m: Measured, trace: bool) -> dict:
    """The result object: end-to-end metrics, or with ``trace`` the
    per-layer ones (0 for a layer the workload does not run)."""
    from perfbench import workloads as wl

    res, lat = m.res, m.res.latencies_ms
    if not trace:
        units = END_TO_END
        metrics = {
            "latency_p50_ms": statistics.median(lat),
            "latency_p95_ms": wl.pct(lat, 95),
            "setup_s": sum(m.setup[k] for k in SETUP_PARTS),
        }
    else:
        units = per_layer_units(wl.ANALYTICS_MIX)
        metrics = {k: 0.0 for k in units}
        metrics.update({k: v for k, v in m.setup.items() if k in units})
        metrics.update(res.layers)
        metrics.update({
            "mem.driver_peak_rss_mb": m.rss_mb,
            "box.cores": float(m.cpus),
            "box.md5_32mb_ms": m.box["md5_32mb"],
            "box.matmul_512_ms": m.box["matmul_512"],
            "box.contended": float(contended(m.box)),
            "trace.latency_p50_ms": statistics.median(lat),
            "trace.spans": float(len(res.tracer.spans)),
        })
    return {
        "correct": res.failed == 0,
        "attempted": res.attempted,
        "failed": res.failed,
        "metrics": {k: {"value": float(metrics[k]), "unit": u} for k, u in units.items()},
    }


def main(argv=None) -> int:
    ap = argparse.ArgumentParser(description=__doc__.splitlines()[0])
    ap.add_argument("--workload", required=True,
                    choices=["stream_recommend", "analytics_mix"])
    ap.add_argument("--seed", type=int, required=True)
    ap.add_argument("--seconds", type=float, required=True)
    ap.add_argument("--trace", type=int, choices=[0, 1], default=0)
    args = ap.parse_args(argv)
    if not os.path.isdir(os.path.join(ROOT, PACKAGE)):
        print(f"perfbench: no {PACKAGE}/ package next to perfbench/ in {ROOT}",
              file=sys.stderr)
        return 2
    sys.path.insert(0, ROOT)
    # on SIGTERM unwind normally, so Spark is stopped and the work dir removed
    signal.signal(signal.SIGTERM, lambda *_: sys.exit(143))
    base = os.path.join(ROOT, ".perfbench")
    os.makedirs(base, exist_ok=True)
    work = tempfile.mkdtemp(prefix="work-", dir=base)
    try:
        m = measure(args.workload, args.seed, args.seconds, bool(args.trace), work)
    finally:
        shutil.rmtree(work, ignore_errors=True)
    if args.trace:
        traces = os.path.join(base, "traces")
        os.makedirs(traces, exist_ok=True)
        m.res.tracer.write(os.path.join(traces, f"{args.workload}-seed{args.seed}.jsonl"))
    print(f"# {args.workload} seed={args.seed} local[{m.cpus}] "
          f"samples={len(m.res.latencies_ms)} "
          f"contended={str(contended(m.box)).lower()} "
          f"md5_32mb_ms={m.box['md5_32mb']:.1f} matmul_512_ms={m.box['matmul_512']:.1f} "
          f"load1={m.box['load1']:.2f}")
    print(json.dumps(report(m, bool(args.trace))))
    return 0


if __name__ == "__main__":
    sys.exit(main())
