"""End-to-end benchmark of the extraction job and the dedup operators.

Usage (from any directory):

    python3 perfbench/run.py --workload incremental_ingest --seed 1 \\
        --seconds 10 --trace 0

Workloads (see ``workloads.py``): ``incremental_ingest`` and
``corpus_dedup`` are the ones ``BENCHMARK.json`` lists; ``cold_ingest``
(one large fresh batch, default flags) runs the same way by hand.
Inputs are generated from ``--seed`` into ``perfbench/.cache`` before
timing starts; everything a run writes stays under ``perfbench/``.
Spark runs ``local[nproc]`` with the driver heap sized to the host.

A run sets up the session once (session start plus a discarded warm-up
pass), runs the workload's closed loop for a fixed number of batches or
passes sized by ``--seconds`` (about that long on a 4-core host), then
checks every output against its oracle, untimed. The last stdout
line is one JSON object: ``correct``, ``attempted``, ``failed`` and
``metrics`` (``--trace 0``: the end-to-end metrics; ``--trace 1``: the
per-layer metrics of ``layers.py``). The line before it stamps the host.
A failed check names itself on stderr and the exit code is 1.

``--trace 1`` turns Spark's event log on and runs the loop sized by half
of ``--seconds`` twice, each after a warm-up of its own: first with the
layer entry points wrapped, then without; the two walls of equal work
give the overhead of the spans (the event log is on for both).
"""

from __future__ import annotations

import argparse
import hashlib
import json
import os
import shutil
import signal
import subprocess
import sys
import time

HERE = os.path.dirname(os.path.abspath(__file__))
ROOT = os.path.dirname(HERE)
if sys.path and os.path.abspath(sys.path[0]) == HERE:
    sys.path[0] = ROOT  # import the benchmark as the ``perfbench`` package
else:
    sys.path.insert(0, ROOT)
PACKAGE = "resume_parser_service_spark"

E2E_UNITS = {"setup_s": "s", "py_rss_peak_mb": "MB",
             "docs_per_s": "docs/s", "cycle_s": "s"}


def _driver_memory() -> str:
    """A quarter of the host's memory, capped at the package's 24g."""
    with open("/proc/meminfo") as fh:
        kb = int(next(l for l in fh if l.startswith("MemTotal")).split()[1])
    return f"{max(1024, min(24 * 1024, kb // 4096))}m"


def _prepare_env(work: str) -> dict:
    """Point every path Spark and Python write to inside ``work`` and put
    the package on the Python workers' path (the JVM inherits this
    environment and hands PYTHONPATH to the workers it forks)."""
    tmp = os.path.join(work, "tmp")
    os.makedirs(tmp, exist_ok=True)
    os.environ["TMPDIR"] = tmp
    os.environ["SPARK_LOCAL_DIRS"] = os.path.join(work, "spark-local")
    path = os.environ.get("PYTHONPATH")
    os.environ["PYTHONPATH"] = ROOT + (os.pathsep + path if path else "")
    os.environ["SPARK_DRIVER_MEMORY"] = _driver_memory()
    # -XX:-UsePerfData: no hsperfdata file in the system temp directory
    return {"spark.ui.showConsoleProgress": "false",
            "spark.sql.warehouse.dir": os.path.join(work, "warehouse"),
            "spark.driver.extraJavaOptions":
                f"-Djava.io.tmpdir={tmp} -XX:-UsePerfData"}


def cpu_probe_s() -> float:
    """Wall of a fixed single-threaded CPU loop: read against other runs'
    stamps, it shows how fast the host was running at that moment."""
    t0 = time.perf_counter()
    digest = b""
    for _ in range(100_000):
        digest = hashlib.md5(digest).digest()
    return time.perf_counter() - t0


def _start(conf: dict):
    from resume_parser_service_spark.session import get_spark
    spark = get_spark(app_name="perfbench",
                      cores=len(os.sched_getaffinity(0)), extra_conf=conf)
    spark.sparkContext.setLogLevel("ERROR")
    return spark


def _shutdown() -> None:
    """Stop the session and the JVM it launched, and wait until the JVM
    and the Python workers it forked have all exited."""
    from pyspark import SparkContext
    from resume_parser_service_spark.session import stop_spark

    from perfbench.procmem import descendants, running
    stop_spark()
    gateway = SparkContext._gateway
    if gateway is None:
        return
    proc = getattr(gateway, "proc", None)
    workers = [p for p in descendants(os.getpid())
               if proc is None or p != proc.pid]
    gateway.shutdown()
    SparkContext._gateway = SparkContext._jvm = None
    if proc is not None:
        proc.stdin.close()  # the JVM exits when its stdin closes
        try:
            proc.wait(timeout=30)
        except subprocess.TimeoutExpired:
            proc.kill()
            proc.wait()
    # the JVM's Python workers exit once it is gone
    deadline = time.monotonic() + 30
    while workers and time.monotonic() < deadline:
        workers = [p for p in workers if running(p)]
        time.sleep(0.05)
    for pid in workers:
        try:
            os.kill(pid, signal.SIGKILL)
        except ProcessLookupError:
            pass


def main(argv=None) -> int:
    ap = argparse.ArgumentParser(description=__doc__.split("\n")[0])
    ap.add_argument("--workload", required=True)
    ap.add_argument("--seed", type=int, required=True)
    ap.add_argument("--seconds", type=float, required=True)
    ap.add_argument("--trace", type=int, choices=(0, 1), default=0)
    args = ap.parse_args(argv)

    if not os.path.isdir(os.path.join(ROOT, PACKAGE)):
        print(f"perfbench: package {PACKAGE!r} not found next to "
              f"{HERE}; run from a full checkout", file=sys.stderr)
        return 2
    load_start = os.getloadavg()
    probe_start = cpu_probe_s()
    work = os.path.join(HERE, ".work", f"run-{os.getpid()}")
    cache = os.path.join(HERE, ".cache")
    conf = _prepare_env(work)
    try:
        return _run(args, work, cache, conf, load_start, probe_start)
    finally:
        _shutdown()
        shutil.rmtree(work, ignore_errors=True)


def _run(args, work, cache, conf, load_start, probe_start) -> int:
    from perfbench import workloads
    from perfbench.procmem import RssSampler

    wl_cls = workloads.WORKLOADS.get(args.workload)
    if wl_cls is None:
        print(f"perfbench: unknown workload {args.workload!r}; choose "
              f"from {sorted(workloads.WORKLOADS)}", file=sys.stderr)
        return 2
    wl = wl_cls(args.seconds / 2 if args.trace else args.seconds)
    t0 = time.perf_counter()
    keep = wl.prepare(cache, args.seed)
    inputs_s = time.perf_counter() - t0
    from perfbench import inputs
    inputs.prune_cache(cache, keep)

    trace_dir = os.path.join(work, "eventlog")
    checks = workloads.Checks()

    def timed(tracer):
        loop = workloads.Loop("traced" if tracer else "plain", tracer, checks)
        with RssSampler() as rss:
            wl.timed(spark, work, loop)
        return loop, rss

    # set-up: session start plus the discarded warm-up pass
    extra = {}
    if args.trace:
        os.makedirs(trace_dir)
        extra = {"spark.eventLog.enabled": "true",
                 "spark.eventLog.dir": "file://" + trace_dir}
    t0 = time.perf_counter()
    spark = _start({**conf, **extra})
    start_s = time.perf_counter() - t0
    t0 = time.perf_counter()
    wl.warmup(spark, work)
    warmup_s = time.perf_counter() - t0

    if args.trace:
        # the traced loop runs where the untraced run's loop runs (right
        # after the set-up); the same work without the span wrappers,
        # after a warm-up of its own, then gives their overhead
        from perfbench.tracing import Tracer, install
        tracer = Tracer()
        restore = install(tracer)
        try:
            loop, rss = timed(tracer)
        finally:
            restore()
        wl.warmup(spark, work)
        base_loop, _rss = timed(None)
    else:
        loop, rss = timed(None)
    wl.check(spark, loop)

    if args.trace:
        from perfbench.layers import (LAYER_METRICS, kernel_sample,
                                      layer_metrics)
        from perfbench.eventlog import find_logs, fold_events, read_events
        from resume_parser_service_spark.session import stop_spark
        kernels = kernel_sample(wl.sample_ids())
        stop_spark()  # flushes and closes the event log
        jobs, execs = fold_events(read_events(find_logs(trace_dir)[-1]))
        extras = {"session.start_s": start_s,
                  "session.warmup_s": warmup_s,
                  "mem.jvm_rss_peak_mb": rss.peak_jvm / 2**20,
                  "mem.pyworkers_rss_peak_mb": rss.peak_workers / 2**20,
                  "trace.overhead_frac":
                      wl.e2e(loop)["cycle_s"] / wl.e2e(base_loop)["cycle_s"]
                      - 1.0,
                  **kernels}
        values = layer_metrics(wl, loop, tracer, jobs, execs, extras)
        units = dict(LAYER_METRICS)
    else:
        values = {"setup_s": start_s + warmup_s,
                  "py_rss_peak_mb": rss.peak_python / 2**20,
                  **wl.e2e(loop)}
        units = E2E_UNITS

    host = {"nproc": len(os.sched_getaffinity(0)),
            "loadavg_start": load_start, "loadavg_end": os.getloadavg(),
            "cpu_probe_s": [probe_start, cpu_probe_s()],
            "spark_driver_memory": os.environ["SPARK_DRIVER_MEMORY"]}
    host.update({"workload": args.workload, "seed": args.seed,
                 "trace": args.trace, "inputs_s": inputs_s,
                 "session_start_s": start_s, "warmup_s": warmup_s,
                 "calls": len(loop.calls), "checks": checks.attempted})
    print(json.dumps({"host": host}))
    for name, failures in checks.failures.items():
        print(f"perfbench: check {name!r} FAILED {len(failures)}x; first: "
              f"{failures[0]}", file=sys.stderr)
    print(json.dumps({
        "correct": checks.n_failed == 0,
        "attempted": checks.n_attempted, "failed": checks.n_failed,
        "metrics": {k: {"value": values[k], "unit": units[k]}
                    for k in units}}))
    return 0 if checks.n_failed == 0 else 1


if __name__ == "__main__":
    sys.exit(main())
