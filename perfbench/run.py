#!/usr/bin/env python3
"""Benchmark entry point.

    python3 perfbench/run.py --workload acq_convert --seed 1 --seconds 10 --trace 0

Run from the repository root.  Workloads: acq_convert, query_mix (see
perfbench/README.md).  With ``--trace 0`` the last line
of standard output is a JSON object holding the end-to-end metrics; with
``--trace 1`` it holds the per-layer metrics of a separate traced run.
Every file the run reads or writes lives under the repository root;
fixtures are cached in ``.perfbench_work/cache`` per (workload, seed).
"""

from __future__ import annotations

import argparse
import glob
import json
import os
import platform
import shutil
import signal
import statistics
import subprocess
import sys
import tempfile
import threading
import time

HERE = os.path.dirname(os.path.abspath(__file__))
ROOT = os.path.dirname(HERE)
ENGINE = "gcf_corima_parquet_converter_spark"
MAX_CORES = 4
WORKLOAD_NAMES = ("acq_convert", "query_mix")


def parse_args(argv):
    p = argparse.ArgumentParser(description=__doc__.splitlines()[0])
    p.add_argument("--workload", required=True, choices=WORKLOAD_NAMES)
    p.add_argument("--seed", type=int, required=True)
    p.add_argument("--seconds", type=float, required=True)
    p.add_argument("--trace", type=int, choices=(0, 1), default=0)
    return p.parse_args(argv)


def descendants() -> dict[int, tuple[str, str, int]]:
    """``pid -> (command, state, resident kB)`` of every live process
    below this one: the JVM, and Spark's Python daemon and workers under
    it."""
    parent, info = {}, {}
    page_kb = os.sysconf("SC_PAGE_SIZE") // 1024
    for stat in glob.glob("/proc/[0-9]*/stat"):
        try:
            with open(stat) as f:
                head, tail = f.read().rsplit(")", 1)
            fields = tail.split()
            pid = int(stat.split("/")[2])
            parent[pid] = int(fields[1])
            info[pid] = (head.split("(", 1)[1], fields[0], int(fields[21]) * page_kb)
        except (OSError, IndexError, ValueError):
            continue
    mine, frontier = set(), {os.getpid()}
    while frontier:
        frontier = {p for p, pp in parent.items() if pp in frontier} - mine
        mine |= frontier
    return {p: info[p] for p in mine if info[p][1] != "Z"}


class RssSampler:
    """High-water mark of the summed resident set of every process this
    one started, sampled from /proc."""

    def __init__(self, interval: float = 0.2):
        self.interval = interval
        self.peak_kb = self.jvm_peak_kb = self.workers_peak_kb = 0
        self._stop = threading.Event()
        self._thread = threading.Thread(target=self._loop, daemon=True)

    def _loop(self) -> None:
        while not self._stop.is_set():
            procs = descendants().values()
            jvm = sum(rss for cmd, _, rss in procs if cmd == "java")
            workers = sum(rss for cmd, _, rss in procs if cmd != "java")
            self.peak_kb = max(self.peak_kb, jvm + workers)
            self.jvm_peak_kb = max(self.jvm_peak_kb, jvm)
            self.workers_peak_kb = max(self.workers_peak_kb, workers)
            self._stop.wait(self.interval)

    def __enter__(self):
        self._thread.start()
        return self

    def __exit__(self, *exc):
        self._stop.set()
        self._thread.join(timeout=5)
        return False


def stop_engine(spark, timeout: float = 60.0) -> None:
    """Stop the session, then the JVM and the Python workers it forked,
    and wait until every one of them has exited."""
    from pyspark import SparkContext

    pids = set(descendants())
    spark.stop()
    gateway = SparkContext._gateway
    if gateway is not None:
        gateway.shutdown()
        proc = getattr(gateway, "proc", None)
        if proc is not None:
            proc.stdin.close()  # the JVM exits on EOF of its stdin
            try:
                proc.wait(timeout)
            except subprocess.TimeoutExpired:
                proc.kill()
                proc.wait(timeout)
        SparkContext._gateway = SparkContext._jvm = None
    deadline = time.time() + timeout
    while True:
        alive = [p for p in pids if _alive(p)]
        if not alive:
            return
        if time.time() > deadline:
            for p in alive:
                os.kill(p, signal.SIGKILL)
            return
        time.sleep(0.1)


def _alive(pid: int) -> bool:
    try:
        with open(f"/proc/{pid}/stat") as f:
            return f.read().rsplit(")", 1)[1].split()[0] != "Z"
    except OSError:
        return False


def configure_environment(work: str, trace: bool) -> None:
    """Point Spark, the JVM and Python's temp files into the run's own
    directory, and let Spark's Python workers import the engine."""
    tmp = os.path.join(work, "tmp")
    os.makedirs(tmp)
    os.environ["TMPDIR"] = tmp
    tempfile.tempdir = tmp
    os.environ["SPARK_LOCAL_DIRS"] = os.path.join(work, "spark-local")
    prev = os.environ.get("PYTHONPATH")
    os.environ["PYTHONPATH"] = ROOT + (os.pathsep + prev if prev else "")
    conf = {
        "spark.sql.warehouse.dir": os.path.join(work, "warehouse"),
        "spark.ui.showConsoleProgress": "false",
    }
    if trace:
        os.makedirs(os.path.join(work, "eventlog"))
        conf.update({
            "spark.eventLog.enabled": "true",
            "spark.eventLog.dir": "file://" + os.path.join(work, "eventlog"),
            "spark.eventLog.compress": "false",
            "spark.eventLog.rolling.enabled": "false",
        })
    args = [f"--conf {k}={v}" for k, v in conf.items()]
    args.append(f'--driver-java-options "-Djava.io.tmpdir={tmp} -Dderby.system.home={tmp}"')
    os.environ["PYSPARK_SUBMIT_ARGS"] = " ".join(args) + " pyspark-shell"


def java_version() -> str:
    try:
        out = subprocess.run(
            ["java", "-version"], capture_output=True, text=True, timeout=30
        )
        return (out.stderr or out.stdout).splitlines()[0]
    except (OSError, subprocess.SubprocessError, IndexError):
        return "unknown"


def run_workload(args, work: str, cache: str) -> dict:
    import pyspark

    import tracing
    import workloads
    from gcf_corima_parquet_converter_spark.session import get_spark

    cores = min(MAX_CORES, len(os.sched_getaffinity(0)))
    load_before = os.getloadavg()
    with RssSampler() as rss:
        t = time.perf_counter()
        spark = get_spark(f"perfbench-{args.workload}", cpus=cores)
        spark.sparkContext.setLogLevel("ERROR")
        spark.range(1).count()
        session_s = time.perf_counter() - t
        tracer = tracing.Tracer(spark.sparkContext) if args.trace else None
        run = workloads.Run(
            spark=spark, seed=args.seed, seconds=args.seconds,
            cache=cache, work=work, tracer=tracer,
        )
        measure, layers = workloads.WORKLOADS[args.workload]
        try:
            res = measure(run)
            parallelism = spark.sparkContext.defaultParallelism
        finally:
            stop_engine(spark)
    load_after = os.getloadavg()

    latency_p50 = res.latency_p50_s
    tail = tracing.tail_percentile(res.latencies)
    info = {
        "workload": args.workload, "seed": args.seed, "seconds": args.seconds,
        "trace": args.trace, "nproc": os.cpu_count(), "cores_used": cores,
        "default_parallelism": parallelism, "loadavg_before": load_before,
        "loadavg_after": load_after, "pyspark": pyspark.__version__,
        "java": java_version(), "python": platform.python_version(),
        "session_start_s": session_s, "warmup_s": res.setup_s,
        "latencies_s": res.latencies, "raw_latency_p50_s": statistics.median(res.latencies),
        "canary_s": res.canary, "scaled_latencies_s": res.scaled_latencies(),
        "latency_tail": {"percentile": tail[0], "value_s": tail[1]} if tail else
        "none: fewer than 10 operations beyond the median",
        "peak_rss_mb": rss.peak_kb / 1024.0, "jvm_peak_rss_mb": rss.jvm_peak_kb / 1024.0,
        "workers_peak_rss_mb": rss.workers_peak_kb / 1024.0, **res.notes,
    }
    if args.trace:
        log_files = glob.glob(os.path.join(work, "eventlog", "*"))
        with open(log_files[0]) as f:
            log = tracing.parse_event_log(f)
        layers(run, res, log)
        info["spans"] = tracer.summary()
        tot = tracing.totals(log.tasks_between(res.window[0] * 1000, res.window[1] * 1000))
        wall = res.window[1] - res.window[0]
        units = workloads.per_layer_names()
        values = dict.fromkeys(units, 0.0)
        values.update(res.layers)
        values.update({
            "session.start_s": session_s,
            "spark.busy_frac": tot["run_s"] / (wall * cores),
            "spark.gc_s": tot["gc_s"],
            "trace.latency_p50_s": latency_p50,
        })
        metrics = {k: {"value": float(values[k]), "unit": units[k]} for k in units}
    else:
        metrics = {
            "setup_s": {"value": session_s + res.setup_s, "unit": "s"},
            "latency_p50_s": {"value": latency_p50, "unit": "s"},
        }
    info["metrics"] = {k: v["value"] for k, v in metrics.items()}
    return {
        "info": info,
        "result": {
            "correct": res.failed == 0,
            "attempted": res.attempted,
            "failed": res.failed,
            "metrics": metrics,
        },
    }


def main(argv=None) -> int:
    args = parse_args(argv)
    # run the cleanup below (engine shutdown, work dir removal) on SIGTERM too
    signal.signal(signal.SIGTERM, lambda *_: sys.exit(128 + signal.SIGTERM))
    if not os.path.isfile(os.path.join(ROOT, ENGINE, "__init__.py")):
        print(f"perfbench: engine package {ENGINE!r} not found under {ROOT}", file=sys.stderr)
        return 2
    if args.seconds <= 0:
        print("perfbench: --seconds must be positive", file=sys.stderr)
        return 2
    base = os.path.join(ROOT, ".perfbench_work")
    cache = os.path.join(base, "cache")
    work = os.path.join(base, f"run-{os.getpid()}")
    os.makedirs(cache, exist_ok=True)
    shutil.rmtree(work, ignore_errors=True)
    os.makedirs(work)
    sys.path[:0] = [HERE, ROOT]
    try:
        configure_environment(work, bool(args.trace))
        import inputs

        inputs.prune_cache(cache)
        out = run_workload(args, work, cache)
    finally:
        shutil.rmtree(work, ignore_errors=True)
    print(json.dumps(out["info"], default=str))
    result = out["result"]
    print(json.dumps(result))
    return 0 if result["correct"] else 1


if __name__ == "__main__":
    sys.exit(main())
