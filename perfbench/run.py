"""Benchmark of the search engine: build and serve workloads.

Run from the repository root:

    python3 perfbench/run.py --workload serve --seed 1 --seconds 10 --trace 0

The last line of standard output is one JSON object with ``correct``,
``attempted``, ``failed`` and ``metrics``. Every workload prints the same
metrics. With ``--trace 0`` they are the end-to-end metrics; with
``--trace 1`` the run enables the Spark event log, tags each layer call's
jobs with its span name and reports the per-layer metrics instead, and
times one layer call with the event log on and off for
``trace.overhead_frac``. The line before it, prefixed
``perfbench-detail``, carries the wall time of each phase, sample counts,
percentiles, the host probe and, in traced runs, every span.
See ``perfbench/README.md`` for the workloads and metrics.

Everything the run writes goes under ``.perfbench/`` in the working
directory and is removed when the run ends.
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

ROOT = os.getcwd()
#: rows of the pinned host-speed probe (a fixed arithmetic Spark job)
SENTINEL_ROWS = 16_000_000


def parse_args(argv=None):
    ap = argparse.ArgumentParser(description=__doc__.splitlines()[0])
    ap.add_argument("--workload", required=True, choices=("build", "serve"))
    ap.add_argument("--seed", type=int, required=True)
    ap.add_argument("--seconds", type=float, required=True)
    ap.add_argument("--trace", type=int, choices=(0, 1), default=0)
    ap.add_argument("--profile", default="full", choices=("full", "tiny"),
                    help="input sizes; tiny is for the smoke test")
    return ap.parse_args(argv)


def isolate(work: str) -> None:
    """Point every scratch location of Spark, the JVM and Python workers
    into ``work`` and make the package importable by the workers."""
    for d in ("tmp", "spark-local"):
        os.makedirs(os.path.join(work, d), exist_ok=True)
    os.environ["TMPDIR"] = os.path.join(work, "tmp")
    os.environ["SPARK_LOCAL_DIRS"] = os.path.join(work, "spark-local")
    os.environ["PYSPARK_PYTHON"] = sys.executable
    os.environ["PYTHONPATH"] = os.pathsep.join(
        p for p in (ROOT, os.environ.get("PYTHONPATH")) if p
    )
    sys.path.insert(0, ROOT)


def start_spark(work: str, cores: int, trace: bool):
    from searchengine_spark.session import get_spark

    from perfbench.tracing import event_log_conf

    conf = {
        "spark.driver.memory": "3g",
        "spark.local.dir": os.path.join(work, "spark-local"),
        "spark.driver.extraJavaOptions":
            f"-Djava.io.tmpdir={os.path.join(work, 'tmp')} -XX:-UsePerfData",
    }
    # a session started after one with the event log on would keep it on
    conf["spark.eventLog.enabled"] = "false"
    if trace:
        conf.update(event_log_conf(os.path.join(work, "eventlog")))
    return get_spark(app_name="perfbench", master=f"local[{cores}]",
                     shuffle_partitions=cores, extra_conf=conf)


def stop_spark(spark) -> None:
    """Stop the session, then the JVM, and wait until it has exited."""
    from pyspark import SparkContext

    spark.stop()
    gw = SparkContext._gateway
    if gw is None:
        return
    proc = getattr(gw, "proc", None)
    gw.shutdown()
    SparkContext._gateway = SparkContext._jvm = None
    if proc is not None:
        proc.stdin.close()  # the gateway JVM exits when its stdin closes
        try:
            proc.wait(timeout=60)
        except subprocess.TimeoutExpired:
            proc.kill()
            proc.wait()


def sentinel_s(spark) -> float:
    """Pinned host-speed probe: the same arithmetic job on every commit, so
    a slow box shows here rather than as a regression."""
    t0 = time.time()
    spark.range(SENTINEL_ROWS).selectExpr("sum(id * 2 + 1)").collect()
    return time.time() - t0


def steal_s() -> float | None:
    """CPU seconds the hypervisor has taken from this machine's CPUs since
    boot (the ``steal`` column of /proc/stat), or None where it is not
    reported. Its growth over a run shows a shared host slowing the run."""
    try:
        with open("/proc/stat") as f:
            return int(f.readline().split()[8]) / os.sysconf("SC_CLK_TCK")
    except (OSError, IndexError, ValueError):
        return None


def run(args, work: str) -> dict:
    from perfbench.tracing import Tracer, fold_event_log
    from perfbench.workloads import PROFILES, WORKLOADS

    cores = len(os.sched_getaffinity(0))
    w = WORKLOADS[args.workload](PROFILES[args.profile], args.seed, args.seconds, work, cores)
    phases = {}  # wall seconds of each phase, for the detail line
    steal0 = steal_s()
    t0 = time.time()
    w.prepare()
    phases["prepare"] = time.time() - t0

    trace = bool(args.trace)
    t0 = time.time()
    spark = start_spark(work, cores, trace)

    def restart(with_log: bool):
        """A new session in the same JVM: the event log is read at session
        start only."""
        nonlocal spark
        spark.stop()
        spark = start_spark(work, cores, with_log)
        w.tracer.sc, w.tracer.enabled = spark.sparkContext, with_log
        return spark

    try:
        w.spark, w.tracer = spark, Tracer(spark.sparkContext, trace)
        w.setup()
        setup_s = phases["setup"] = time.time() - t0
        t0 = time.time()
        w.measure()
        phases["measure"] = time.time() - t0
        # after the measured phase, so that it does not warm the JVM for it
        sentinel = [sentinel_s(spark) for _ in range(5)]
        t0 = time.time()
        w.check_index()
        if trace:
            w.probe()
        w.verify()
        if trace:
            pair = w.overhead_pair(restart)
        phases["verify_probe"] = time.time() - t0
    finally:
        stop_spark(spark)
    steal1 = steal_s()

    detail = {"workload": args.workload, "seed": args.seed, "cores": cores,
              "host_sentinel_ms": 1000 * statistics.median(sentinel),
              "host_steal_s": None if steal0 is None else steal1 - steal0,
              "checks": w.checks, "problems": w.problems[:20], "phase_s": phases,
              # the run's gated figure, traced in a traced run
              "headline": w.headline()}
    if args.trace:
        metrics = w.per_layer(fold_event_log(os.path.join(work, "eventlog")))
        metrics["host.sentinel_ms"] = (detail["host_sentinel_ms"], "ms")
        metrics["trace.overhead_frac"] = (pair[1] / pair[0] - 1.0, "ratio")
        detail["overhead_pair_s"] = pair
        detail["spans"] = [s.__dict__ for s in w.tracer.spans]
    else:
        metrics = {"setup_s": (setup_s, "s"), **w.end_to_end()}
    detail.update(w.detail)
    return {
        "detail": detail,
        "result": {
            "correct": w.failed == 0 and w.checks > 0 and not w.problems,
            "attempted": w.attempted,
            "failed": w.failed,
            "metrics": {k: {"value": v, "unit": u} for k, (v, u) in metrics.items()},
        },
    }


def main(argv=None) -> int:
    args = parse_args(argv)
    if not os.path.isfile(os.path.join(ROOT, "searchengine_spark", "engine.py")):
        print("perfbench: run from the repository root; searchengine_spark/ is missing",
              file=sys.stderr)
        return 2
    work = os.path.join(ROOT, ".perfbench", f"{args.workload}-{args.seed}-{os.getpid()}")
    isolate(work)
    try:
        out = run(args, work)
    finally:
        shutil.rmtree(work, ignore_errors=True)
    print("perfbench-detail " + json.dumps(out["detail"]))
    print(json.dumps(out["result"]), flush=True)
    return 0


if __name__ == "__main__":
    sys.exit(main())
