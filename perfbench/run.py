"""Benchmark entry point.

    python3 perfbench/run.py --workload semsim --seed 1 --seconds 10 --trace 0

Run from the root of a checkout of the repository (the package is
imported from there, and so are ``tests/reference_oracle.py`` and the
oracle-mirror normalisation).  Everything the run writes -- cached
inputs, Spark's local and temporary directories, per-iteration outputs
-- stays under ``.perfbench_cache/`` in that directory.

One run, in order:

1. Generate the workload's inputs from ``--seed`` (cached per seed).
2. Set up: ``session.get_spark()``, which launches the driver JVM,
   plus a first Spark job.  ``setup_s`` is its wall time: the cold
   start a command-line pipeline run or an analyst's new session pays.
3. Measure: run iterations until ``--seconds`` of iteration time have
   passed (at least one).  Closed loop, one client: each operation
   starts when the previous one has returned.  The first iteration
   runs in a JVM that has done nothing but start the session, as a
   pipeline run from the command line or an analyst's new session
   does, so its compile and Python-worker start-up costs count --
   users pay them on every run.  With ``--trace 1`` the iterations are
   traced.
4. Check every iteration's outputs against its oracle, outside the
   timed region.

The last line of standard output is one JSON object:
``{"correct", "attempted", "failed", "metrics"}``; with ``--trace 0``
the metrics are the end-to-end ones of BENCHMARK.json, with
``--trace 1`` the per-layer ones.  A fuller record (input properties,
environment, per-operation times, spans) is written to
``.perfbench_cache/last-<workload>.json``.
"""

from __future__ import annotations

import argparse
import hashlib
import json
import os
import shutil
import signal
import statistics
import subprocess
import sys
import time

PACKAGE = "semantic_similarity_system_using_aws_mapreduce_spark"
CACHE = ".perfbench_cache"
#: a run still going after this long is aborted without a result
DEADLINE_S = 170
CPUS = 4
DRIVER_MEM = "2g"


def _units(kind: str) -> dict[str, str]:
    """name -> unit of BENCHMARK.json's ``end_to_end`` or ``per_layer`` metrics."""
    with open(os.path.join(os.path.dirname(os.path.abspath(__file__)), "..", "BENCHMARK.json")) as f:
        return {m["name"]: m["unit"] for m in json.load(f)[kind]}


def _configure(root: str) -> str:
    """Environment for Spark, set before the JVM starts: cores, driver
    heap, and every scratch directory inside the checkout."""
    cache = os.path.join(root, CACHE)
    tmp = os.path.join(cache, "tmp")
    os.makedirs(tmp, exist_ok=True)
    os.environ["SPARK_GRAFT_CPUS"] = str(min(CPUS, len(os.sched_getaffinity(0))))
    os.environ["SPARK_GRAFT_DRIVER_MEM"] = DRIVER_MEM
    os.environ["PYTHONPATH"] = os.pathsep.join(
        [root] + [p for p in os.environ.get("PYTHONPATH", "").split(os.pathsep) if p]
    )
    os.environ["SPARK_LOCAL_DIRS"] = tmp
    os.environ["TMPDIR"] = tmp
    # every JVM started (launcher, driver, `java -version`) keeps its
    # temporary files in the checkout and writes no perf-data file
    os.environ["JAVA_TOOL_OPTIONS"] = f"-Djava.io.tmpdir={tmp} -XX:-UsePerfData"
    return cache


def _code_key(root: str) -> str:
    """Short hash of the package's and the benchmark's Python sources:
    untraced times are kept per code version, so a traced run is only
    compared with untraced runs of the same code."""
    h = hashlib.sha1()
    for top in (PACKAGE, "perfbench"):
        for d, dirs, files in os.walk(os.path.join(root, top)):
            dirs.sort()
            for name in sorted(f for f in files if f.endswith(".py")):
                path = os.path.join(d, name)
                h.update(os.path.relpath(path, root).encode())
                with open(path, "rb") as f:
                    h.update(f.read())
    return h.hexdigest()[:10]


def _timeout(signum, frame):
    raise TimeoutError(f"benchmark run exceeded {DEADLINE_S} s")


def _stop_spark() -> None:
    """Stop the session, then the driver JVM, and wait for it to exit."""
    from pyspark import SparkContext
    from pyspark.sql import SparkSession

    spark = SparkSession.getActiveSession()
    if spark is not None:
        spark.stop()
    gateway = SparkContext._gateway
    if gateway is None:
        return
    proc = getattr(gateway, "proc", None)
    gateway.shutdown()
    SparkContext._gateway = SparkContext._jvm = None
    if proc is not None:
        proc.stdin.close()
        try:
            proc.wait(timeout=30)
        except subprocess.TimeoutExpired:
            proc.kill()
            proc.wait(timeout=30)


def _start_spark():
    """(session, get_spark() seconds, seconds up to a first job's end)."""
    from semantic_similarity_system_using_aws_mapreduce_spark.session import get_spark

    t0 = time.perf_counter()
    spark = get_spark(app_name="perfbench")
    t1 = time.perf_counter()
    spark.range(1).count()
    return spark, t1 - t0, time.perf_counter() - t0


def run(args, root: str, work: str) -> dict:
    from perfbench import host
    from perfbench.spans import Tracer
    from perfbench.workloads import WORKLOADS, _write_json

    cache = os.path.join(root, CACHE)
    env = host.environment()
    wl = WORKLOADS[args.workload](os.path.join(cache, "inputs"), work, args.seed, args.smoke)
    me = os.getpid()

    spark, get_spark_s, setup_s = _start_spark()
    tracer = listener = None
    if args.trace:
        tracer = Tracer(spark)
        if hasattr(wl, "listener"):
            listener = wl.listener()
            spark.streams.addListener(listener)

    ops, iter_s, iter_cpu = [], [], []
    sampler = host.RssSampler(me).start()
    while sum(iter_s) < args.seconds or not iter_s:
        # the sampler thread's own CPU is the benchmark's, not the program's
        cpu0, t0 = host.tree_cpu_s(me) - sampler.cpu_s, time.perf_counter()
        if tracer is not None:
            with wl.instrument(tracer):
                ops += wl.iteration(spark, tracer)
        else:
            ops += wl.iteration(spark)
        iter_s.append(time.perf_counter() - t0)
        iter_cpu.append(host.tree_cpu_s(me) - sampler.cpu_s - cpu0)
        if tracer is not None:
            tracer.resolve()
    sampler.stop()
    if listener is not None:
        spark.streams.removeListener(listener)

    failures = [f"{op.name}: {op.error}" for op in ops if op.error]
    failures += wl.check(spark)
    run_s = statistics.median(iter_s)
    metrics = {
        "setup_s": setup_s,
        "run_s": run_s,
        "items_per_s": wl.items / run_s,
        "peak_rss_mb": sampler.peak_bytes / (1 << 20),
        "cpu_s": statistics.median(iter_cpu),
    }
    out = {"correct": not failures, "attempted": len(ops), "failed": min(len(ops), len(failures))}
    # untraced run_s per input and code version, so a traced run can
    # report its overhead
    history_path = os.path.join(wl.dir, f"untraced_run_s-{_code_key(root)}.json")
    history = []
    if os.path.exists(history_path):
        with open(history_path) as f:
            history = json.load(f)
    if args.trace:
        layers = {
            "session.get_spark_s": get_spark_s,
            "trace_overhead_s": run_s - statistics.median(history) if history else 0.0,
        }
        layers.update(wl.layers(tracer, len(iter_s)))
        out["metrics"] = {
            k: {"value": float(layers.get(k, 0.0)), "unit": u} for k, u in _units("per_layer").items()
        }
    else:
        _write_json(history_path, history + [run_s])
        out["metrics"] = {k: {"value": metrics[k], "unit": u} for k, u in _units("end_to_end").items()}

    env["loadavg_end"] = host.loadavg()
    record = {
        "workload": args.workload, "seed": args.seed, "seconds": args.seconds,
        "trace": args.trace, "smoke": args.smoke, "environment": env, "inputs": wl.props,
        "samples": {"get_spark_s": get_spark_s, "iteration_s": iter_s, "iteration_cpu_s": iter_cpu},
        "end_to_end": metrics, "operations": [vars(op) for op in ops], "failures": failures,
        "spans": tracer.records() if tracer else [],
    }
    with open(os.path.join(cache, f"last-{args.workload}.json"), "w") as f:
        json.dump(record, f, indent=1, default=str)
    for line in failures:
        print(f"check failed: {line}", file=sys.stderr)
    return out


def main(argv=None) -> int:
    ap = argparse.ArgumentParser(description=__doc__.split("\n\n")[0])
    ap.add_argument("--workload", required=True, choices=["semsim", "llm_session"])
    ap.add_argument("--seed", type=int, required=True)
    ap.add_argument("--seconds", type=float, required=True)
    ap.add_argument("--trace", type=int, choices=[0, 1], default=0)
    ap.add_argument("--smoke", action="store_true", help="tiny inputs, same checks")
    args = ap.parse_args(argv)

    root = os.getcwd()
    if not os.path.isdir(os.path.join(root, PACKAGE)):
        print(f"{PACKAGE}/ not found in {root}: run from a checkout's root", file=sys.stderr)
        return 2
    # import perfbench as a package from the checkout root, not its
    # modules from the script's own directory
    sys.path[0] = root
    cache = _configure(root)
    work = os.path.join(cache, "work", f"{args.workload}-{os.getpid()}")
    signal.signal(signal.SIGALRM, _timeout)
    signal.alarm(DEADLINE_S)
    try:
        result = run(args, root, work)
    finally:
        _stop_spark()
        signal.alarm(0)
        for d in (work, os.path.join(cache, "tmp")):
            shutil.rmtree(d, ignore_errors=True)
    print(json.dumps(result))
    return 0


if __name__ == "__main__":
    sys.exit(main())
