"""Run one benchmark workload and print its metrics.

    python3 perfbench/run.py --workload lloyd_large --seed 1 --seconds 10 --trace 0

Run from the repository root. The run makes its inputs from ``--seed``,
sets the engine up in a fresh process, warms the workload's own
operation, times whole operations for ``--seconds`` seconds, checks every
timed result against a computation made apart from the engine, and
prints one JSON object as the last line:

    {"correct": true, "attempted": N, "failed": 0, "metrics": {...}}

``--trace 0`` reports the end-to-end metrics (tracing off). ``--trace 1``
is the separate traced run: it wraps the engine's public functions from
outside, alternates untraced and traced operations, and reports the
per-layer metrics. ``--small`` shrinks every input for the harness
self-check (``perfbench/selfcheck.py``).
"""

from __future__ import annotations

import argparse
import collections
import json
import os
import shutil
import statistics
import sys
import time
import traceback

HERE = os.path.dirname(os.path.abspath(__file__))
ROOT = os.path.dirname(HERE)
ENGINE = "k_means_clustering_via_map_reduce_spark"

# Operation time keeps falling for tens of operations in a fresh JVM;
# the runs agree best when each warms for the same time, not the same
# number of operations.
WARM_S = 25.0
MIN_WARM_OPS = 2
MIN_TIMED_OPS = 3


def _args(argv=None):
    p = argparse.ArgumentParser(description=__doc__.split("\n")[0])
    p.add_argument("--workload", required=True)
    p.add_argument("--seed", type=int, default=0)
    p.add_argument("--seconds", type=float, default=10.0)
    p.add_argument("--trace", type=int, choices=(0, 1), default=0)
    p.add_argument("--small", action="store_true")
    return p.parse_args(argv)


def _environment(work: str) -> None:
    """One local executor per core, and every scratch file of Spark, the
    JVM and Python inside the run's work directory."""
    cpus = len(os.sched_getaffinity(0))
    tmp = os.path.join(work, "tmp")
    os.makedirs(tmp, exist_ok=True)
    os.environ["SPARK_GRAFT_CPUS"] = str(cpus)
    os.environ["TMPDIR"] = tmp
    os.environ["SPARK_LOCAL_DIRS"] = tmp
    os.environ["PYSPARK_SUBMIT_ARGS"] = (
        f"--driver-java-options -Djava.io.tmpdir={tmp} "
        f"--conf spark.sql.warehouse.dir={os.path.join(work, 'warehouse')} "
        "--conf spark.ui.showConsoleProgress=false "
        "pyspark-shell"
    )
    sys.path[:0] = [ROOT, HERE]


def _setup(workload):
    """Engine set-up: imports, ``get_spark`` and the workload's own
    set-up. Returns ``(spark, setup_s, get_spark_s)``."""
    t0 = time.perf_counter()
    from k_means_clustering_via_map_reduce_spark import engine  # noqa: F401
    from k_means_clustering_via_map_reduce_spark.session import get_spark

    g0 = time.perf_counter()
    spark = get_spark(app_name=f"perfbench-{workload.name}")
    get_spark_s = time.perf_counter() - g0
    workload.setup(spark)
    return spark, time.perf_counter() - t0, get_spark_s


def _stop(spark) -> None:
    """Stop Spark, end its JVM and wait until the JVM and the Python
    workers it started have exited."""
    from spans import descendants

    jvm = spark.sparkContext._gateway.proc
    children = descendants(jvm.pid)
    spark.stop()
    jvm.stdin.close()  # the gateway JVM exits when its stdin closes
    jvm.wait(timeout=60)
    deadline = time.monotonic() + 30
    while (any(os.path.exists(f"/proc/{pid}") for pid in children)
           and time.monotonic() < deadline):
        time.sleep(0.1)


class Run:
    def __init__(self, args, workload, spark, tracer):
        self.args, self.w, self.spark, self.tracer = args, workload, spark, tracer
        self.attempted = 0
        self.failed = 0

    def one(self, traced: bool = False):
        """One operation; returns ``(wall_s, result, extras)``."""
        from spans import jvm_pid, python_worker_cpu_s

        self.attempted += self.w.queries_per_op
        extras = {}
        root = None
        if traced:
            self.tracer.enabled = True
            pw0 = python_worker_cpu_s(jvm_pid(self.spark))
            root = self.tracer.open("op")
        t0 = time.perf_counter()
        try:
            result = self.w.op(self.spark, self.tracer)
        except Exception:
            traceback.print_exc(file=sys.stderr)
            self.failed += self.w.queries_per_op
            result = None
        wall = time.perf_counter() - t0
        if traced:
            self.tracer.close(root)
            self.tracer.enabled = False
            extras["root"] = root
            extras["python_worker_cpu_s"] = (
                python_worker_cpu_s(jvm_pid(self.spark)) - pw0
            )
        return wall, result, extras

    def warm(self) -> None:
        """Untimed operations for WARM_S seconds (at least MIN_WARM_OPS).
        The first pays class loading, code generation and Python-worker
        start-up; the rest let the JIT settle."""
        self.warm_times = []
        start = time.perf_counter()
        while (len(self.warm_times) < MIN_WARM_OPS
               or time.perf_counter() - start < WARM_S):
            self.warm_times.append(self.one()[0])


def _median(xs):
    return statistics.median(xs) if xs else 0.0


def _end_to_end(run: Run, setup_s: float) -> dict:
    """``op_s`` is the sum over the operation's entries of each entry's
    median time: the median operation for ``lloyd_large``, and for
    ``query_mix`` a typical pass that one slow entry does not move."""
    timed, results = [], []
    per_entry = collections.defaultdict(list)
    start = time.perf_counter()
    while (len(timed) < MIN_TIMED_OPS
           or time.perf_counter() - start < run.args.seconds):
        wall, result, _ = run.one()
        timed.append(wall)
        results.append(result)
        if result is not None:
            for name, seconds in run.w.entry_times(result, wall).items():
                per_entry[name].append(seconds)
    run.timed, run.results = timed, [r for r in results if r is not None]
    return {
        "op_s": {"value": sum(_median(v) for v in per_entry.values()),
                 "unit": "s"},
        "setup_s": {"value": setup_s, "unit": "s"},
    }


def _traced(run: Run) -> dict:
    """Alternate untraced and traced operations for ``--seconds``; the
    traced ones give the per-layer metrics, the difference of the two
    medians is the tracing overhead."""
    import layers

    plain, traced, results = [], [], []
    start = time.perf_counter()
    while (len(traced) < MIN_TIMED_OPS
           or time.perf_counter() - start < run.args.seconds):
        wall, result, _ = run.one()
        plain.append(wall)
        results.append(result)
        wall, result, extras = run.one(traced=True)
        extras["wall"], extras["result"] = wall, result
        traced.append(extras)
        results.append(result)
    run.timed, run.results = plain, [r for r in results if r is not None]
    run.tracer.dump(os.path.join(
        ROOT, ".bench_work", f"trace-{run.w.name}-{run.args.seed}.json"
    ))
    return layers.per_layer(run, traced, _median([t["wall"] for t in traced])
                            - _median(plain))


def main(argv=None) -> int:
    args = _args(argv)
    if not os.path.isdir(os.path.join(ROOT, ENGINE)):
        print(f"engine package {ENGINE}/ not found under {ROOT}",
              file=sys.stderr)
        return 2
    work = os.path.join(
        ROOT, ".bench_work", f"{args.workload}-{args.seed}-{os.getpid()}"
    )
    _environment(work)
    from workloads import WORKLOADS

    if args.workload not in WORKLOADS:
        print(f"unknown workload {args.workload!r}; one of "
              f"{sorted(WORKLOADS)}", file=sys.stderr)
        return 2
    workload = WORKLOADS[args.workload](args.seed, work, args.small)

    try:
        workload.prepare()
        spark, setup_s, get_spark_s = _setup(workload)
        from spans import Tracer

        tracer = Tracer(spark)
        if args.trace:
            workload.install_trace(tracer)
        run = Run(args, workload, spark, tracer)
        run.get_spark_s = get_spark_s
        run.warm()
        metrics = _traced(run) if args.trace else _end_to_end(run, setup_s)
        n_checks, errors = (workload.check(run.results) if run.results
                            else (0, ["no operation completed"]))
        run.attempted += n_checks
        for e in errors:
            print(f"CHECK FAILED: {e}", file=sys.stderr)
        print(
            f"# {workload.name}: warm-up {len(run.warm_times)} x "
            f"{workload.op_unit} {[round(t, 3) for t in run.warm_times]}, "
            f"timed {[round(t, 3) for t in run.timed]}",
            file=sys.stderr,
        )
        _stop(spark)
    finally:
        shutil.rmtree(work, ignore_errors=True)
    print(json.dumps({
        "correct": not errors and bool(run.results),
        "attempted": run.attempted,
        "failed": run.failed,
        "metrics": metrics,
    }))
    return 0


if __name__ == "__main__":
    sys.exit(main())
