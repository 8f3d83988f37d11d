"""Run one benchmark workload and print its metrics as one JSON line.

    python3 perfbench/run.py --workload backfill --seed 1 --seconds 14 --trace 0

Run from the root of a checkout. The run generates its inputs from
``--seed``, sets up the store several times (``setup_s`` is the
median), runs untimed warm-up ops, then a fixed number of measured ops
derived from ``--seconds``, checks every op's output against answers
computed from the seed, and prints
``{"correct", "attempted", "failed", "metrics"}`` as the last line.
``--trace 0`` reports the end-to-end metrics; ``--trace 1`` runs twice
the measured ops, traces every other one and reports the per-layer
metrics. Run metadata (host steal, load average, op walls) goes to
stderr.
"""

from __future__ import annotations

import argparse
import json
import os
import shutil
import sys
import time

SETUPS = 3
PACKAGE = "zigchain_indexer_clickhouse_spark"


def _env(root: str, work: str) -> None:
    """Keep every file the run and Spark write inside the checkout."""
    tmp = os.path.join(work, "tmp")
    cache = os.path.join(root, ".perfbench_work", "cache")
    for d in (tmp, cache):
        os.makedirs(d, mode=0o700, exist_ok=True)
    os.chmod(cache, 0o700)
    os.environ.update({
        "TMPDIR": tmp,
        "SPARK_LOCAL_DIRS": tmp,
        "XDG_CACHE_HOME": cache,
        "PYTHONPATH": os.pathsep.join(
            [root] + [p for p in os.environ.get("PYTHONPATH", "").split(
                os.pathsep) if p]),
        "PYSPARK_PYTHON": sys.executable,
        "PYSPARK_DRIVER_PYTHON": sys.executable,
        "SPARK_GRAFT_CPUS": str(len(os.sched_getaffinity(0))),
        # no perf-data files outside the checkout, from the driver JVM
        # or the launcher JVM spark-submit starts before it
        "JAVA_TOOL_OPTIONS": "-XX:-UsePerfData",
        "SPARK_GRAFT_EXTRA_CONF": ";".join([
            f"spark.driver.extraJavaOptions=-Djava.io.tmpdir={tmp}",
            "spark.ui.showConsoleProgress=false",
        ]),
    })
    # the driver heap is the program's default (session.get_spark)
    for k in ("SPARK_GRAFT_DRIVER_MEM", "SPARK_DRIVER_MEMORY"):
        os.environ.pop(k, None)
    import tempfile

    tempfile.tempdir = None  # re-read TMPDIR


def _start(get_spark):
    spark = get_spark("perfbench")
    spark.sparkContext.setLogLevel("ERROR")
    return spark


def _shutdown(spark) -> None:
    """Stop the session, then the JVM it runs in, and wait for the JVM
    (and with it the Python workers it started) to exit."""
    from pyspark import SparkContext

    spark.stop()
    gateway = SparkContext._gateway
    if gateway is not None:
        gateway.shutdown()
        gateway.proc.stdin.close()
        gateway.proc.wait(timeout=120)


def main(argv: list[str] | None = None) -> int:
    ap = argparse.ArgumentParser(description=__doc__.split("\n")[0])
    ap.add_argument("--workload", required=True)
    ap.add_argument("--seed", type=int, required=True)
    ap.add_argument("--seconds", type=float, required=True)
    ap.add_argument("--trace", type=int, choices=(0, 1), default=0)
    args = ap.parse_args(argv)

    root = os.getcwd()
    if not os.path.isdir(os.path.join(root, PACKAGE)):
        print(f"no {PACKAGE}/ in {root}: run from the root of a checkout",
              file=sys.stderr)
        return 2
    sys.path.insert(0, root)
    work = os.path.join(root, ".perfbench_work", f"run-{os.getpid()}")
    _env(root, work)
    try:
        return _run(args, work)
    finally:
        shutil.rmtree(work, ignore_errors=True)


class _Phases:
    """Wall time of each phase of a run, for the metadata line."""

    def __init__(self):
        self.times: dict[str, float] = {}
        self._t = time.perf_counter()

    def __call__(self, name: str) -> None:
        now = time.perf_counter()
        self.times[name] = round(now - self._t, 3)
        self._t = now


def _run(args, work: str) -> int:
    from perfbench.workloads import WORKLOADS
    from zigchain_indexer_clickhouse_spark.session import get_spark

    wl = WORKLOADS.get(args.workload)
    if wl is None:
        print(f"unknown workload {args.workload}; one of {sorted(WORKLOADS)}",
              file=sys.stderr)
        return 2
    n_ops = max(2, round(args.seconds / wl.nominal_op_s))
    if args.trace:  # as many untraced ops as traced ones, to compare
        n_ops *= 2
    phase = _Phases()
    inputs = wl.inputs(args.seed, wl.warmup_ops + n_ops, work)
    phase("inputs")

    # set-up k: session start (the first launches the JVM, later ones
    # restart the session in it) plus seeding a fresh store; input
    # preparation that needs the session runs once, outside the timing
    setup_s, session_s = [], []
    spark = None
    try:
        for k in range(SETUPS):
            store = os.path.join(work, f"store{k}")
            t0 = time.perf_counter()
            if k:
                spark.stop()
                shutil.rmtree(os.path.join(work, f"store{k - 1}"))
            spark = _start(get_spark)
            session_s.append(time.perf_counter() - t0)
            if not k:
                phase("session")
                wl.prepare(spark, work, inputs)
                phase("prepare")
            t1 = time.perf_counter()
            wl.seed(spark, store, inputs)
            setup_s.append(session_s[-1] + time.perf_counter() - t1)
        phase("setup")
        return _measure(args, wl, spark, store, inputs, n_ops, phase,
                        setup_s, session_s)
    finally:
        if spark is not None:
            _shutdown(spark)


def _measure(args, wl, spark, store, inputs, n_ops, phase, setup_s,
             session_s) -> int:
    from perfbench import procs
    from perfbench.report import metrics, store_files
    from perfbench.tracing import Tracer
    from perfbench.workloads import Run
    from zigchain_indexer_clickhouse_spark.api import IndexerAPI

    untraced = Tracer(spark, False)
    traced = Tracer(spark, bool(args.trace))
    run = Run(spark, store, IndexerAPI(spark, store), untraced, inputs)
    for i in range(wl.warmup_ops):
        wl.op(run, i)
    phase("warmup")

    walls, trace_walls, results = [], [], []
    files0 = store_files(store)
    steal0, cpu0 = procs.host_cpu(), procs.cpu_tree()
    load0 = procs.loadavg_1m()
    for j in range(n_ops):
        i = wl.warmup_ops + j
        run.tracer = traced if args.trace and j % 2 == 0 else untraced
        t0 = time.perf_counter()
        with run.tracer.op(i):
            results.append(wl.op(run, i))
        (trace_walls if run.tracer is traced else walls).append(
            time.perf_counter() - t0)
    cpu = procs.cpu_tree() - cpu0
    steal1, load1 = procs.host_cpu(), procs.loadavg_1m()
    peak = procs.rss_mb()
    written = {p: b for p, b in store_files(store).items() if p not in files0}
    phase("measured")
    now, live = procs.rss_mb(field="VmRSS"), procs.jvm_live_mb(spark)
    mem = {"peak_rss_mb": peak["total"],
           "retained_mb": now["driver_py"] + now["pyworker"]
           + sum(live.values())}
    traced.collect_stages()

    run.tracer = traced
    bad = wl.check(run, results)
    phase("check")
    failed = sum(1 for b in bad if b)
    for i, b in enumerate(bad):
        if b:
            print(f"op {wl.warmup_ops + i} wrong: {b}", file=sys.stderr)
    steal = 100.0 * (steal1[0] - steal0[0]) / max(1, steal1[1] - steal0[1])
    print(json.dumps({
        "workload": wl.name, "seed": args.seed, "ops": n_ops,
        "steal_pct": round(steal, 2), "loadavg_1m": [load0, load1],
        "phases_s": phase.times, "setups_s": [round(x, 3) for x in setup_s],
        "peak_rss_mb": {k: round(v, 1) for k, v in peak.items()},
        "retained_mb": round(mem["retained_mb"], 1),
        "jvm_live_mb": {k: round(v, 1) for k, v in live.items()},
        "jit_cpu_s": round(cpu.jit, 2),
        "op_walls_s": [round(w, 4) for w in walls],
        "traced_op_walls_s": [round(w, 4) for w in trace_walls],
        # [op, name, start (s from the first span), duration s, parent]
        "spans": [[sp.op, sp.name, round(sp.start - traced.spans[0].start, 4),
                   round(sp.end - sp.start, 4), sp.parent]
                  for sp in traced.spans],
    }), file=sys.stderr)
    out = metrics(walls, trace_walls, cpu, mem, setup_s, session_s,
                  traced, run.counts, store, written, bool(args.trace))
    print(json.dumps({"correct": failed == 0, "attempted": n_ops,
                      "failed": failed, "metrics": out}))
    return 0 if failed == 0 else 1


if __name__ == "__main__":
    sys.exit(main())
