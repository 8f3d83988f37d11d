"""Turn one run's measurements into the metrics the run prints."""

from __future__ import annotations

import os
from statistics import median

from perfbench.stats import percentile, tail_percentile
from perfbench.workloads import LOG_TABLES, MONITOR_QUERIES

# span name -> per-layer metric of its self time
LAYER_SPANS = {
    "rpc_fetch": "rpc_fetch.self_s",
    "rpc_json": "rpc_json.self_s",
    "tx_decode": "tx_decode.self_s",
    "write": "write.self_s",
    "api.claim": "api.claim_s",
    "api.status_update": "api.status_update_s",
    "api.index_state": "api.index_state_s",
    "api.failed_block": "api.failed_block_s",
    "api.compact": "api.compact_s",
    "api.translate": "api.translate_s",
    "api.build": "api.build_s",
    "api.exec": "api.exec_s",
}
COUNTS = ("rpc_fetch.docs", "rpc_fetch.doc_bytes", "rpc_json.rows",
          "tx_decode.msgs", "write.rows", "api.appends", "api.compactions")
SPARK = ("jobs", "stages", "tasks", "executor_run_s", "executor_cpu_s",
         "gc_s", "shuffle_read_bytes", "shuffle_write_bytes", "spill_bytes",
         "task_skew")


E2E_UNITS = {"setup_s": "s", "retained_mb": "MB", "op_p50_s": "s",
             "op_tail_s": "s", "cpu_s_per_op": "s", "ops_per_s": "1/s"}


def unit(name: str) -> str:
    if name in E2E_UNITS:
        return E2E_UNITS[name]
    if name.endswith("_s"):
        return "s"
    if name.endswith("_mb"):
        return "MB"
    if name.endswith("bytes"):
        return "bytes"
    if name in ("spark.task_skew", "trace.overhead"):
        return "ratio"
    return "count"


def store_files(store: str) -> dict[str, int]:
    """Data files the program wrote (state logs excluded): path -> bytes."""
    out = {}
    for top in os.listdir(store):
        if top in LOG_TABLES or top.startswith("_"):
            continue
        for d, _, files in os.walk(os.path.join(store, top)):
            for f in files:
                if f.endswith(".parquet"):
                    p = os.path.join(d, f)
                    out[p] = os.path.getsize(p)
    return out


def end_to_end(walls, cpu, mem, setup_s) -> dict[str, float]:
    n = len(walls)
    return {
        "setup_s": median(setup_s),
        "retained_mb": mem["retained_mb"],
        "op_p50_s": median(walls),
        "op_tail_s": percentile(walls, tail_percentile(n)),
        "cpu_s_per_op": cpu.total / n,
        "ops_per_s": n / sum(walls),
    }


def per_layer(tracer, counts, trace_walls, walls, cpu, mem, n_ops,
              session_s, store, written) -> dict[str, float]:
    """Per-layer metrics, each per traced op (counts and times alike), so
    the layer self times plus ``trace.remainder_s`` add up to
    ``trace.op_wall_s``."""
    k = max(1, len(trace_walls))
    selfs = tracer.self_times()
    out: dict[str, float] = {"session.start_s": session_s[0]}
    for span, name in LAYER_SPANS.items():
        out[name] = selfs.get(span, 0.0) / k
    for name in COUNTS:
        out[name] = counts.get(name, 0) / k
    out["api.log_files"] = sum(
        len([f for f in os.listdir(os.path.join(store, t))
             if f.endswith(".parquet")])
        for t in LOG_TABLES if os.path.isdir(os.path.join(store, t)))
    out["write.files"] = len(written) / n_ops
    out["write.bytes"] = sum(written.values()) / n_ops
    for q in MONITOR_QUERIES:
        d = tracer.durations(f"monitor.{q}")
        out[f"monitor.{q}.p50_s"] = median(d) if d else 0.0
    sp = tracer.spark_totals()
    for f in SPARK:
        v = getattr(sp, f)
        out[f"spark.{f}"] = v if f == "task_skew" else v / k
    out["proc.driver_py_cpu_s"] = cpu.driver_py / n_ops
    out["proc.jvm_cpu_s"] = cpu.jvm / n_ops
    out["proc.pyworker_cpu_s"] = cpu.pyworker / n_ops
    out["proc.jit_cpu_s"] = cpu.jit / n_ops
    out["proc.peak_rss_mb"] = mem["peak_rss_mb"]
    out["trace.op_wall_s"] = sum(trace_walls) / k
    # everything no layer claims: the op's own time between calls and
    # the monitor query spans' time outside their api calls
    out["trace.remainder_s"] = sum(
        v for n, v in selfs.items() if n not in LAYER_SPANS) / k
    out["trace.overhead"] = (median(trace_walls) / median(walls) - 1.0
                             if trace_walls and walls else 0.0)
    return out


def metrics(walls, trace_walls, cpu, mem, setup_s, session_s, tracer,
            counts, store, written, trace: bool) -> dict:
    if trace:
        vals = per_layer(tracer, counts, trace_walls, walls, cpu, mem,
                         len(walls) + len(trace_walls), session_s, store,
                         written)
    else:
        vals = end_to_end(walls, cpu, mem, setup_s)
    return {k: {"value": v, "unit": unit(k)} for k, v in vals.items()}
