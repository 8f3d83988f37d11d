"""Benchmark harness: runs the headline queries at $SPARK_GRAFT_SF_DIR
(default /root/testdata/sf0.1) on local[$SPARK_GRAFT_CPUS] and prints
ONE JSON line:
  {"metric": "...", "value": total_sec, "unit": "sec",
   "queries": {name: sec, ...}, "sf": ...}

Each query is timed as the builder call plus ``df.count()`` on its
result, best of 2. A count lets Catalyst prune the plan down to what the
row count needs (for q1_pricing_summary, a key scan without the
aggregates), so it can time less than the query declares; timing a
``noop``-sink write of every column instead is ROADMAP Open item 1.
"""

from __future__ import annotations

import json
import os
import sys
import time

sys.path.insert(0, os.path.dirname(os.path.abspath(__file__)))

from zigchain_indexer_clickhouse_spark.plans import registry
from zigchain_indexer_clickhouse_spark.session import get_spark

# Headline set: the reference-parity ETL core + the heavy OLAP and
# training-data operators — the queries whose cost dominates a real run.
HEADLINE = (
    "ingest_blocks",
    "attrs_kv",
    "type_route_wasm",
    "replacing_dedup",
    "overlapping_ranges",
    "gap_detection",
    "sessionize",
    "time_bucket_rollup",
    "q1_pricing_summary",
    "q3_top_unshipped",
    "q5_local_volume",
    "q18_large_orders",
    "q9_product_profit",
    "q13_order_count_distribution",
    "q21_sole_failing_supplier",
    "rpc_ingest_flatten",
    "ingest_pipeline_full",
    "range_completeness",
    "ann_cosine_topk",
    "doc_fingerprint",
    "tfidf_top_terms",
    "mv_daily_tx_stats",
    "bucketed_colocated_join",
    "asof_join",
    "distinct_users_skew_safe",
    "contamination_check",
    "gopher_quality_filter",
)


def _run_headline(spark, qs, sf_dir) -> dict[str, float]:
    timings: dict[str, float] = {}
    for name in HEADLINE:
        # best-of-2: the steady-state cost (second run reuses JVM-warm
        # code paths and OS page cache, like any long-lived deployment);
        # min also shields the recorded number from host noise
        best, n = float("inf"), 0
        for _ in range(2):
            t0 = time.perf_counter()
            df = qs[name](spark, sf_dir)
            n = df.count()
            best = min(best, time.perf_counter() - t0)
        timings[name] = round(best, 3)
        print(f"# {name}: {n} rows in {timings[name]}s", file=sys.stderr)
    return timings


def _cpu_jiffies() -> tuple[int, int]:
    """(steal, total) jiffies from /proc/stat's aggregate cpu line.

    This box is a VM guest: host-side contention shows up as STEAL
    time, which guest loadavg cannot see — an idle-looking guest can
    still run 2x slow (observed in r12: every shuffle-heavy headline
    ~2x its r11-idle time on an identical tree at loadavg 0.04, while
    steal spiked to 11% under load). Recording steal makes such runs
    self-labeling the same way loadavg does for guest-side contention.
    """
    try:
        with open("/proc/stat") as f:
            parts = f.readline().split()[1:]
        vals = [int(x) for x in parts]
        return (vals[7] if len(vals) > 7 else 0, sum(vals))
    except (OSError, ValueError, IndexError):
        return (0, 0)


def _steal_pct(before: tuple[int, int], after: tuple[int, int]) -> float | None:
    dt = after[1] - before[1]
    if dt <= 0:
        return None
    return round(100.0 * (after[0] - before[0]) / dt, 2)


def main() -> None:
    sf_dir = os.environ.get("SPARK_GRAFT_SF_DIR", "/root/testdata/sf0.1")
    sf = sf_dir.rstrip("/").rsplit("sf", 1)[-1]
    spark = get_spark("bench")
    qs = registry.queries()

    # warm the JVM + parquet footers with a trivial action
    qs["max_height"](spark, sf_dir).collect()

    # BENCH_r08 postmortem (VERDICT r8 "What's wrong" #1): a snapshot
    # taken under machine contention misreported the engine by ~40%.
    # First, WAIT (bounded) for the host to go quiet — the driver
    # sequences the bench after its test battery, so the 1-minute load
    # at entry is usually the tail of someone else's work draining
    # (VERDICT r11 next #5 wants loadavg_at_start < 1); then record the
    # load so any still-contaminated run is self-labeling, and re-run
    # once when the box never settled.
    wait_budget = float(os.environ.get("SPARK_GRAFT_BENCH_IDLE_WAIT", "180"))
    waited = 0.0
    while os.getloadavg()[0] > 1.0 and waited < wait_budget:
        time.sleep(10)
        waited += 10
    if waited:
        print(f"# waited {waited:.0f}s for idle "
              f"(load now {os.getloadavg()[0]:.1f})", file=sys.stderr)
    load_before = os.getloadavg()
    steal_before = _cpu_jiffies()
    timings = _run_headline(spark, qs, sf_dir)
    steal_pct = _steal_pct(steal_before, _cpu_jiffies())
    retried = False
    if load_before[0] > 4.0:  # someone else's work was running
        print(f"# load {load_before[0]:.1f} at start — re-running once",
              file=sys.stderr)
        retried = True
        second = _run_headline(spark, qs, sf_dir)
        timings = {k: min(timings[k], second[k]) for k in timings}

    total = round(sum(timings.values()), 3)
    print(
        json.dumps(
            {
                "metric": "headline_queries_total_time",
                "value": total,
                "unit": "sec",
                "queries": timings,
                "sf": float(sf) if sf.replace(".", "").isdigit() else sf,
                "loadavg_at_start": [round(x, 2) for x in load_before],
                "loadavg_at_end": [round(x, 2) for x in os.getloadavg()],
                "steal_pct": steal_pct,
                "contention_retry": retried,
            }
        )
    )
    spark.stop()


if __name__ == "__main__":
    main()
