"""Spill / cache-eviction / task-retry resilience probe (VERDICT r6
item 4 / r7 item 7): the heaviest queries must return ORACLE-EXACT
results when the engine is squeezed, not just when it's comfortable.

Three phases, one constrained Spark application, results written to
RESILIENCE.json at the repo root:

1. **Squeezed memory + forced spill.** Driver heap cut 8g → 2g,
   ``spark.memory.fraction`` 0.6 → 0.25 with storageFraction 0.1
   (execution AND storage starved), and every documented spill
   threshold forced low (window / sort-merge-join / object-hash-agg
   sort fallback / shuffle force-spill), shuffle partitions cut to 8
   so individual partitions are ~8× fatter. The heaviest + iterative
   queries then run through the SAME oracle comparison as the
   correctness gate — pass means bit-identical answers while the
   engine spills.
2. **Mid-pipeline cache eviction.** Every `_shared_stage` persisted
   stage is dropped (``spark.catalog.clearCache()``) after the
   DataFrames are built but before the second collect — the
   InMemoryRelation recompute path must reproduce the first answer
   exactly (this is what a storage-pressure eviction does to a
   100 TB run mid-query).
3. **Task retry.** master ``local[8,3]`` (3 task attempts) with an
   injected first-attempt crash in partition 0 of a decode pipeline —
   the recompute must be deterministic (same rows after the retry).

What this CANNOT simulate: killing an executor process (local mode has
exactly one).

Usage: python tools/resilience_probe.py [sf_dir]
"""

from __future__ import annotations

import json
import os
import sys
import time

sys.path.insert(0, os.path.dirname(os.path.dirname(os.path.abspath(__file__))))

# MUST be set before the first SparkSession is built
os.environ["SPARK_GRAFT_EXTRA_CONF"] = ";".join(
    [
        "spark.driver.memory=2g",
        "spark.memory.fraction=0.25",
        "spark.memory.storageFraction=0.1",
        "spark.sql.shuffle.partitions=8",
        "spark.sql.windowExec.buffer.spill.threshold=128",
        "spark.sql.sortMergeJoinExec.buffer.spill.threshold=128",
        "spark.sql.objectHashAggregate.sortBased.fallbackThreshold=16",
        "spark.shuffle.spill.numElementsForceSpillThreshold=10000",
    ]
)
os.environ.setdefault("SPARK_GRAFT_CPUS", "8")

# the heaviest headline queries
SQUEEZED = [
    "ingest_pipeline_full",
    "q21_sole_failing_supplier",
    "rpc_ingest_flatten",
    "q5_local_volume",
]

EVICTION = ["msg_registry_decode", "tx_envelope_decode", "token_flow_graph"]


def _canon(df):
    cols = df.columns
    rows = [tuple(r) for r in df.collect()]
    order = sorted(range(len(cols)), key=lambda i: cols[i])
    return sorted(
        [tuple(str(r[i]) for i in order) for r in rows]
    )


def main() -> int:
    sf_dir = sys.argv[1] if len(sys.argv) > 1 else "/root/testdata/sf0.01"
    report = {"sf_dir": sf_dir, "conf": os.environ["SPARK_GRAFT_EXTRA_CONF"]}

    # phase 1: oracle-exact under squeeze — reuse the correctness gate
    # wholesale (same spark session picks up the squeezed conf)
    import tools.check_correctness as cc

    old_argv = sys.argv
    sys.argv = ["check_correctness.py", sf_dir, *SQUEEZED]
    t0 = time.time()
    rc = cc.main()
    sys.argv = old_argv
    report["squeezed_spill_gate"] = {
        "queries": SQUEEZED,
        "status": "oracle-exact" if rc == 0 else "FAILED",
        "wall_s": round(time.time() - t0, 1),
    }
    if rc != 0:
        _write(report)
        return rc

    # phase 2: mid-pipeline cache eviction — the shared persisted
    # stages are dropped between two collects of the same DataFrame;
    # the recompute must reproduce the first answer exactly
    from zigchain_indexer_clickhouse_spark.session import get_spark
    import __spark_entry__ as entry_mod

    spark = get_spark("resilience-probe")
    qs = entry_mod.queries()
    evic = {}
    for name in EVICTION:
        df = qs[name](spark, sf_dir)
        first = _canon(df)
        spark.catalog.clearCache()  # evict every persisted stage
        second = _canon(df)
        evic[name] = "recompute-exact" if first == second else "MISMATCH"
    report["cache_eviction"] = evic
    if any(v != "recompute-exact" for v in evic.values()):
        _write(report)
        return 1

    # phase 3: task retry — local[8,3] allows 3 attempts; partition 0's
    # first attempt crashes inside a decode-shaped pipeline, and the
    # retried result must equal an uninjected run
    spark.stop()
    retry_spark = get_spark("resilience-retry", master="local[8,3]")
    from pyspark.sql import functions as F
    from zigchain_indexer_clickhouse_spark.catalog import load
    from zigchain_indexer_clickhouse_spark.functions.protobuf import (
        pf_str,
        proto_encode_hex,
        proto_scan_hex,
    )

    e = load(retry_spark, sf_dir, "events").select("event_id", "user_id")

    def crash_once(it):
        from pyspark import TaskContext

        tc = TaskContext.get()
        if tc.partitionId() == 0 and tc.attemptNumber() == 0:
            raise RuntimeError("injected first-attempt crash")
        yield from it

    blob = proto_encode_hex(
        pf_str(1, F.col("user_id").cast("string")),
        pf_str(2, F.col("event_id").cast("string")),
    )
    base = (
        e.repartition(8, "event_id")
        .select(proto_scan_hex(blob, 2).alias("s"))
        .select(F.sum(F.length(F.concat_ws("", F.col("s")["ld"][2]))).alias("n"))
        .collect()[0]["n"]
    )
    injected = (
        e.repartition(8, "event_id")
        .rdd.mapPartitions(crash_once)
        .toDF(e.schema)
        .select(proto_scan_hex(blob, 2).alias("s"))
        .select(F.sum(F.length(F.concat_ws("", F.col("s")["ld"][2]))).alias("n"))
        .collect()[0]["n"]
    )
    report["task_retry"] = (
        "retried-exact" if base == injected else "MISMATCH"
    )
    _write(report)
    print(json.dumps(report, indent=2))
    return 0 if base == injected else 1


def _write(report) -> None:
    root = os.path.dirname(os.path.dirname(os.path.abspath(__file__)))
    with open(os.path.join(root, "RESILIENCE.json"), "w") as f:
        json.dump(report, f, indent=2)


if __name__ == "__main__":
    sys.exit(main())
