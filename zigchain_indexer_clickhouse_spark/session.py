"""SparkSession factory with scale-appropriate defaults.

Tuned for correctness tests on local[N] but with settings chosen for a
1000-executor cluster: AQE for runtime re-planning (skew joins, shuffle
coalescing), Arrow for any pandas exchange, and partition sizing that
keeps scan tasks ~128 MB.
"""

from __future__ import annotations

import os
import tempfile

from pyspark.sql import SparkSession


def get_spark(app_name: str = "zigchain-indexer-spark", master: str | None = None) -> SparkSession:
    """Build (or reuse) a SparkSession with the engine's defaults.

    ``master`` defaults to ``local[$SPARK_GRAFT_CPUS]`` locally; on a real
    cluster the environment's master is used untouched.
    """
    cpus = os.environ.get("SPARK_GRAFT_CPUS", "*")
    builder = (
        SparkSession.builder.appName(app_name)
        # The gate runs every operator in one JVM, and the persisted
        # shared stages plus their analyzed plans accumulate on the
        # driver heap over the run; the JVM default 1g leaves no
        # headroom for that. Only effective when this builder creates the JVM — a
        # foreign session keeps its own heap.
        # SPARK_GRAFT_DRIVER_MEM wins over the legacy SPARK_DRIVER_MEMORY
        # name; one config site (a duplicate 8g config below used to
        # silently override this one — last-wins).
        .config("spark.driver.memory",
                os.environ.get("SPARK_GRAFT_DRIVER_MEM")
                or os.environ.get("SPARK_DRIVER_MEMORY", "8g"))
        # AQE: runtime shuffle-partition coalescing + skew-join splitting.
        .config("spark.sql.adaptive.enabled", "true")
        .config("spark.sql.adaptive.coalescePartitions.enabled", "true")
        .config("spark.sql.adaptive.skewJoin.enabled", "true")
        # A fixed pre-AQE width; AQE coalesces down. On a big cluster this
        # would be ~2-3x total cores.
        .config("spark.sql.shuffle.partitions", "32")
        # ~128 MB scan tasks — the parquet-side sweet spot at 100 TB.
        .config("spark.sql.files.maxPartitionBytes", str(128 * 1024 * 1024))
        # Arrow for every pandas_udf / mapInPandas exchange.
        .config("spark.sql.execution.arrow.pyspark.enabled", "true")
        # Broadcast anything under 32 MB — all our dims qualify, and so
        # does `blocks` (~1 MB of parquet heights at 1M blocks), which
        # the monitor's gap probe then hashed and broadcast per call;
        # pg_query's view of `blocks` in a join opts out with a merge
        # hint (api.IndexerAPI._register_views).
        .config("spark.sql.autoBroadcastJoinThreshold", str(32 * 1024 * 1024))
        # Runtime Bloom-filter injection on large shuffle joins — the
        # engine-side analog of the reference's bloom_filter skip
        # indexes (models.js:125,233,282): the probe side is pre-filtered
        # by a bloom built from the build side, cutting shuffled rows
        # before the exchange.
        .config("spark.sql.optimizer.runtime.bloomFilter.enabled", "true")
        # Streaming state store provider. Default HDFSBackedStateStore
        # keeps every version of state on the JVM heap — fine for the
        # test suite's small keyed state, fatal at 100 TB where keyed
        # state outgrows executor memory. SPARK_GRAFT_STATE_STORE=
        # rocksdb switches to RocksDBStateStoreProvider (off-heap,
        # spill-to-disk, incremental checkpoints) — the production
        # choice for large stateful streams; the drained outputs are
        # pinned identical across both providers in
        # tests/test_stream_restart.py (VERDICT r11 next #7).
        .config(
            "spark.sql.streaming.stateStore.providerClass",
            "org.apache.spark.sql.execution.streaming.state."
            "RocksDBStateStoreProvider"
            if os.environ.get("SPARK_GRAFT_STATE_STORE", "").lower()
            == "rocksdb"
            else "org.apache.spark.sql.execution.streaming.state."
            "HDFSBackedStateStoreProvider",
        )
        .config("spark.sql.session.timeZone", "UTC")
        # events.parquet carries TIMESTAMP(NANOS), which Spark rejects
        # by default; read as raw int64 nanos session-wide (the loader
        # truncates to microseconds). Set HERE, not inside a loader, so
        # a read never mutates session behavior as a side effect.
        .config("spark.sql.legacy.parquet.nanosAsLong", "true")
        # the 2026-08 testdata generation writes TIMESTAMP(MICROS,
        # isAdjustedToUTC=false), which Spark 4 would infer as
        # TIMESTAMP_NTZ; keep the older TimestampType reading so ts
        # arithmetic (cast-to-long epoch math) and DuckDB-under-UTC
        # comparisons stay identical across generations. The catalog
        # loader also scopes this per-read for foreign sessions.
        .config("spark.sql.parquet.inferTimestampNTZ.enabled", "false")
        # keep saveAsTable metadata out of the repo cwd (bucketed tables
        # store their data at explicit /tmp paths; this is the default
        # warehouse for anything that doesn't)
        .config(
            "spark.sql.warehouse.dir",
            os.path.join(tempfile.gettempdir(), "zic_spark_warehouse"),
        )
        .config("spark.ui.enabled", "false")
    )
    # last-wins overrides for harness probes (tools/resilience_probe.py
    # squeezes memory + forces spill paths this way): semicolon-
    # separated k=v pairs, applied after every default above
    extra = os.environ.get("SPARK_GRAFT_EXTRA_CONF", "")
    for kv in filter(None, (p.strip() for p in extra.split(";"))):
        k, _, v = kv.partition("=")
        builder = builder.config(k, v)
    if master is not None:
        builder = builder.master(master)
    elif "SPARK_MASTER" not in os.environ:
        builder = builder.master(f"local[{cpus}]")
    return builder.getOrCreate()
