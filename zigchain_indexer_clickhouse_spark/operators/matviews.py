"""Materialized-view, dictionary, mutation, and storage-stats surface
(#68-74) — the remaining reference features from the ClickHouse schema
layer (scripts/init_clickhouse.js, src/database/clickhouse_queries.js).

The reference maintains three SummingMergeTree materialized views
(daily block / tx / event-type rollups, init_clickhouse.js:377-436), a
HASHED dictionary over blocks (init_clickhouse.js:440-461), rewrites
DELETE/UPDATE into async `ALTER TABLE ... DELETE/UPDATE` mutations
(clickhouse_queries.js:12-58), and reports per-table storage from
`system.parts` (init_clickhouse.js:497-520).

Spark-first mapping:
- SummingMergeTree MV → the same rollup as a one-shuffle partial-agg
  groupBy (batch), plus an update-mode streaming twin
  (`stream_mv_daily` in streaming/event_stream.py) for the
  incremental-maintenance semantics.
- HASHED dictionary + dictGet → broadcast hash join: the dim is built
  once, shipped to every executor, and lookups are map-side — exactly
  ClickHouse's in-memory hashed dict, minus the refresh LIFETIME.
- ALTER DELETE/UPDATE mutation → copy-on-write partition rewrite:
  only height-buckets containing matches are rewritten; the outputs
  here expose exactly that per-bucket rewrite set.
- system.parts stats → per-table row/byte/partition profile computed
  from the data (parquet footers carry the same info at zero cost in a
  real deployment; computing from rows keeps the oracle replayable).
"""

from __future__ import annotations

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F

from zigchain_indexer_clickhouse_spark.catalog import load
from zigchain_indexer_clickhouse_spark.plans.registry import register

# Shared blocks-analog derivation (same as ingest_blocks, #1): one block
# per 10 events, created_at = latest event ts in the block.
_BLOCKS_SQL = """
      SELECT CAST(floor(event_id / 10) AS BIGINT) AS height,
             COUNT(*) AS txs_results_count,
             CAST(SUM(CASE WHEN event_type = 'error' THEN 1 ELSE 0 END) AS BIGINT)
               AS finalize_events_count,
             MAX(ts) AS created_at
      FROM events GROUP BY 1
"""


def _blocks(spark: SparkSession, sf_dir: str) -> DataFrame:
    e = load(spark, sf_dir, "events")
    return e.groupBy(
        F.floor(F.col("event_id") / 10).cast("long").alias("height")
    ).agg(
        F.count("*").alias("txs_results_count"),
        F.sum(F.when(F.col("event_type") == "error", 1).otherwise(0))
        .cast("long")
        .alias("finalize_events_count"),
        F.max("ts").alias("created_at"),
    )


# --------------------------------------------------------------------------
# 68. mv_daily_block_stats (init_clickhouse.js:381-395)
# --------------------------------------------------------------------------
@register(
    "mv_daily_block_stats",
    oracle=f"""
    WITH blocks AS ({_BLOCKS_SQL})
    SELECT CAST(created_at AS DATE) AS date,
           COUNT(*) AS block_count,
           CAST(SUM(txs_results_count) AS BIGINT) AS total_txs,
           CAST(SUM(finalize_events_count) AS BIGINT) AS total_events
    FROM blocks GROUP BY 1
    """,
)
def mv_daily_block_stats(spark: SparkSession, sf_dir: str) -> DataFrame:
    """mv_daily_block_stats (init_clickhouse.js:381-395): daily block /
    tx / event volume. The SummingMergeTree target collapses to a
    partial-agg groupBy — two map-side-combinable shuffles end to end
    (blocks rollup, then ~one row per day). The streaming twin
    `stream_mv_daily` maintains it incrementally like the MV does."""
    b = _blocks(spark, sf_dir)
    return b.groupBy(F.to_date("created_at").alias("date")).agg(
        F.count("*").alias("block_count"),
        F.sum("txs_results_count").cast("long").alias("total_txs"),
        F.sum("finalize_events_count").cast("long").alias("total_events"),
    )


# --------------------------------------------------------------------------
# 69. mv_daily_tx_stats (init_clickhouse.js:398-416)
# --------------------------------------------------------------------------
@register(
    "mv_daily_tx_stats",
    oracle=f"""
    WITH blocks AS ({_BLOCKS_SQL}),
    txs AS (
      SELECT CAST(floor(event_id / 10) AS BIGINT) AS height,
             CAST(round(value * 100) AS BIGINT) AS gas_used,
             CASE WHEN event_type = 'error' THEN 1 ELSE 0 END AS code
      FROM events
    )
    SELECT CAST(b.created_at AS DATE) AS date,
           COUNT(*) AS tx_count,
           CAST(SUM(t.gas_used) AS BIGINT) AS total_gas_used,
           ROUND(AVG(t.gas_used), 2) AS avg_gas_used,
           CAST(SUM(t.code) AS BIGINT) AS failed_txs
    FROM txs t JOIN blocks b ON t.height = b.height
    GROUP BY 1
    """,
)
def mv_daily_tx_stats(spark: SparkSession, sf_dir: str) -> DataFrame:
    """mv_daily_tx_stats (init_clickhouse.js:398-416): per-day tx count,
    gas totals, failure count — the `txs JOIN blocks ON height` rollup.
    The blocks side is tiny relative to txs (1:10 here, 1:many in a real
    chain), so it is broadcast: the join is map-side and the only
    shuffle is the final ~one-row-per-day aggregate. Gas is integer
    per-row so cross-engine sums are exact; only the avg is rounded."""
    txs = load(spark, sf_dir, "events").select(
        F.floor(F.col("event_id") / 10).cast("long").alias("height"),
        F.round(F.col("value") * 100).cast("long").alias("gas_used"),
        F.when(F.col("event_type") == "error", 1).otherwise(0).alias("code"),
    )
    b = _blocks(spark, sf_dir).select("height", "created_at")
    return (
        txs.join(F.broadcast(b), "height")
        .groupBy(F.to_date("created_at").alias("date"))
        .agg(
            F.count("*").alias("tx_count"),
            F.sum("gas_used").cast("long").alias("total_gas_used"),
            F.round(F.avg("gas_used"), 2).alias("avg_gas_used"),
            F.sum("code").cast("long").alias("failed_txs"),
        )
    )


# --------------------------------------------------------------------------
# 70. mv_event_type_stats (init_clickhouse.js:419-436)
# --------------------------------------------------------------------------
@register(
    "mv_event_type_stats",
    oracle=f"""
    WITH blocks AS ({_BLOCKS_SQL})
    SELECT CAST(b.created_at AS DATE) AS date, e.event_type AS type,
           COUNT(*) AS event_count
    FROM events e
    JOIN blocks b ON CAST(floor(e.event_id / 10) AS BIGINT) = b.height
    GROUP BY 1, 2
    """,
)
def mv_event_type_stats(spark: SparkSession, sf_dir: str) -> DataFrame:
    """mv_event_type_stats (init_clickhouse.js:419-436): daily event-type
    distribution via `tx_events JOIN blocks ON height`. Broadcast the
    block→date map; single (date, type) aggregate shuffle — low
    cardinality, so partial aggregation collapses almost everything
    map-side."""
    e = load(spark, sf_dir, "events").select(
        F.floor(F.col("event_id") / 10).cast("long").alias("height"),
        F.col("event_type").alias("type"),
    )
    b = _blocks(spark, sf_dir).select("height", "created_at")
    return (
        e.join(F.broadcast(b), "height")
        .groupBy(F.to_date("created_at").alias("date"), "type")
        .agg(F.count("*").alias("event_count"))
    )


# --------------------------------------------------------------------------
# 71. dict_lookup — HASHED dictionary / dictGet (init_clickhouse.js:440-461)
# --------------------------------------------------------------------------
@register(
    "dict_lookup",
    oracle=f"""
    WITH blocks AS ({_BLOCKS_SQL})
    SELECT e.event_id, CAST(floor(e.event_id / 10) AS BIGINT) AS height,
           e.event_type,
           b.created_at AS block_time,
           CAST(b.txs_results_count AS BIGINT) AS block_tx_count
    FROM events e
    JOIN blocks b ON CAST(floor(e.event_id / 10) AS BIGINT) = b.height
    WHERE e.event_type IN ('purchase', 'error')
    """,
)
def dict_lookup(spark: SparkSession, sf_dir: str) -> DataFrame:
    """dict_blocks / dictGet analog (init_clickhouse.js:440-461): the
    reference keeps blocks in a HASHED in-memory dictionary so any query
    can do O(1) height→attributes lookups. Spark's equivalent is an
    explicit broadcast hash join: the dict is built once, shipped to
    every executor, and each probe is map-side — no shuffle of the fact
    stream, identical to ClickHouse's dictGet minus the LIFETIME
    refresh (a real deployment would rebuild the broadcast per batch)."""
    e = load(spark, sf_dir, "events").filter(
        F.col("event_type").isin("purchase", "error")
    )
    dict_blocks = _blocks(spark, sf_dir).select(
        "height",
        F.col("created_at").alias("block_time"),
        F.col("txs_results_count").cast("long").alias("block_tx_count"),
    )
    return e.withColumn(
        "height", F.floor(F.col("event_id") / 10).cast("long")
    ).join(F.broadcast(dict_blocks), "height").select(
        "event_id", "height", "event_type", "block_time", "block_tx_count"
    )


# --------------------------------------------------------------------------
# 72. mutation_delete — ALTER TABLE ... DELETE (clickhouse_queries.js:12-30)
# --------------------------------------------------------------------------
@register(
    "mutation_delete",
    oracle="""
    SELECT CAST(floor(o_orderkey / 1000) AS BIGINT) AS height_bucket,
           CAST(SUM(CASE WHEN o_orderstatus = 'F' THEN 1 ELSE 0 END) AS BIGINT)
             AS deleted_rows,
           CAST(SUM(CASE WHEN o_orderstatus <> 'F' THEN 1 ELSE 0 END) AS BIGINT)
             AS surviving_rows,
           CASE WHEN SUM(CASE WHEN o_orderstatus = 'F' THEN 1 ELSE 0 END) > 0
                THEN 1 ELSE 0 END AS rewritten
    FROM orders GROUP BY 1
    """,
)
def mutation_delete(spark: SparkSession, sf_dir: str) -> DataFrame:
    """`DELETE FROM work_queue WHERE status='done'` → the reference
    rewrites it as an async `ALTER TABLE ... DELETE` mutation
    (clickhouse_queries.js:12-30; fired at :193 and :257). On parquet
    the same operation is a copy-on-write partition rewrite, and this
    plan computes its blast radius: per height-bucket, rows deleted vs
    surviving and whether the bucket needs rewriting at all — buckets
    with rewritten=0 are left untouched, which is what keeps mutations
    cheap at 100 TB (only partitions containing matches are rewritten)."""
    o = load(spark, sf_dir, "orders")
    hit = F.when(F.col("o_orderstatus") == "F", 1).otherwise(0)
    return (
        o.groupBy(
            F.floor(F.col("o_orderkey") / 1000).cast("long").alias("height_bucket")
        )
        .agg(
            F.sum(hit).cast("long").alias("deleted_rows"),
            F.sum(1 - hit).cast("long").alias("surviving_rows"),
            F.max(hit).cast("int").alias("rewritten"),
        )
    )


# --------------------------------------------------------------------------
# 73. mutation_update — ALTER TABLE ... UPDATE (clickhouse_queries.js:32-58)
# --------------------------------------------------------------------------
@register(
    "mutation_update",
    oracle="""
    SELECT o_orderkey AS id,
           o_orderstatus AS old_status,
           CASE WHEN o_orderstatus = 'P' AND o_orderdate < DATE '1995-06-01'
                THEN 'O' ELSE o_orderstatus END AS new_status,
           CAST(CASE WHEN o_orderstatus = 'P' AND o_orderdate < DATE '1995-06-01'
                     THEN o_orderkey % 4 + 1 ELSE o_orderkey % 4 END AS INT)
             AS attempts
    FROM orders
    WHERE o_orderstatus = 'P'
    """,
)
def mutation_update(spark: SparkSession, sf_dir: str) -> DataFrame:
    """`UPDATE work_queue SET status='pending', attempts=attempts+1
    WHERE status='processing' AND updated_at < cutoff` — the stuck-item
    reset, which the reference converts to `ALTER TABLE ... UPDATE`
    (clickhouse_queries.js:32-58). Declaratively this is a conditional
    column rewrite (CASE WHEN) over the matching partition set — same
    copy-on-write story as mutation_delete; non-matching rows pass
    through byte-identical so unchanged column chunks stay shareable."""
    o = load(spark, sf_dir, "orders").filter(F.col("o_orderstatus") == "P")
    stuck = (F.col("o_orderstatus") == "P") & (
        F.col("o_orderdate") < F.lit("1995-06-01").cast("date")
    )
    attempts = (F.col("o_orderkey") % 4).cast("int")
    return o.select(
        F.col("o_orderkey").alias("id"),
        F.col("o_orderstatus").alias("old_status"),
        F.when(stuck, F.lit("O")).otherwise(F.col("o_orderstatus")).alias("new_status"),
        F.when(stuck, attempts + 1).otherwise(attempts).cast("int").alias("attempts"),
    )


# --------------------------------------------------------------------------
# 74. table_storage_stats — system.parts profile (init_clickhouse.js:497-520)
# --------------------------------------------------------------------------
@register(
    "table_storage_stats",
    oracle="""
    SELECT 'orders' AS tbl, COUNT(*) AS n_rows,
           CAST(SUM(strlen(o_orderstatus)
                    + strlen(o_orderpriority) + 8 * 4) AS BIGINT)
             AS est_bytes,
           CAST(COUNT(DISTINCT floor(o_orderkey / 1000)) AS BIGINT) AS n_parts
    FROM orders
    UNION ALL
    SELECT 'lineitem', COUNT(*),
           CAST(SUM(strlen(l_returnflag)
                    + strlen(l_linestatus) + 8 * 9) AS BIGINT),
           CAST(COUNT(DISTINCT floor(l_orderkey / 1000)) AS BIGINT)
    FROM lineitem
    UNION ALL
    SELECT 'events', COUNT(*),
           CAST(SUM(strlen(event_type) + strlen(props) + 8 * 3)
                AS BIGINT),
           CAST(COUNT(DISTINCT floor(event_id / 10000)) AS BIGINT)
    FROM events
    """,
)
def table_storage_stats(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Per-table storage profile — the `system.parts` size/rows/parts
    report (init_clickhouse.js:497-520), computed from the data with a
    fixed per-type size model so the oracle replays it. Each branch is
    one scan-and-aggregate (no shuffle beyond the 1-row agg); in a real
    deployment the same numbers come free from parquet footers /
    catalog statistics, and the unioned plan shape is identical."""

    def stats(tbl: str, str_cols: list[str], n_num: int, key_expr, part_div: int):
        df = load(spark, sf_dir, tbl)
        size = sum((F.octet_length(c) for c in str_cols), F.lit(8 * n_num))
        return df.agg(
            F.lit(tbl).alias("tbl"),
            F.count("*").alias("n_rows"),
            F.sum(size).cast("long").alias("est_bytes"),
            F.countDistinct(F.floor(key_expr / part_div)).cast("long").alias("n_parts"),
        )

    return (
        stats("orders", ["o_orderstatus", "o_orderpriority"], 4,
              F.col("o_orderkey"), 1000)
        .unionAll(stats("lineitem", ["l_returnflag", "l_linestatus"], 9,
                        F.col("l_orderkey"), 1000))
        .unionAll(stats("events", ["event_type", "props"], 3,
                        F.col("event_id"), 10000))
    )


# --------------------------------------------------------------------------
# 91. partition_ttl — TTL-based partition lifecycle (DROP PARTITION analog)
# --------------------------------------------------------------------------
@register(
    "partition_ttl",
    oracle="""
    SELECT date_trunc('month', o_orderdate) AS part_month,
           COUNT(*) AS n_rows,
           CAST(CASE WHEN date_trunc('month', o_orderdate)
                          < DATE '1995-01-01' THEN 1 ELSE 0 END AS INT)
             AS expired
    FROM orders
    GROUP BY 1
    """,
)
def partition_ttl(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Partition TTL sweep: per month-partition row counts plus the
    expired flag against a retention cutoff — the planning query behind
    ClickHouse's `TTL ... DELETE` / `ALTER TABLE DROP PARTITION`
    (the reference partitions by height range, src/database/partition.js,
    and relies on partition-level lifecycle for cleanup). On parquet the
    execution is a metadata-only directory delete of expired partitions
    — no data is read or rewritten, which is the entire point of
    partition-aligned retention at 100 TB; this plan is the decision
    input, one partial-agg shuffle wide."""
    o = load(spark, sf_dir, "orders")
    part = F.date_trunc("month", "o_orderdate")
    return o.groupBy(part.cast("date").alias("part_month")).agg(
        F.count("*").alias("n_rows"),
        F.max(
            F.when(part.cast("date") < F.lit("1995-01-01").cast("date"), 1).otherwise(0)
        ).cast("int").alias("expired"),
    )


# --------------------------------------------------------------------------
# 143. mv_incremental_refresh — diff-driven partition-scoped MV rebuild
# --------------------------------------------------------------------------
def _mv_refresh_oracle() -> str:
    from zigchain_indexer_clickhouse_spark.operators.ch_idioms import (
        _SNAP_A_COND,
    )

    return f"""
    WITH snap_a AS (
      SELECT CAST(floor(event_id / 10) AS BIGINT) AS h,
             COUNT(*) AS n, MAX(ts) AS ca
      FROM events WHERE {_SNAP_A_COND} GROUP BY 1
    ),
    snap_b AS (
      SELECT CAST(floor(event_id / 10) AS BIGINT) AS h,
             COUNT(*) AS n, MAX(ts) AS ca
      FROM events GROUP BY 1
    ),
    diff AS (
      SELECT b.h FROM snap_b b LEFT JOIN snap_a a ON a.h = b.h
      WHERE a.h IS NULL OR a.n <> b.n OR a.ca <> b.ca
    ),
    blocks AS ({_BLOCKS_SQL}),
    days AS (
      SELECT DISTINCT CAST(created_at AS DATE) AS date FROM blocks
      WHERE height IN (SELECT h FROM diff)
    )
    SELECT CAST(b.created_at AS DATE) AS date,
           COUNT(*) AS block_count,
           CAST(SUM(txs_results_count) AS BIGINT) AS total_txs,
           CAST(SUM(finalize_events_count) AS BIGINT) AS total_events
    FROM blocks b
    WHERE CAST(b.created_at AS DATE) IN (SELECT date FROM days)
    GROUP BY 1
    """


@register("mv_incremental_refresh", oracle=_mv_refresh_oracle())
def mv_incremental_refresh(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Incremental MV maintenance, composed end-to-end: the snapshot
    diff (#134, ch_idioms.py) names the changed/added heights, those
    heights name their affected DAYS, and only those days' MV rows
    (mv_daily_block_stats, #68) recompute. The full-refresh trap at
    100 TB is rebuilding every partition for a one-block change; this
    plan touches partitions ∝ the change set.

    Plan: the change set collapses to a distinct-day projection (tiny
    — broadcast), which prunes the blocks scan via a broadcast
    semi-join BEFORE the aggregate; with date-partitioned storage the
    same predicate becomes literal partition pruning. The recompute
    itself is the MV's own two-agg shape, just filtered."""
    from zigchain_indexer_clickhouse_spark.operators.ch_idioms import (
        snapshot_diff,
    )

    blocks = _blocks(spark, sf_dir)
    changed = snapshot_diff(spark, sf_dir).select("height")
    days = (
        blocks.join(changed, "height", "leftsemi")
        .select(F.to_date("created_at").alias("date"))
        .distinct()
    )
    return (
        blocks.withColumn("date", F.to_date("created_at"))
        .join(F.broadcast(days), "date", "leftsemi")
        .groupBy("date")
        .agg(
            F.count("*").alias("block_count"),
            F.sum("txs_results_count").cast("long").alias("total_txs"),
            F.sum("finalize_events_count").cast("long").alias("total_events"),
        )
    )


# --------------------------------------------------------------------------
# 178. ttl_group_by_rollup — ClickHouse `TTL ... GROUP BY` aging rollup
# --------------------------------------------------------------------------
TTL_ROLLUP_CUTOFF = "1997-01-01"


@register(
    "ttl_group_by_rollup",
    oracle=f"""
    SELECT CAST(date_trunc('month', o_orderdate) AS DATE) AS part_month,
           o_orderstatus, 'rolled' AS granularity,
           CAST(COUNT(*) AS BIGINT) AS n_rows,
           CAST(SUM(CAST(round(o_totalprice * 100) AS BIGINT)) AS BIGINT)
             AS total_cents,
           CAST(MIN(o_orderkey) AS BIGINT) AS min_key
    FROM orders WHERE o_orderdate < DATE '{TTL_ROLLUP_CUTOFF}'
    GROUP BY 1, 2
    UNION ALL
    SELECT CAST(date_trunc('month', o_orderdate) AS DATE), o_orderstatus,
           'raw', 1, CAST(round(o_totalprice * 100) AS BIGINT), o_orderkey
    FROM orders WHERE o_orderdate >= DATE '{TTL_ROLLUP_CUTOFF}'
    """,
)
def ttl_group_by_rollup(spark: SparkSession, sf_dir: str) -> DataFrame:
    """ClickHouse ``TTL o_orderdate + INTERVAL ... GROUP BY`` — aging
    ROLLS UP instead of deleting: rows older than the cutoff collapse
    to (month, status) aggregates while recent rows stay at full
    granularity, one unified relation (the storage idiom behind
    "keep raw for 90 days, monthly forever"). partition_ttl (#91) is
    the DELETE flavor; this is the GROUP BY flavor.

    Plan: ONE scan split by the cutoff predicate — the aged branch is
    a map-side-combinable aggregate (its exchange carries month×status
    partials only), the recent branch is a zero-shuffle projection;
    union of the two. On parquet the physical rewrite is
    partition-aligned exactly like #91: only aged partitions are ever
    rewritten, recent partitions are untouched — which is what makes
    TTL GROUP BY viable at 100 TB."""
    o = load(spark, sf_dir, "orders")
    cutoff = F.lit(TTL_ROLLUP_CUTOFF).cast("date")
    month = F.date_trunc("month", "o_orderdate").cast("date")
    cents = F.round(F.col("o_totalprice") * 100).cast("long")
    rolled = (
        o.filter(F.col("o_orderdate") < cutoff)
        .groupBy(month.alias("part_month"), "o_orderstatus")
        .agg(
            F.count("*").alias("n_rows"),
            F.sum(cents).alias("total_cents"),
            F.min("o_orderkey").alias("min_key"),
        )
        .select(
            "part_month", "o_orderstatus",
            F.lit("rolled").alias("granularity"),
            "n_rows", "total_cents", "min_key",
        )
    )
    raw = o.filter(F.col("o_orderdate") >= cutoff).select(
        month.alias("part_month"),
        "o_orderstatus",
        F.lit("raw").alias("granularity"),
        F.lit(1).cast("long").alias("n_rows"),
        cents.alias("total_cents"),
        F.col("o_orderkey").alias("min_key"),
    )
    return rolled.unionByName(raw)
