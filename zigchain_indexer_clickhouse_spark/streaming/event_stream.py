"""Structured Streaming operators (SURVEY.md §2.4 #45-47).

The reference indexes a live chain: the orchestrator tails the RPC tip
and workers append per-block rows (orchestrator.js launchWorkers loop).
The Spark-native equivalent is Structured Streaming over an append-only
file source: ``readStream`` on the events table, watermarked windowed
aggregation, streaming dedup, and type-routed sinks.

These run with ``Trigger.availableNow`` into in-memory sinks so the
driver's batch harness can collect results; in production the same
plans write to partitioned parquet/kafka with checkpointing.

As of round 4 every streaming query carries a REAL DuckDB oracle: the
drained availableNow output is deterministic — stateless ops equal
their batch filter/join exactly, complete-mode aggs expose final
values, update-mode aggs are finalized per key (max = last cumulative
update, batch-count-independent), and append-mode watermarked windows
emit exactly the windows the final watermark (max event time − delay)
passed, which the oracle reproduces as a WHERE predicate. Stream-vs-
batch equivalence is additionally asserted in
tests/test_stream_batch_equiv.py.
"""

from __future__ import annotations

import hashlib
import os
import tempfile

from pyspark.sql import Column, DataFrame, SparkSession
from pyspark.sql import functions as F
from pyspark.sql.types import (
    DoubleType,
    LongType,
    StringType,
    StructField,
    StructType,
    TimestampType,
)

from zigchain_indexer_clickhouse_spark.plans.registry import register

# Raw schema of the NANOS-generation events.parquet (ts read as long,
# truncated to µs downstream). The MICROS generation reads ts as a
# plain timestamp instead — _read_event_stream picks per footer.
_EVENTS_SCHEMA = StructType(
    [
        StructField("event_id", LongType()),
        StructField("ts", LongType()),
        StructField("user_id", LongType()),
        StructField("event_type", StringType()),
        StructField("value", DoubleType()),
        StructField("props", StringType()),
    ]
)

_counter = 0


def _stream_dir(sf_dir: str) -> str:
    """The file stream source requires a DIRECTORY; stage a symlink to
    the events parquet in a deterministic temp dir per sf_dir."""
    key = hashlib.md5(sf_dir.encode()).hexdigest()[:8]
    d = os.path.join(tempfile.gettempdir(), f"zic_spark_stream_{key}")
    os.makedirs(d, exist_ok=True)
    link = os.path.join(d, "events.parquet")
    if not os.path.exists(link):
        try:
            os.symlink(os.path.join(sf_dir, "events.parquet"), link)
        except FileExistsError:
            pass  # concurrent process won the race; same target either way
    return d


def _read_event_stream(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Streaming read of the events table, generation-aware: the footer
    (inspected through the batch loader, a metadata-only read) decides
    whether ts arrives as NANOS-as-long (truncate to µs, the batch
    loader's exact arithmetic) or as a plain micros timestamp. The
    explicit schema is required by the file stream source either way."""
    # nanosAsLong is a session default (session.py); set only if unset.
    conf = "spark.sql.legacy.parquet.nanosAsLong"
    if spark.conf.get(conf, None) is None:
        spark.conf.set(conf, "true")
    # pin UTC exactly like the batch loader does: the streaming window
    # starts (w.start → date/day labels) are rendered in the session
    # zone, and the oracle compares naive-as-UTC (self-review r4: this
    # path bypassed catalog.load, so a foreign non-UTC session would
    # shift every daily label by the zone offset)
    tz_conf = "spark.sql.session.timeZone"
    if spark.conf.get(tz_conf) not in ("UTC", "Etc/UTC", "GMT"):
        spark.conf.set(tz_conf, "UTC")
    # what matters is the RAW footer type (the batch loader would have
    # normalized it), so probe the file directly — metadata-only read
    raw_ts_type = dict(
        spark.read.parquet(os.path.join(sf_dir, "events.parquet")).dtypes
    ).get("ts")
    if raw_ts_type == "bigint":
        raw = (
            spark.readStream.schema(_EVENTS_SCHEMA)
            .format("parquet")
            .load(_stream_dir(sf_dir))
        )
        return raw.withColumn("ts", F.timestamp_micros(F.expr("ts div 1000")))
    ts_schema = StructType(
        [
            f if f.name != "ts" else StructField("ts", TimestampType())
            for f in _EVENTS_SCHEMA.fields
        ]
    )
    return (
        spark.readStream.schema(ts_schema)
        .format("parquet")
        .load(_stream_dir(sf_dir))
    )


def _run_append_to_memory(df: DataFrame, name: str, mode: str = "append") -> DataFrame:
    """Drain the stream with availableNow into an in-memory table and
    return it as a batch DataFrame (test/driver harness path)."""
    global _counter
    _counter += 1
    qname = f"{name}_{_counter}"
    spark = df.sparkSession
    with tempfile.TemporaryDirectory(prefix=f"ckpt_{name}_") as ckpt:
        q = (
            df.writeStream.format("memory")
            .queryName(qname)
            .outputMode(mode)
            .option("checkpointLocation", ckpt)
            .trigger(availableNow=True)
            .start()
        )
        q.awaitTermination()
    return spark.table(qname)


# --------------------------------------------------------------------------
# 45. stream_event_counts — watermarked windowed counts
# --------------------------------------------------------------------------
@register(
    "stream_event_counts",
    oracle="""
    SELECT date_trunc('hour', ts) AS bucket, event_type,
           COUNT(*) AS n_events, ROUND(SUM(value), 2) AS total_value
    FROM events GROUP BY 1, 2
    """,
)
def stream_event_counts(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Streaming per-type hourly rollup with a 1-hour watermark for late
    data — the streaming twin of time_bucket_rollup. Complete-mode
    memory sink for harness collection; parquet/kafka sink + checkpoint
    in production. Complete mode makes the drained result FULLY
    deterministic (every window, final values), so this carries a real
    batch oracle instead of a rows-only check."""
    s = _read_event_stream(spark, sf_dir)
    agg = (
        s.withWatermark("ts", "1 hour")
        .groupBy(F.window("ts", "1 hour").alias("win"), "event_type")
        .agg(F.count("*").alias("n_events"), F.round(F.sum("value"), 2).alias("total_value"))
        .select(
            F.col("win.start").alias("bucket"), "event_type", "n_events", "total_value"
        )
    )
    global _counter
    _counter += 1
    qname = f"stream_event_counts_{_counter}"
    with tempfile.TemporaryDirectory(prefix="ckpt_sec_") as ckpt:
        q = (
            agg.writeStream.format("memory")
            .queryName(qname)
            .outputMode("complete")
            .option("checkpointLocation", ckpt)
            .trigger(availableNow=True)
            .start()
        )
        q.awaitTermination()
    return spark.table(qname)


# --------------------------------------------------------------------------
# 46. stream_dedup — streaming duplicate suppression
# --------------------------------------------------------------------------
@register(
    "stream_dedup",
    oracle="""
    SELECT DISTINCT ON (event_id) event_id, ts, user_id, event_type
    FROM events ORDER BY event_id
    """,
)
def stream_dedup(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Streaming dedup on event_id within the watermark horizon —
    the streaming ReplacingMergeTree: duplicate rows arriving within
    the state window are suppressed exactly once. Every unique key
    emits exactly one (its first) row, so the drained output is
    deterministic and oracle-comparable."""
    s = _read_event_stream(spark, sf_dir)
    deduped = s.withWatermark("ts", "1 hour").dropDuplicatesWithinWatermark(["event_id"])
    out = deduped.select("event_id", "ts", "user_id", "event_type")
    return _run_append_to_memory(out, "stream_dedup")


# --------------------------------------------------------------------------
# 47. stream_type_route — streaming type-specific routing
# --------------------------------------------------------------------------
@register(
    "stream_type_route",
    oracle="""
    SELECT event_id AS height,
           CASE WHEN event_type = 'click' THEN 'type_wasm'
                ELSE 'type_message' END AS route,
           user_id, ts
    FROM events WHERE event_type IN ('click', 'purchase')
    """,
)
def stream_type_route(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Streaming analog of the worker's wasm/message routing
    (worker.js:185-239): filter the stream per type and append to
    type-specific sinks. Harness variant routes two types into one
    memory sink with a route tag. Stateless → drained output equals
    the batch filter exactly, so it carries a real oracle."""
    s = _read_event_stream(spark, sf_dir)
    routed = s.filter(F.col("event_type").isin("click", "purchase")).select(
        F.col("event_id").alias("height"),
        F.when(F.col("event_type") == "click", "type_wasm")
        .otherwise("type_message")
        .alias("route"),
        "user_id",
        "ts",
    )
    return _run_append_to_memory(routed, "stream_type_route")


# --------------------------------------------------------------------------
# 75. stream_mv_daily — incrementally-maintained daily rollup (MV analog)
# --------------------------------------------------------------------------
@register(
    "stream_mv_daily",
    oracle="""
    SELECT CAST(date_trunc('day', ts) AS DATE) AS date,
           COUNT(*) AS event_count,
           -- CAST on both SUMs: DuckDB integer SUM -> HUGEINT, which
           -- hash-mismatches Spark's long at the driver (r4 fail class)
           CAST(SUM(CAST(round(value * 100) AS BIGINT)) AS BIGINT)
             AS total_gas,
           CAST(SUM(CASE WHEN event_type = 'error' THEN 1 ELSE 0 END)
                AS BIGINT) AS error_count
    FROM events GROUP BY 1
    """,
)
def stream_mv_daily(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Streaming twin of mv_daily_block_stats: the reference's
    SummingMergeTree materialized view (init_clickhouse.js:381-395) is
    an *incrementally maintained* rollup — every insert updates the
    day's partial sums. Structured Streaming's update-mode windowed
    aggregate is the exact analog: state holds one row per day, each
    micro-batch merges its partial sums into it. Watermark bounds the
    state like the MV's partition TTL would.

    The update-mode sink records every per-batch update, so the raw
    memory table carries one row per (day, batch-that-touched-it);
    the final per-day value is the MAX of its cumulative updates —
    batch-count-independent, hence deterministic and oracle-backed."""
    s = _read_event_stream(spark, sf_dir)
    agg = (
        s.withWatermark("ts", "1 day")
        .groupBy(F.window("ts", "1 day").alias("w"))
        .agg(
            F.count("*").alias("event_count"),
            F.sum(F.round(F.col("value") * 100).cast("long")).alias("total_gas"),
            F.sum(F.when(F.col("event_type") == "error", 1).otherwise(0))
            .cast("long")
            .alias("error_count"),
        )
        .select(F.col("w.start").cast("date").alias("date"),
                "event_count", "total_gas", "error_count")
    )
    updates = _run_append_to_memory(agg, "stream_mv_daily", mode="update")
    # cumulative updates per day → final value = the row with the max
    # event_count (COUNT(*) is monotone across cumulative updates even
    # if a future value column went negative — F.max on every column
    # would silently pick a non-final state in that case)
    return updates.groupBy("date").agg(
        F.max("event_count").alias("event_count"),
        F.max_by("total_gas", "event_count").alias("total_gas"),
        F.max_by("error_count", "event_count").alias("error_count"),
    )


# --------------------------------------------------------------------------
# 48. stream_user_state — custom stateful operator (applyInPandasWithState)
# --------------------------------------------------------------------------
def _user_state_fn(key, pdf_iter, state):
    """Arbitrary per-key state: running event count + value total per
    user — the index_state-style progress counter as a custom stateful
    streaming operator. State survives across micro-batches."""
    import pandas as pd  # local import: runs on executors

    (user_id,) = key
    n, total = state.get if state.exists else (0, 0.0)
    for pdf in pdf_iter:
        n += len(pdf)
        total += float(pdf["value"].sum())
    state.update((n, total))
    yield pd.DataFrame(
        {
            "user_id": [user_id],
            "n_events": [n],
            "total_value": [round(total, 2)],
        }
    )


@register(
    "stream_user_state",
    oracle="""
    SELECT user_id, COUNT(*) AS n_events,
           ROUND(SUM(value), 2) AS total_value
    FROM events GROUP BY 1
    """,
)
def stream_user_state(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Custom stateful streaming via applyInPandasWithState: per-user
    running counters maintained in explicit state across micro-batches
    (the streaming analog of the reference's incrementally-updated
    index_state/progress rows). Arrow-batched; state is a compact
    (count, sum) tuple per key.

    Update mode records one cumulative row per (user, batch); the final
    per-user state is the row with the max event count (max_by), which
    makes the drained result batch-count-independent — the values sum
    2-decimal inputs, so the 2-digit round is exact on both engines and
    the query is oracle-backed."""
    s = _read_event_stream(spark, sf_dir)
    out = (
        s.select("user_id", "value")
        .groupBy("user_id")
        .applyInPandasWithState(
            _user_state_fn,
            outputStructType="user_id long, n_events long, total_value double",
            stateStructType="n long, total double",
            outputMode="update",
            timeoutConf="NoTimeout",
        )
    )
    updates = _run_append_to_memory(out, "stream_user_state", mode="update")
    return updates.groupBy("user_id").agg(
        F.max("n_events").alias("n_events"),
        F.max_by("total_value", "n_events").alias("total_value"),
    )


# --------------------------------------------------------------------------
# 80. stream_sessionize — native session windows on the event stream
# --------------------------------------------------------------------------
@register(
    "stream_sessionize",
    oracle="""
    WITH o AS (
      SELECT user_id, event_id, ts, value,
             -- >= not >: Spark's session_window treats [ts, ts+gap)
             -- windows that merely TOUCH (gap exactly 30:00) as
             -- non-overlapping, i.e. an exact-gap event starts a new
             -- session — the strict-overlap merge semantics
             CASE WHEN LAG(ts) OVER w IS NULL
                  OR ts - LAG(ts) OVER w >= INTERVAL 30 MINUTE
                  THEN 1 ELSE 0 END AS new_s
      FROM events WINDOW w AS (PARTITION BY user_id ORDER BY ts, event_id)
    ),
    s AS (
      SELECT *, SUM(new_s) OVER (PARTITION BY user_id ORDER BY ts, event_id
                                 ROWS UNBOUNDED PRECEDING) AS sid
      FROM o
    ),
    agg AS (
      SELECT user_id, MIN(ts) AS session_start,
             MAX(ts) + INTERVAL 30 MINUTE AS session_end,
             COUNT(*) AS n_events, ROUND(SUM(value), 2) AS session_value
      FROM s GROUP BY user_id, sid
    )
    SELECT user_id, session_start, session_end, n_events, session_value
    FROM agg
    WHERE session_end < (SELECT MAX(ts) - INTERVAL 1 HOUR FROM events)
    """,
)
def stream_sessionize(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Streaming twin of the batch `sessionize` operator (#31): Spark's
    native `session_window` merges events into gap-based sessions
    (30-minute inactivity) per user, incrementally, with watermark-
    bounded state — the streaming form of the lag+cumsum batch plan.
    State is one open session per active user, merged on arrival;
    closed sessions emit once the watermark passes the gap.

    The drained output is deterministic: the availableNow run's final
    watermark is max(ts) − 1 hour, and append mode emits exactly the
    sessions whose end (< the watermark) — the oracle reproduces the
    sessions with the lag+cumsum construction and applies that same
    emission predicate, and splits sessions with >= on the 30-minute
    gap to match session_window's strict-overlap merge (touching
    windows do NOT merge). (A session ending EXACTLY on the watermark
    is a theoretical strict-vs-inclusive boundary; with microsecond
    timestamps it has measure zero.)"""
    s = _read_event_stream(spark, sf_dir)
    agg = (
        s.withWatermark("ts", "1 hour")
        .groupBy("user_id", F.session_window("ts", "30 minutes").alias("w"))
        .agg(
            F.count("*").alias("n_events"),
            F.round(F.sum("value"), 2).alias("session_value"),
        )
        .select(
            "user_id",
            F.col("w.start").alias("session_start"),
            F.col("w.end").alias("session_end"),
            "n_events",
            "session_value",
        )
    )
    return _run_append_to_memory(agg, "stream_sessionize")


# --------------------------------------------------------------------------
# 93. stream_static_enrich — stream ⋈ static dimension (dictGet, streaming)
# --------------------------------------------------------------------------
@register(
    "stream_static_enrich",
    oracle="""
    SELECT e.event_id, e.user_id, e.event_type,
           p.lifetime_events, p.lifetime_value
    FROM events e JOIN (
      SELECT user_id, COUNT(*) AS lifetime_events,
             ROUND(SUM(value), 2) AS lifetime_value
      FROM events GROUP BY 1
    ) p USING (user_id)
    """,
)
def stream_static_enrich(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Stream-static join: the event stream enriched against a static
    per-user profile built from the batch table (the streaming form of
    dict_lookup / ClickHouse dictGet — every micro-batch probes the
    static side, which Spark re-plans per batch and broadcasts when
    small). No watermark needed: the static side is bounded, so the
    join is stateless — and therefore deterministic and oracle-backed."""
    from zigchain_indexer_clickhouse_spark.catalog import load

    profile = (
        load(spark, sf_dir, "events")
        .groupBy("user_id")
        .agg(
            F.count("*").alias("lifetime_events"),
            F.round(F.sum("value"), 2).alias("lifetime_value"),
        )
    )
    s = _read_event_stream(spark, sf_dir)
    enriched = s.join(profile, "user_id").select(
        "event_id",
        "user_id",
        "event_type",
        "lifetime_events",
        "lifetime_value",
    )
    return _run_append_to_memory(enriched, "stream_static_enrich")


# --------------------------------------------------------------------------
# 117. stream_block_ingest — the reference's LIVE mode: streaming fan-out
# --------------------------------------------------------------------------
@register(
    "stream_block_ingest",
    oracle="""
    WITH attrs AS (
      SELECT event_id // 10 AS height, event_id
      FROM events e, UNNEST(json_keys(e.props)) u(k)
    )
    SELECT table_name, n_rows FROM (
      SELECT 'blocks' AS table_name,
             CAST(COUNT(DISTINCT height) AS BIGINT) AS n_rows FROM attrs
      UNION ALL SELECT 'txs', COUNT(DISTINCT event_id) FROM attrs
      UNION ALL SELECT 'tx_event_attrs', COUNT(*) FROM attrs
    )
    """,
)
def stream_block_ingest(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Streaming twin of ingest_pipeline_full — the reference's live
    tail loop (indexer.js / orchestrator.js launchWorkers: poll the
    tip, extract, INSERT into every table). Spark-native live mode:
    readStream over the landing zone; each micro-batch builds block
    JSON, parses ONCE, and fans out to blocks/txs/tx_event_attrs via
    ``foreachBatch`` — the canonical multi-sink streaming pattern.

    foreachBatch is AT-LEAST-ONCE: a crashed-then-retried micro-batch
    re-invokes the function with the same batch_id. The fan-out is made
    idempotent by writing each table into a batchId-scoped partition
    directory with mode("overwrite") — a retry replaces its own
    previous (possibly partial) output instead of appending a second
    copy. This is the parquet-sink equivalent of the txn ledger a
    Delta/Iceberg sink would keep per (queryId, batchId).

    At 100 TB/day the same topology holds: availableNow drains a
    backlog in bounded batches; continuous triggers tail the tip; the
    per-batch fan-out stays a column-pruned projection of one parse.
    The summary counts over the WRITTEN files are deterministic (the
    stream dir holds one file, hence one batch; each height's events
    stay in it), so they carry a direct oracle — write fidelity is part
    of the check."""
    import shutil

    from zigchain_indexer_clickhouse_spark.sources.partitioned_write import (
        write_height_buckets,
    )
    from zigchain_indexer_clickhouse_spark.sources.rpc_json import (
        build_block_documents,
        parse_block_results,
    )
    from zigchain_indexer_clickhouse_spark.sources.scratch import scratch_dir

    base = scratch_dir(spark, "stream_ingest", sf_dir)
    shutil.rmtree(base, ignore_errors=True)

    def _fan_out(batch_df: DataFrame, batch_id: int) -> None:
        flat = (
            parse_block_results(build_block_documents(batch_df))
            .withColumn(
                "height_bucket", F.floor(F.col("height") / 10000).cast("long")
            )
            .persist()
        )
        txs = flat.groupBy(
            "height_bucket", "height", "tx_index", "code", "gas_wanted", "gas_used"
        ).agg(F.countDistinct("event_index").alias("n_events"))
        blocks = txs.groupBy("height_bucket", "height").agg(
            F.count("*").alias("n_txs"), F.sum("gas_used").alias("total_gas_used")
        )
        for name, df in (
            ("blocks", blocks),
            ("txs", txs),
            ("tx_event_attrs", flat),
        ):
            # batchId-scoped overwrite = idempotent under retry
            write_height_buckets(
                df, os.path.join(base, name, f"batch_id={batch_id}")
            )
        flat.unpersist()

    s = _read_event_stream(spark, sf_dir)
    with tempfile.TemporaryDirectory(prefix="ckpt_sbi_") as ckpt:
        q = (
            s.writeStream.foreachBatch(_fan_out)
            .option("checkpointLocation", ckpt)
            .trigger(availableNow=True)
            .start()
        )
        q.awaitTermination()

    from functools import reduce

    counts = [
        spark.read.parquet(os.path.join(base, name))
        .select(F.lit(name).alias("table_name"))
        .groupBy("table_name")
        .agg(F.count("*").alias("n_rows"))
        for name in ("blocks", "txs", "tx_event_attrs")
    ]
    return reduce(lambda a, b: a.unionAll(b), counts)


# --------------------------------------------------------------------------
# 137. stream_agg_states — streaming partial states + merge-on-read
# --------------------------------------------------------------------------
@register(
    "stream_agg_states",
    oracle="""
    SELECT event_type, strftime(ts, '%Y-%m') AS month,
           COUNT(*) AS n_events,
           ROUND(SUM(value), 2) AS sum_value,
           ROUND(MIN(value), 4) AS min_value,
           ROUND(MAX(value), 4) AS max_value
    FROM events GROUP BY 1, 2
    """,
)
def stream_agg_states(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Streaming twin of agg_states_merge (#127, engine_modifiers.py):
    the stream maintains AggregatingMergeTree-style DAILY partial
    states — count/sum/min/max per (event_type, day) in update mode,
    watermark-bounded state — and the read path merges states to the
    monthly answer with a second (batch) aggregate over the state
    table. tests/test_stream_batch_equiv.py asserts the merged output
    equals the batch operator's.

    At scale the update-mode sink is the state table (one row per
    type×day — storage ∝ days, not events); the monthly merge never
    touches raw events. Oracle-backed: per-(type, day) states are
    finalized (max = last cumulative update) before the monthly merge,
    so the result is batch-count-independent and equals the direct
    monthly aggregation."""
    s = _read_event_stream(spark, sf_dir)
    daily = (
        s.withWatermark("ts", "1 day")
        .groupBy(
            "event_type",
            F.window("ts", "1 day").alias("w"),
        )
        .agg(
            F.count("*").alias("cnt"),
            F.sum("value").alias("sum_v"),
            F.min("value").alias("min_v"),
            F.max("value").alias("max_v"),
        )
        .select(
            "event_type",
            F.date_format(F.col("w.start"), "yyyy-MM-dd").alias("day"),
            F.date_format(F.col("w.start"), "yyyy-MM").alias("month"),
            "cnt", "sum_v", "min_v", "max_v",
        )
    )
    states = _run_append_to_memory(daily, "stream_agg_states", mode="update")
    # update mode records cumulative per-batch rows; finalize each
    # (type, day) state first (max cnt = the last update), THEN run the
    # -Merge read over final states — batch-count-independent
    final = states.groupBy("event_type", "day", "month").agg(
        F.max("cnt").alias("cnt"),
        F.max_by("sum_v", "cnt").alias("sum_v"),
        F.min("min_v").alias("min_v"),
        F.max("max_v").alias("max_v"),
    )
    return final.groupBy("event_type", "month").agg(
        F.sum("cnt").cast("long").alias("n_events"),
        F.round(F.sum("sum_v"), 2).alias("sum_value"),
        F.round(F.min("min_v"), 4).alias("min_value"),
        F.round(F.max("max_v"), 4).alias("max_value"),
    )


# --------------------------------------------------------------------------
# 173. stream_heavy_hitters — stateful Misra-Gries topK over the stream
# --------------------------------------------------------------------------
# user_id hash-stripes for the stateful sketch: state is one ≤SH_M-entry
# counter dict per stripe, NOT per user — bounded memory no matter how
# many distinct users the stream ever sees.
SH_STRIPES = 16
SH_K = 150       # report users with count > N / SH_K
SH_M = 4 * SH_K  # MG counters per stripe (superset guarantee: M+1 > K)


def _mg_stripe_fn(key, pdf_iter, state):
    """Per-stripe streaming Misra-Gries: fold each micro-batch into the
    persistent counter dict (two parallel arrays in state), shrink to
    SH_M entries, and emit the CURRENT candidate set. Users hash to
    exactly one stripe, so a user's full global count accumulates in
    one sketch — the superset guarantee of the batch twin (#162)
    carries over per stripe."""
    import pandas as pd  # local import: runs on executors

    from zigchain_indexer_clickhouse_spark.operators.ch_aggregates import (
        _mg_shrink,
    )

    users, counts = state.get if state.exists else ([], [])
    d = dict(zip(users, counts))
    for pdf in pdf_iter:
        for u, c in pdf["user_id"].value_counts().items():
            d[int(u)] = d.get(int(u), 0) + int(c)
        d = _mg_shrink(d, SH_M)
    state.update((list(d.keys()), list(d.values())))
    yield pd.DataFrame({"user_id": list(d.keys())})


@register(
    "stream_heavy_hitters",
    oracle=f"""
    WITH t AS (SELECT COUNT(*) AS n FROM events)
    SELECT user_id, CAST(COUNT(*) AS BIGINT) AS cnt,
           CAST(COUNT(*) * 1000000 // n AS BIGINT) AS share_ppm
    FROM events, t GROUP BY user_id, n
    HAVING COUNT(*) * {SH_K} > n
    """,
)
def stream_heavy_hitters(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Streaming ClickHouse ``topK``: which users dominate the event
    stream (the flood/looping-worker signal the reference's monitor
    hunts for, maintained live instead of by rescanning). The sketch
    runs as a CUSTOM STATEFUL OPERATOR — applyInPandasWithState keyed
    by user-hash stripe, each stripe folding micro-batches into a
    persistent ≤{SH_M}-counter Misra-Gries summary — then an exact
    recount restricted to the streamed candidate set verifies, so the
    sketch bounds STATE MEMORY, never the answer (same two-pass
    exactness as the batch twin #162, which is what keeps a streaming
    sketch oracle-backed at all).

    Scale shape: state is {SH_STRIPES} stripes x {SH_M} counters TOTAL
    regardless of user cardinality — the unbounded-key-state trap of
    naive streaming groupBy(user) is exactly what this avoids; each
    micro-batch shuffles once on the stripe key. The verify pass is a
    broadcast-candidate semi-join + one keyed count, identical to the
    topK read-side merge of a CH AggregatingMergeTree."""
    from zigchain_indexer_clickhouse_spark.catalog import load

    s = _read_event_stream(spark, sf_dir)
    out = (
        s.select("user_id")
        .withColumn("stripe", F.pmod("user_id", F.lit(SH_STRIPES)))
        .groupBy("stripe")
        .applyInPandasWithState(
            _mg_stripe_fn,
            outputStructType="user_id long",
            stateStructType="users array<long>, counts array<long>",
            outputMode="update",
            timeoutConf="NoTimeout",
        )
    )
    cands = _run_append_to_memory(
        out, "stream_heavy_hitters", mode="update"
    ).select("user_id").distinct()
    e = load(spark, sf_dir, "events")
    total = e.agg(F.count("*").alias("n"))
    return (
        e.join(F.broadcast(cands), "user_id")
        .groupBy("user_id")
        .agg(F.count("*").alias("cnt"))
        .crossJoin(F.broadcast(total))
        .filter(F.col("cnt") * SH_K > F.col("n"))
        .select(
            "user_id",
            "cnt",
            F.expr("(cnt * 1000000) div n").alias("share_ppm"),
        )
    )


# --------------------------------------------------------------------------
# 199. stream_attribution — watermarked stream-stream interval self-join
# --------------------------------------------------------------------------
@register(
    "stream_attribution",
    oracle="""
    WITH p AS (
      SELECT event_id, user_id, ts FROM events WHERE event_type = 'purchase'
    ),
    c AS (
      SELECT user_id, ts FROM events WHERE event_type = 'click'
    )
    SELECT p.event_id, p.user_id, p.ts AS purchase_ts,
           MIN(c.ts) AS window_first_ts,
           MAX(c.ts) AS last_touch_ts,
           CAST(COUNT(*) AS BIGINT) AS n_touches
    FROM p JOIN c ON c.user_id = p.user_id
     AND c.ts < p.ts AND c.ts >= p.ts - INTERVAL 7 DAY
    GROUP BY p.event_id, p.user_id, p.ts
    """,
)
def stream_attribution(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Streaming last-touch attribution: the live twin of the batch
    model in #193 (funnel.py conversion_attribution), restricted to
    exactly the part of that model that is STREAMABLE WITH BOUNDED
    STATE. Last-touch has a 7-day lookback, so a purchase can only
    ever match clicks from a bounded event-time band — which is
    precisely Spark's watermarked stream-stream INTERVAL JOIN: each
    side holds at most (watermark + lookback) of state and the engine
    drops older rows itself. First-touch-EVER (the other #193 model)
    needs every user's oldest click forever — unbounded state — and is
    deliberately left to the batch twin; a streaming engine that
    claims it is lying about its state bound.

    Plan: one source stream read twice (click side / purchase side),
    both watermarked 1 day, inner-joined on
    ``user AND p.ts-7d <= c.ts < p.ts``. Inner interval-join rows are
    emitted eagerly (no watermark gating, unlike outer), so the
    availableNow drain is deterministic = the batch interval join,
    which the oracle replays relationally. The per-purchase
    min/max/count finalization runs batch-side on the drained rows
    (the harness pattern every update-mode query here uses); in
    production it would be the downstream AggregatingMergeTree-style
    consumer of the joined feed. Unattributed purchases (no click in
    window) are an anti-join readout on the batch side, not a
    streaming outer join, because outer emission is watermark-timed
    and availableNow would withhold the tail."""
    s = _read_event_stream(spark, sf_dir)
    clicks = (
        s.filter(F.col("event_type") == "click")
        .select(F.col("user_id").alias("c_user"), F.col("ts").alias("c_ts"))
        .withWatermark("c_ts", "1 day")
    )
    purchases = (
        s.filter(F.col("event_type") == "purchase")
        .select("event_id", "user_id", F.col("ts").alias("purchase_ts"))
        .withWatermark("purchase_ts", "1 day")
    )
    joined = purchases.join(
        clicks,
        F.expr(
            """
            c_user = user_id
            AND c_ts < purchase_ts
            AND c_ts >= purchase_ts - INTERVAL 7 DAYS
            """
        ),
        "inner",
    )
    pairs = _run_append_to_memory(joined, "stream_attribution")
    return pairs.groupBy("event_id", "user_id", "purchase_ts").agg(
        F.min("c_ts").alias("window_first_ts"),
        F.max("c_ts").alias("last_touch_ts"),
        F.count("*").alias("n_touches"),
    )


# --------------------------------------------------------------------------
# 201. stream_gap_detection — live gap monitor with bounded stripe bitmaps
# --------------------------------------------------------------------------
GAP_STRIPE = 1000          # heights per stripe (one bitmap per stripe)
GAP_WORDS = GAP_STRIPE // 64 + 1
GAP_PLANT_MOD, GAP_PLANT_RES = 97, 13  # planted gap pattern


def _gap_stripe_fn(key, pdf_iter, state):
    """Per-stripe seen-heights BITMAP: {GAP_WORDS} uint64 words =
    {GAP_STRIPE} bits of state per stripe, regardless of how many
    times a height is re-delivered. Fold each micro-batch in with a
    vectorized bitwise-or scatter; emit the stripe's current coverage
    (count / first / last seen)."""
    import numpy as np
    import pandas as pd

    (stripe,) = key
    words = (
        np.array(state.get[0], dtype=np.int64).view(np.uint64)
        if state.exists
        else np.zeros(GAP_WORDS, dtype=np.uint64)
    )
    for pdf in pdf_iter:
        pos = pdf["pos"].to_numpy()
        np.bitwise_or.at(
            words, pos // 64, np.uint64(1) << (pos % 64).astype(np.uint64)
        )
    state.update((words.view(np.int64).tolist(),))
    bits = np.unpackbits(words.view(np.uint8), bitorder="little")
    seen = np.flatnonzero(bits)
    yield pd.DataFrame(
        {
            "stripe": [int(stripe)],
            "n_seen": [int(len(seen))],
            "min_h": [int(stripe) * GAP_STRIPE + int(seen[0])],
            "max_h": [int(stripe) * GAP_STRIPE + int(seen[-1])],
        }
    )


@register(
    "stream_gap_detection",
    oracle=f"""
    WITH h AS (
      SELECT DISTINCT event_id AS height FROM events
      WHERE event_id % {GAP_PLANT_MOD} <> {GAP_PLANT_RES}
    ),
    b AS (SELECT MIN(height) AS gmin, MAX(height) AS gmax FROM h),
    s AS (SELECT height // {GAP_STRIPE} AS stripe, COUNT(*) AS n_seen
          FROM h GROUP BY 1)
    SELECT CAST(s.stripe AS BIGINT) AS stripe,
           CAST(s.n_seen AS BIGINT) AS n_seen,
           CAST(LEAST((s.stripe + 1) * {GAP_STRIPE} - 1, b.gmax)
                - GREATEST(s.stripe * {GAP_STRIPE}, b.gmin) + 1
                - s.n_seen AS BIGINT) AS n_missing
    FROM s, b
    WHERE LEAST((s.stripe + 1) * {GAP_STRIPE} - 1, b.gmax)
          - GREATEST(s.stripe * {GAP_STRIPE}, b.gmin) + 1 - s.n_seen > 0
    """,
)
def stream_gap_detection(spark: SparkSession, sf_dir: str) -> DataFrame:
    """LIVE gap detection: the streaming twin of #15 (monitor_indexer.js
    gap probe, which rescans `generate_series LEFT JOIN blocks` on every
    monitor tick). Here the block feed maintains per-stripe seen-height
    BITMAPS as custom stateful-operator state — {GAP_WORDS}x64-bit
    words per {GAP_STRIPE}-height stripe, so total state is
    O(chain_height / {GAP_STRIPE}) tiny fixed-size rows (~2 KB per
    million blocks), never a per-height key — and re-delivered heights
    cost an idempotent bitwise-or, not state growth. Gaps are PLANTED
    deterministically (every height ≡ {GAP_PLANT_RES} mod
    {GAP_PLANT_MOD} is withheld) so the query has real positives to
    find; the oracle replays the same withholding relationally.

    The drained update rows finalize batch-side (the harness pattern):
    latest coverage per stripe (n_seen is monotone under or-folding),
    then missing = clamp(stripe span to the observed [min, max] height
    range) − seen, reported only where positive. In production the
    emitted coverage rows feed the monitor dashboard directly and the
    finalize is the dashboard query."""
    s = _read_event_stream(spark, sf_dir)
    heights = (
        s.filter(
            F.col("event_id") % GAP_PLANT_MOD != GAP_PLANT_RES
        )
        .select(
            F.expr(f"event_id div {GAP_STRIPE}").alias("stripe"),
            (F.col("event_id") % GAP_STRIPE).cast("long").alias("pos"),
        )
    )
    out = heights.groupBy("stripe").applyInPandasWithState(
        _gap_stripe_fn,
        outputStructType=(
            "stripe long, n_seen long, min_h long, max_h long"
        ),
        stateStructType="words array<long>",
        outputMode="update",
        timeoutConf="NoTimeout",
    )
    upd = _run_append_to_memory(out, "stream_gap_detection", mode="update")
    per_stripe = upd.groupBy("stripe").agg(
        F.max("n_seen").alias("n_seen"),
        F.max_by("min_h", "n_seen").alias("min_h"),
        F.max_by("max_h", "n_seen").alias("max_h"),
    )
    bounds = per_stripe.agg(
        F.min("min_h").alias("gmin"), F.max("max_h").alias("gmax")
    )
    expected = (
        F.least((F.col("stripe") + 1) * GAP_STRIPE - 1, F.col("gmax"))
        - F.greatest(F.col("stripe") * GAP_STRIPE, F.col("gmin"))
        + 1
    )
    return (
        per_stripe.crossJoin(F.broadcast(bounds))
        .withColumn("n_missing", expected - F.col("n_seen"))
        .filter(F.col("n_missing") > 0)
        .select("stripe", "n_seen", "n_missing")
    )


# --------------------------------------------------------------------------
# 229. stream_uniq_up_to — bounded-state streaming uniqUpTo (twin of #221)
# --------------------------------------------------------------------------
UUT_CAP = 10  # must match data_mix._UNIQ_CAP (equivalence test-asserted)


def _uut_fn(key, pdf_iter, state):
    """Per-(event_type, day) streaming uniqUpTo: the state is AT MOST
    cap+1 distinct user ids — once saturated, new users are never
    stored (this is the literal ClickHouse uniqUpTo contract: exact
    below the cap, pinned to cap+1 above, O(cap) memory per key no
    matter how many distinct users the day ever sees)."""
    import pandas as pd  # local import: runs on executors

    (users,) = state.get if state.exists else ([],)
    seen = set(users)
    for pdf in pdf_iter:
        if len(seen) > UUT_CAP:
            break
        for u in pdf["user_id"].unique():
            if len(seen) > UUT_CAP:
                break
            seen.add(int(u))
    state.update((list(seen),))
    yield pd.DataFrame(
        {
            "event_type": [key[0]],
            "day": [key[1]],
            "uniq_up_to": [min(len(seen), UUT_CAP + 1)],
            "saturated": [1 if len(seen) > UUT_CAP else 0],
        }
    )


@register(
    "stream_uniq_up_to",
    oracle=f"""
    WITH d AS (
      SELECT DISTINCT event_type, CAST(ts AS DATE) AS day, user_id
      FROM events
    )
    SELECT event_type, CAST(day AS VARCHAR) AS day,
           CAST(LEAST(COUNT(*), {UUT_CAP + 1}) AS BIGINT) AS uniq_up_to,
           CAST(COUNT(*) > {UUT_CAP} AS BIGINT) AS saturated
    FROM d GROUP BY event_type, day
    """,
)
def stream_uniq_up_to(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Streaming twin of #221 (CH ``uniqUpTo({UUT_CAP})``) — and the
    one operator where CH's bounded-state rationale becomes LITERAL
    Spark state: each (event_type, day) key holds at most {UUT_CAP}+1
    user ids in applyInPandasWithState state, so the "are there more
    than N distinct actors" gate runs live with O(cap) memory per key
    regardless of user cardinality (a naive streaming countDistinct
    keys state by USER — the unbounded-key trap).

    The saturating count is monotone non-decreasing across
    micro-batches, so the final update per key IS the drained answer
    (max over updates — batch-count-independent); equivalence with
    the batch twin is test-asserted."""
    s = _read_event_stream(spark, sf_dir)
    out = (
        s.select(
            "event_type",
            F.date_format(F.col("ts").cast("date"), "yyyy-MM-dd").alias("day"),
            "user_id",
        )
        .groupBy("event_type", "day")
        .applyInPandasWithState(
            _uut_fn,
            outputStructType=(
                "event_type string, day string, uniq_up_to long, "
                "saturated long"
            ),
            stateStructType="users array<long>",
            outputMode="update",
            timeoutConf="NoTimeout",
        )
    )
    upd = _run_append_to_memory(out, "stream_uniq_up_to", mode="update")
    return upd.groupBy("event_type", "day").agg(
        F.max("uniq_up_to").cast("long").alias("uniq_up_to"),
        F.max("saturated").cast("long").alias("saturated"),
    )


# --------------------------------------------------------------------------
# 47b. stream_registry_decode — the 36-type registry decode, LIVE
# --------------------------------------------------------------------------
def _registry_stream_oracle() -> str:
    from zigchain_indexer_clickhouse_spark.sources.tx_decode import (
        _REGISTRY_ORACLE_SQL,
    )

    return _REGISTRY_ORACLE_SQL


@register(
    "stream_registry_decode",
    # the batch twin's own oracle: the drained complete-mode aggregate
    # is deterministic, so the stream carries a REAL value-hash oracle
    # instead of a rows-only check
    oracle=_registry_stream_oracle(),
)
def stream_registry_decode(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Streaming twin of #187: the full 67-type cosmjs registry decode
    running LIVE over the event stream — the reference decodes every
    message as blocks arrive (src/utils/decoder.js:12 inside the
    worker loop), not in nightly rescans, so the registry dispatch
    must work per row inside the stream. Each micro-batch
    synthesizes the wire blob and decodes it (unwrap the Any, walk the
    field maps, dispatch) — all stateless per-row work — then a
    complete-mode aggregate maintains the (type_url, status) rollup
    with the same five proofs as the batch twin (Coin amounts through
    two-deep Any unwraps, varint proposal ids, vote enums, timeout
    varints).

    Scale shape: the decode adds ZERO streaming state (a stateless
    Arrow-batched projection at ~µs/row); the only state is the
    ≤68-group aggregate. The oracle is the batch operator's own
    oracle, registered under this name too, and equivalence with the
    batch twin is test-asserted."""
    from zigchain_indexer_clickhouse_spark.sources.tx_decode import (
        _registry_agg,
        registry_blob_hex_df,
        registry_decoded_df,
    )

    s = _read_event_stream(spark, sf_dir)
    # the wire synthesis and the C kernel each ride mapInArrow inside
    # the micro-batch plan (stateless narrow maps, legal in a streaming
    # plan), so the batch volume path and the live path are the same
    # code; the Python walker's mapInPandas takes the kernel's place
    # without a C toolchain
    blobs = registry_blob_hex_df(s.select("event_id", "user_id", "value"))
    decoded = registry_decoded_df(blobs.select("blob_hex"))
    return _run_append_to_memory(
        _registry_agg(decoded), "stream_registry_decode", mode="complete"
    )
