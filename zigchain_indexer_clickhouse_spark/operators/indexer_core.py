"""Indexer-core ETL operators (SURVEY.md §2.1 #1-11, 21-26).

Re-expresses the reference worker's per-block extraction pipeline
(reference: src/core/worker.js) and the ClickHouse query helpers
(src/database/clickhouse_queries.js) as declarative DataFrame plans.

Test-table mapping (SURVEY.md §3): ``events`` models the tx-event
stream (event_id ≈ height, props ≈ attrs JSON); ``orders`` models the
raw-tx / work-queue tables. The DuckDB oracle replays the identical
derivation, so both engines see the same synthetic chain.

Scale notes: every query here is a single groupBy/window shuffle on its
natural key (height / user / type) or a pure narrow projection — the
shapes that survive a 100 TB scale-up. Dedup/window ops shuffle on the
entity key only; no global sorts except explicit top-Ns, which run as
TakeOrderedAndProject.
"""

from __future__ import annotations

from pyspark.sql import DataFrame, SparkSession, Window
from pyspark.sql import functions as F

from zigchain_indexer_clickhouse_spark.catalog import load
from zigchain_indexer_clickhouse_spark.functions.hashing import tx_hash
from zigchain_indexer_clickhouse_spark.plans.registry import register


# --------------------------------------------------------------------------
# 1. ingest_blocks — per-height block rollup (worker.js:72-122 storeBlockData)
# --------------------------------------------------------------------------
@register(
    "ingest_blocks",
    oracle="""
    SELECT CAST(floor(event_id / 10) AS BIGINT) AS height,
           COUNT(*) AS txs_results_count,
           CAST(SUM(CASE WHEN event_type = 'error' THEN 1 ELSE 0 END) AS BIGINT)
             AS finalize_events_count,
           MAX(ts) AS created_at
    FROM events
    GROUP BY 1
    """,
)
def ingest_blocks(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Block-metadata rollup: counts of tx results and finalize events per
    height (reference worker.js:78-89). One map-side-combinable shuffle."""
    e = load(spark, sf_dir, "events")
    return e.groupBy(F.floor(F.col("event_id") / 10).cast("long").alias("height")).agg(
        F.count("*").alias("txs_results_count"),
        F.sum(F.when(F.col("event_type") == "error", 1).otherwise(0))
        .cast("long")
        .alias("finalize_events_count"),
        F.max("ts").alias("created_at"),
    )


# --------------------------------------------------------------------------
# 2. tx_hash — sha256(raw tx) uppercase hex (worker.js:137)
# --------------------------------------------------------------------------
@register(
    "tx_hash",
    oracle="""
    SELECT o_orderkey AS tx_id,
           upper(sha256('tx-' || CAST(o_orderkey AS VARCHAR))) AS tx_hash
    FROM orders
    """,
)
def tx_hash_derive(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Tx hashing exactly as the reference derives it: the wire payload
    is BASE64 (Tendermint RPC), and the digest runs over the DECODED
    bytes (worker.js:137 ``sha256(Buffer.from(rawTx, 'base64'))``).
    The query synthesizes the base64 wire form and hashes through
    ``tx_hash_b64`` — the encode→decode→digest round-trip is what the
    oracle (sha256 of the plain payload) verifies. Pure codegen, no
    UDF."""
    from zigchain_indexer_clickhouse_spark.functions.hashing import tx_hash_b64

    o = load(spark, sf_dir, "orders")
    raw_b64 = F.base64(
        F.concat(F.lit("tx-"), F.col("o_orderkey").cast("string")).cast("binary")
    )
    return o.select(
        F.col("o_orderkey").alias("tx_id"), tx_hash_b64(raw_b64).alias("tx_hash")
    )


# --------------------------------------------------------------------------
# 3. tx_decode — gas/code/data extraction + hex transform (worker.js:138-154)
# --------------------------------------------------------------------------
@register(
    "tx_decode",
    oracle="""
    SELECT event_id AS height,
           CAST(event_id % 5 AS INT) AS code,
           CAST(floor(value * 1000) AS BIGINT) AS gas_wanted,
           CAST(floor(value * 900) AS BIGINT) AS gas_used,
           to_hex(event_id) AS data_hex
    FROM events
    """,
)
def tx_decode(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Tx-result field extraction (worker.js:138-154): result code, gas
    wanted/used, and the base64→hex `data` transform (modeled with builtin
    hex())."""
    e = load(spark, sf_dir, "events")
    return e.select(
        F.col("event_id").alias("height"),
        (F.col("event_id") % 5).cast("int").alias("code"),
        F.floor(F.col("value") * 1000).cast("long").alias("gas_wanted"),
        F.floor(F.col("value") * 900).cast("long").alias("gas_used"),
        F.hex(F.col("event_id")).alias("data_hex"),
    )


# --------------------------------------------------------------------------
# 4. event_explode — tx → positional events (worker.js:156-168)
# --------------------------------------------------------------------------
@register(
    "event_explode",
    oracle="""
    SELECT o_orderkey AS tx_id,
           CAST(g.i AS INT) AS event_index,
           CASE WHEN g.i % 2 = 0 THEN 'message' ELSE 'wasm' END AS event_type
    FROM orders, generate_series(0, 2) g(i)
    WHERE g.i <= o_orderkey % 3
    """,
)
def event_explode(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Explodes each tx into its ordered event rows with positional
    event_index (worker.js:156-168). Narrow op — no shuffle."""
    o = load(spark, sf_dir, "orders")
    return (
        o.select(
            F.col("o_orderkey").alias("tx_id"),
            F.explode(F.sequence(F.lit(0).cast("long"), F.col("o_orderkey") % 3)).alias("idx"),
        )
        .select(
            "tx_id",
            F.col("idx").cast("int").alias("event_index"),
            F.when(F.col("idx") % 2 == 0, "message").otherwise("wasm").alias("event_type"),
        )
    )


# --------------------------------------------------------------------------
# 5. attr_flatten — event attrs → (key, value) rows (worker.js:176-207)
# --------------------------------------------------------------------------
@register(
    "attr_flatten",
    oracle="""
    SELECT event_id, u.k AS key,
           json_extract_string(props, '$.' || u.k) AS value
    FROM events, UNNEST(json_keys(props)) u(k)
    """,
)
def attr_flatten(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Flattens the per-event JSON attribute object into one row per
    attribute (worker.js:176-207). from_json → explode stays fully
    JVM-side; generalizes to arbitrary key sets."""
    e = load(spark, sf_dir, "events")
    return e.select(
        "event_id",
        F.explode(F.from_json("props", "map<string,string>")).alias("key", "value"),
    )


# --------------------------------------------------------------------------
# 6. attrs_kv — per-entity canonical attr list (worker.js:210-218 attrs_kv)
# --------------------------------------------------------------------------
@register(
    "attrs_kv",
    oracle="""
    SELECT user_id,
           array_to_string(
             list_sort(list(CAST(event_id AS VARCHAR) || ':' || event_type || ':'
                            || CAST(CAST(floor(value) AS BIGINT) AS VARCHAR))),
             ',') AS attrs_kv,
           COUNT(*) AS attr_count
    FROM events
    GROUP BY user_id
    """,
)
def attrs_kv(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Canonical serialized attribute list per entity plus attr_count —
    the reference's ``attrs_kv``/``attr_count`` columns (worker.js:210-218).
    Sorted before serialization so output is order-insensitive."""
    e = load(spark, sf_dir, "events")
    item = F.concat_ws(
        ":",
        F.col("event_id").cast("string"),
        F.col("event_type"),
        F.floor("value").cast("long").cast("string"),
    )
    return e.groupBy("user_id").agg(
        F.concat_ws(",", F.array_sort(F.collect_list(item))).alias("attrs_kv"),
        F.count("*").alias("attr_count"),
    )


# --------------------------------------------------------------------------
# 7. attrs_map — key → [values] map rows (worker.js:210-218 attrs_map)
# --------------------------------------------------------------------------
@register(
    "attrs_map",
    oracle="""
    SELECT user_id, event_type AS key,
           array_to_string(
             list_sort(list(CAST(CAST(floor(value) AS BIGINT) AS VARCHAR))),
             ',') AS values_list,
           COUNT(*) AS n_values
    FROM events
    GROUP BY user_id, event_type
    """,
)
def attrs_map(spark: SparkSession, sf_dir: str) -> DataFrame:
    """The reference's ``attrs_map`` (key → list of values per event,
    worker.js:210-218), emitted as relational rows — the scalable
    representation of a multimap."""
    e = load(spark, sf_dir, "events")
    return e.groupBy("user_id", F.col("event_type").alias("key")).agg(
        F.concat_ws(
            ",", F.array_sort(F.collect_list(F.floor("value").cast("long").cast("string")))
        ).alias("values_list"),
        F.count("*").alias("n_values"),
    )


# --------------------------------------------------------------------------
# 8. type routing — wasm / message split (worker.js:185-239)
# --------------------------------------------------------------------------
def _type_route(spark: SparkSession, sf_dir: str, event_type: str) -> DataFrame:
    e = load(spark, sf_dir, "events")
    return e.filter(F.col("event_type") == event_type).select(
        F.col("event_id").alias("height"),
        F.col("event_type").alias("type"),
        F.col("user_id"),
        tx_hash(F.concat(F.lit("tx-"), F.col("event_id").cast("string"))).alias("tx_hash"),
        F.col("ts").alias("created_at"),
    )


_TYPE_ROUTE_SQL = """
    SELECT event_id AS height, event_type AS type, user_id,
           upper(sha256('tx-' || CAST(event_id AS VARCHAR))) AS tx_hash,
           ts AS created_at
    FROM events
    WHERE event_type = '{t}'
"""


@register("type_route_wasm", oracle=_TYPE_ROUTE_SQL.format(t="click"))
def type_route_wasm(spark: SparkSession, sf_dir: str) -> DataFrame:
    """type_wasm table build: filter events of one type into the
    type-specific table (worker.js:221-229). Predicate pushes to the scan."""
    return _type_route(spark, sf_dir, "click")


@register("type_route_message", oracle=_TYPE_ROUTE_SQL.format(t="purchase"))
def type_route_message(spark: SparkSession, sf_dir: str) -> DataFrame:
    """type_message table build (worker.js:230-239)."""
    return _type_route(spark, sf_dir, "purchase")


# --------------------------------------------------------------------------
# 9. replacing_dedup — ReplacingMergeTree semantics (models.js:16,49,71)
# --------------------------------------------------------------------------
@register(
    "replacing_dedup",
    oracle="""
    SELECT user_id, event_id AS last_event_id, ts AS last_ts,
           event_type AS last_type
    FROM (
      SELECT *, row_number() OVER (PARTITION BY user_id
                                   ORDER BY ts DESC, event_id DESC) AS rn
      FROM events
    ) WHERE rn = 1
    """,
)
def replacing_dedup(spark: SparkSession, sf_dir: str) -> DataFrame:
    """ClickHouse ReplacingMergeTree collapse: keep the latest version row
    per key (models.js engine clauses). Window row_number over the key —
    shuffles once on the key; AQE splits skewed keys. At 100 TB this runs
    per height-partition, never as a global sort."""
    e = load(spark, sf_dir, "events")
    w = Window.partitionBy("user_id").orderBy(F.col("ts").desc(), F.col("event_id").desc())
    return (
        e.withColumn("rn", F.row_number().over(w))
        .filter(F.col("rn") == 1)
        .select(
            "user_id",
            F.col("event_id").alias("last_event_id"),
            F.col("ts").alias("last_ts"),
            F.col("event_type").alias("last_type"),
        )
    )


# --------------------------------------------------------------------------
# 10. index_state_latest — latest height per index (clickhouse_queries.js:115)
# --------------------------------------------------------------------------
@register(
    "index_state_latest",
    oracle="""
    SELECT event_type AS index_name, event_id AS last_processed_height,
           ts AS updated_at
    FROM (
      SELECT *, row_number() OVER (PARTITION BY event_type
                                   ORDER BY ts DESC, event_id DESC) AS rn
      FROM events
    ) WHERE rn = 1
    """,
)
def index_state_latest(spark: SparkSession, sf_dir: str) -> DataFrame:
    """`SELECT last_processed_height ... ORDER BY updated_at DESC LIMIT 1`
    per index_name (clickhouse_queries.js:115-125) — an argmax, done with
    one windowed shuffle for all indexes at once."""
    e = load(spark, sf_dir, "events")
    w = Window.partitionBy("event_type").orderBy(F.col("ts").desc(), F.col("event_id").desc())
    return (
        e.withColumn("rn", F.row_number().over(w))
        .filter(F.col("rn") == 1)
        .select(
            F.col("event_type").alias("index_name"),
            F.col("event_id").alias("last_processed_height"),
            F.col("ts").alias("updated_at"),
        )
    )


# --------------------------------------------------------------------------
# 11. max_height (clickhouse_queries.js:142-148)
# --------------------------------------------------------------------------
@register(
    "max_height",
    oracle="SELECT CAST(MAX(event_id) AS BIGINT) AS max_h, COUNT(*) AS n_blocks FROM events",
)
def max_height(spark: SparkSession, sf_dir: str) -> DataFrame:
    """`SELECT max(height) FROM blocks` (clickhouse_queries.js:142-148)."""
    e = load(spark, sf_dir, "events")
    return e.agg(
        F.max("event_id").cast("long").alias("max_h"), F.count("*").alias("n_blocks")
    )


# --------------------------------------------------------------------------
# 21. message_actions — distinct action attrs per entity (check_msgs.js:38-46)
# --------------------------------------------------------------------------
@register(
    "message_actions",
    oracle="""
    SELECT user_id,
           array_to_string(list_sort(list(DISTINCT event_type)), ',') AS actions,
           CAST(COUNT(DISTINCT event_type) AS INT) AS n_actions
    FROM events
    GROUP BY user_id
    """,
)
def message_actions(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Unique message `action` values per tx (check_msgs.js:38-46,
    retry_failed.js:69-80 extractMessageTypeFromEvents): collect_set +
    sort for a canonical serialization."""
    e = load(spark, sf_dir, "events")
    return e.groupBy("user_id").agg(
        F.concat_ws(",", F.array_sort(F.collect_set("event_type"))).alias("actions"),
        F.size(F.collect_set("event_type")).alias("n_actions"),
    )


# --------------------------------------------------------------------------
# 22. maybe_b64_decode (retry_failed.js:57-67)
# --------------------------------------------------------------------------
@register(
    "maybe_b64_decode",
    oracle="""
    SELECT doc_id,
           CASE WHEN regexp_matches(enc, '^[A-Za-z0-9+/=]+$') AND length(enc) % 4 = 0
                THEN CAST(from_base64(enc) AS VARCHAR) ELSE enc END AS decoded
    FROM (
      SELECT doc_id,
             CASE WHEN doc_id % 2 = 0 THEN to_base64(encode(text)) ELSE text END AS enc
      FROM documents
    )
    """,
)
def maybe_b64_decode(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Heuristic base64 decode (retry_failed.js:57-67 maybeB64Decode):
    decode only strings that look like base64 (charset + length % 4).
    Spark's base64() MIME-chunks with newlines, so they are stripped to
    produce canonical RFC 4648 output."""
    d = load(spark, sf_dir, "documents")
    enc = F.when(
        F.col("doc_id") % 2 == 0,
        F.regexp_replace(F.base64(F.col("text").cast("binary")), "[\\r\\n]", ""),
    ).otherwise(F.col("text"))
    d = d.select("doc_id", enc.alias("enc"))
    is_b64 = F.col("enc").rlike("^[A-Za-z0-9+/=]+$") & (F.length("enc") % 4 == 0)
    return d.select(
        "doc_id",
        F.when(is_b64, F.unbase64(F.col("enc")).cast("string")).otherwise(F.col("enc")).alias(
            "decoded"
        ),
    )


# --------------------------------------------------------------------------
# 23. height_partition — intDiv(height, N) bucketing (models.js:118)
# --------------------------------------------------------------------------
@register(
    "height_partition",
    oracle="""
    SELECT CAST(floor(event_id / 100) AS BIGINT) AS partition_id,
           COUNT(*) AS n_rows,
           CAST(MIN(event_id) AS BIGINT) AS min_height,
           CAST(MAX(event_id) AS BIGINT) AS max_height,
           CAST(ROUND(SUM(CAST(value AS DECIMAL(38,6))), 2) AS DOUBLE)
             AS total_value
    FROM events
    GROUP BY 1
    """,
)
def height_partition(spark: SparkSession, sf_dir: str) -> DataFrame:
    """The reference partitions every table `PARTITION BY
    intDiv(height,100000)` (models.js:118) / 50k-block PG partitions
    (partition.js:3). Spark analog: height-bucket stats; physical writes
    of this key go through
    ``sources.partitioned_write.write_height_buckets``."""
    e = load(spark, sf_dir, "events")
    return e.groupBy(F.floor(F.col("event_id") / 100).cast("long").alias("partition_id")).agg(
        F.count("*").alias("n_rows"),
        F.min("event_id").cast("long").alias("min_height"),
        F.max("event_id").cast("long").alias("max_height"),
        F.round(F.sum(F.col("value").cast("decimal(38,6)")), 2)
        .cast("double").alias("total_value"),
    )


# --------------------------------------------------------------------------
# 24. db_stats — multi-table scalar stats (monitor_indexer.js:136-149)
# --------------------------------------------------------------------------
@register(
    "db_stats",
    oracle="""
    SELECT 'orders' AS table_name, COUNT(*) AS total_rows,
           CAST(MIN(o_orderkey) AS BIGINT) AS min_key,
           CAST(MAX(o_orderkey) AS BIGINT) AS max_key FROM orders
    UNION ALL
    SELECT 'lineitem', COUNT(*), CAST(MIN(l_orderkey) AS BIGINT),
           CAST(MAX(l_orderkey) AS BIGINT) FROM lineitem
    UNION ALL
    SELECT 'customer', COUNT(*), CAST(MIN(c_custkey) AS BIGINT),
           CAST(MAX(c_custkey) AS BIGINT) FROM customer
    UNION ALL
    SELECT 'events', COUNT(*), CAST(MIN(event_id) AS BIGINT),
           CAST(MAX(event_id) AS BIGINT) FROM events
    """,
)
def db_stats(spark: SparkSession, sf_dir: str) -> DataFrame:
    """The monitor's database statistics panel (monitor_indexer.js:136-149):
    per-table row counts and key ranges, one single-pass agg per table."""

    def stats(name: str, key: str) -> DataFrame:
        return load(spark, sf_dir, name).agg(
            F.lit(name).alias("table_name"),
            F.count("*").alias("total_rows"),
            F.min(key).cast("long").alias("min_key"),
            F.max(key).cast("long").alias("max_key"),
        )

    return (
        stats("orders", "o_orderkey")
        .unionAll(stats("lineitem", "l_orderkey"))
        .unionAll(stats("customer", "c_custkey"))
        .unionAll(stats("events", "event_id"))
    )


# --------------------------------------------------------------------------
# 25. tx_hash_lookup — point lookup via bloom-indexed hash (models.js:124-126)
# --------------------------------------------------------------------------
@register(
    "tx_hash_lookup",
    oracle="""
    SELECT o_orderkey AS tx_id,
           upper(sha256('tx-' || CAST(o_orderkey AS VARCHAR))) AS tx_hash,
           o_totalprice, o_orderdate
    FROM orders
    WHERE upper(sha256('tx-' || CAST(o_orderkey AS VARCHAR)))
          = upper(sha256('tx-42'))
    """,
)
def tx_hash_lookup(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Point lookup by tx_hash — the reference adds a bloom_filter skip
    index for this (models.js:124-126). In Spark the selective predicate
    pushes down to the parquet scan; on a hash-partitioned layout this
    prunes to one file group."""
    o = load(spark, sf_dir, "orders")
    h = tx_hash(F.concat(F.lit("tx-"), F.col("o_orderkey").cast("string")))
    target = tx_hash(F.lit("tx-42"))
    return o.select(
        F.col("o_orderkey").alias("tx_id"),
        h.alias("tx_hash"),
        "o_totalprice",
        "o_orderdate",
    ).filter(F.col("tx_hash") == target)


# --------------------------------------------------------------------------
# 26. range_split — balanced range partitioning (orchestrator.js:78-92)
# --------------------------------------------------------------------------
@register(
    "range_split",
    oracle="""
    WITH r AS (
      SELECT o_orderkey AS work_id,
             o_orderkey * 1000 + 1 AS s,
             o_orderkey * 1000 + 100 + (o_custkey % 7) * 50 AS e
      FROM orders WHERE o_orderstatus = 'O'
    )
    SELECT work_id, CAST(g.i AS INT) AS part_idx,
           CAST(s + g.i * ((e - s + 1) // 4) + least(g.i, (e - s + 1) % 4) AS BIGINT)
             AS part_start,
           CAST(s + (g.i + 1) * ((e - s + 1) // 4)
                + least(g.i + 1, (e - s + 1) % 4) - 1 AS BIGINT) AS part_end
    FROM r, generate_series(0, 3) g(i)
    """,
)
def range_split(spark: SparkSession, sf_dir: str) -> DataFrame:
    """splitRange(start, end, n): divide a block range into n balanced
    parts, remainder spread over the first parts (orchestrator.js:78-92).
    Pure arithmetic over an exploded part index — no shuffle."""
    o = load(spark, sf_dir, "orders").filter(F.col("o_orderstatus") == "O")
    s = F.col("o_orderkey") * 1000 + 1
    e = F.col("o_orderkey") * 1000 + 100 + (F.col("o_custkey") % 7) * 50
    total = e - s + 1
    size = F.floor(total / 4)
    rem = total % 4
    i = F.col("part_idx")
    return (
        o.select(
            F.col("o_orderkey").alias("work_id"),
            s.alias("s"),
            size.alias("size"),
            rem.alias("rem"),
            F.explode(F.sequence(F.lit(0), F.lit(3))).alias("part_idx"),
        )
        .select(
            "work_id",
            i.cast("int").alias("part_idx"),
            (F.col("s") + i * F.col("size") + F.least(i, F.col("rem")))
            .cast("long")
            .alias("part_start"),
            (F.col("s") + (i + 1) * F.col("size") + F.least(i + 1, F.col("rem")) - 1)
            .cast("long")
            .alias("part_end"),
        )
    )
