"""Partitioned write path (SURVEY.md §2.1 #23 physical side).

The reference partitions storage by height range — ClickHouse
``PARTITION BY intDiv(height, 100000)`` (models.js:118) and 50k-block
PostgreSQL range partitions (partition.js:3). Spark-native equivalent:
``partitionBy("height_bucket")`` parquet layout, giving partition-pruned
reads on the height predicate. :func:`write_height_buckets` is the one
place that writes it; every height-bucketed table goes through it.

The shuffle before the write is a HASH ``repartition`` on the bucket,
not ``repartitionByRange``: range partitioning first runs a
RangePartitioner sampling job, and that job re-executes the whole lazy
upstream (for a backfill tick: every RPC fetch and JSON parse) a second
time. Hash partitioning puts every row of a bucket in one task just the
same, and ``partitionBy`` splits files by bucket value, so the layout is
unchanged: one parquet file per ``height_bucket=`` directory.

``partitioned_write_readback`` writes the events table into that
layout and reads it back through a height-range filter, so the oracle
check covers write → prune → read fidelity (CORRECTNESS gate covers
the read-back rows; the layout itself is asserted in tests/).
"""

from __future__ import annotations

import hashlib
import os

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F

from zigchain_indexer_clickhouse_spark.catalog import load
from zigchain_indexer_clickhouse_spark.plans.registry import register
from zigchain_indexer_clickhouse_spark.sources.scratch import scratch_dir

BUCKET_SIZE = 100  # heights per partition (reference uses 100k at chain scale)


def write_height_buckets(df: DataFrame, path: str) -> None:
    """Overwrite ``path`` with ``df`` (which already carries a
    ``height_bucket`` column) in the height-bucket layout: one
    ``height_bucket=`` directory per bucket value, one file in each,
    with ``df``'s plan run once (a hash shuffle; see the module
    docstring for why not a range one)."""
    (
        df.repartition("height_bucket")
        .write.mode("overwrite")
        .partitionBy("height_bucket")
        .parquet(path)
    )


def write_height_partitioned(df: DataFrame, path: str, height_col: str = "event_id") -> None:
    """Write with the reference's physical layout: ``height_bucket`` =
    ``floor(height_col / BUCKET_SIZE)``, a directory key Catalyst can
    prune on, written by :func:`write_height_buckets`."""
    write_height_buckets(
        df.withColumn(
            "height_bucket", F.floor(F.col(height_col) / BUCKET_SIZE).cast("long")
        ),
        path,
    )


@register(
    "partitioned_write_readback",
    oracle=f"""
    SELECT CAST(floor(event_id / {BUCKET_SIZE}) AS BIGINT) AS height_bucket,
           COUNT(*) AS n_rows,
           CAST(MIN(event_id) AS BIGINT) AS min_height,
           CAST(MAX(event_id) AS BIGINT) AS max_height
    FROM events
    WHERE event_id >= 200 AND event_id < 500
    GROUP BY 1
    """,
)
def partitioned_write_readback(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Round-trip through the physical layout: write events
    height-partitioned, read back with a range predicate (which prunes
    to 3 of N directories), aggregate per bucket. Matches the direct
    derivation the oracle computes from the source table."""
    path = scratch_dir(spark, "pwrite", sf_dir)
    e = load(spark, sf_dir, "events")
    write_height_partitioned(e, path)
    back = spark.read.parquet(path)
    lo, hi = 200 // BUCKET_SIZE, 500 // BUCKET_SIZE
    return (
        back.filter(
            (F.col("height_bucket") >= lo)
            & (F.col("height_bucket") < hi)
            & (F.col("event_id") >= 200)
            & (F.col("event_id") < 500)
        )
        .groupBy(F.col("height_bucket").cast("long").alias("height_bucket"))
        .agg(
            F.count("*").alias("n_rows"),
            F.min("event_id").cast("long").alias("min_height"),
            F.max("event_id").cast("long").alias("max_height"),
        )
    )


# --------------------------------------------------------------------------
# 92. tx_hash_bucketed_lookup — hash-bucketed layout for point lookups
# --------------------------------------------------------------------------
@register(
    "tx_hash_bucketed_lookup",
    oracle="""
    WITH txs AS (
      SELECT o_orderkey AS tx_id,
             upper(sha256('tx-' || CAST(o_orderkey AS VARCHAR))) AS tx_hash
      FROM orders
    )
    SELECT tx_id, tx_hash, substr(tx_hash, 1, 2) AS hash_bucket
    FROM txs
    WHERE tx_hash IN (
      SELECT upper(sha256('tx-' || CAST(k AS VARCHAR)))
      FROM (SELECT 17 AS k UNION ALL SELECT 4242 UNION ALL SELECT 99991)
    )
    """,
)
def tx_hash_bucketed_lookup(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Point lookups on a HASH-BUCKETED layout — the storage design the
    reference approximates with a bloom_filter skip index on tx_hash
    (models.js:125,233,282). The tx table is written partitioned by a
    hash-prefix directory key; a lookup then touches exactly one
    directory via PartitionFilters instead of scanning every file's
    bloom footer. At 100 TB that is the difference between a metadata
    op and a full-index probe; the write costs one range shuffle.

    Directory fan-out is the first hex NIBBLE (16 dirs) — at test scale
    256 dirs of tiny files cost more to create than they prune; at real
    scale the same layout widens to the first byte (256) by taking two
    characters. The 2-char ``hash_bucket`` COLUMN is kept as the
    finer-grained logical bucket either way."""
    o = load(spark, sf_dir, "orders")
    from zigchain_indexer_clickhouse_spark.functions.hashing import tx_hash

    txs = (
        o.select(
            F.col("o_orderkey").alias("tx_id"),
            tx_hash(F.concat(F.lit("tx-"), F.col("o_orderkey").cast("string"))).alias(
                "tx_hash"
            ),
        )
        .withColumn("hash_bucket", F.substring("tx_hash", 1, 2))
        .withColumn("hash_dir", F.substring("tx_hash", 1, 1))
    )

    path = scratch_dir(spark, "txhash", sf_dir)
    (
        txs.repartitionByRange("hash_dir")
        .write.mode("overwrite")
        .partitionBy("hash_dir")
        .parquet(path)
    )

    probes = [17, 4242, 99991]
    probe_hashes = [
        hashlib.sha256(f"tx-{k}".encode()).hexdigest().upper() for k in probes
    ]
    probe_dirs = [h[:1] for h in probe_hashes]
    # dir predicate prunes to ≤3 directories (PartitionFilters);
    # the hash predicate then pushes into those files' row groups
    return (
        spark.read.parquet(path)
        .filter(F.col("hash_dir").isin(probe_dirs))
        .filter(F.col("tx_hash").isin(probe_hashes))
        .select("tx_id", "tx_hash", "hash_bucket")
    )


# --------------------------------------------------------------------------
# 144. schema_evolution_read — mergeSchema over mixed-generation files
# --------------------------------------------------------------------------
@register(
    "schema_evolution_read",
    oracle="""
    SELECT CAST(o_orderkey % 2 AS INT) AS generation,
           COUNT(*) AS n_rows,
           CAST(SUM(CASE WHEN o_orderkey % 2 = 0 THEN 1 ELSE 0 END)
                AS BIGINT) AS n_missing_status,
           ROUND(SUM(o_totalprice), 2) AS sum_price
    FROM orders
    GROUP BY 1
    """,
)
def schema_evolution_read(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Schema evolution on read: a long-lived table accretes files from
    MULTIPLE writer generations (the reference's indexer evolved its
    tables the same way — init_clickhouse.js ALTERs columns in). Here
    generation v1 files carry 3 columns, v2 files add
    o_orderstatus/o_orderpriority; ``mergeSchema`` unifies them on
    read, with v1 rows surfacing NULL for the evolved columns — which
    the query then counts per generation.

    At 100 TB you do NOT rewrite old files when a column lands;
    mergeSchema (or a metastore schema) makes old+new coexist and
    Catalyst still prunes columns per file. Footer-only schema merge —
    the data pages of unprojected columns are never read.

    Plan: two scratch writes (the harness's stand-in for years of
    ingest), one unified scan, one small agg."""
    o = load(spark, sf_dir, "orders")
    base = scratch_dir(spark, "schema_evo", sf_dir)
    v1 = o.filter(F.col("o_orderkey") % 2 == 0).select(
        "o_orderkey", "o_custkey", "o_totalprice"
    )
    v2 = o.filter(F.col("o_orderkey") % 2 == 1).select(
        "o_orderkey", "o_custkey", "o_totalprice",
        "o_orderstatus", "o_orderpriority",
    )
    v1.write.mode("overwrite").parquet(os.path.join(base, "gen=v1"))
    v2.write.mode("overwrite").parquet(os.path.join(base, "gen=v2"))
    unified = spark.read.option("mergeSchema", "true").parquet(
        os.path.join(base, "gen=v1"), os.path.join(base, "gen=v2")
    )
    return (
        unified.groupBy((F.col("o_orderkey") % 2).cast("int").alias("generation"))
        .agg(
            F.count("*").alias("n_rows"),
            F.sum(F.col("o_orderstatus").isNull().cast("long"))
            .cast("long")
            .alias("n_missing_status"),
            F.round(F.sum("o_totalprice"), 2).alias("sum_price"),
        )
    )
