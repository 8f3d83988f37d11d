"""Table catalog: parquet loaders for the test star schema.

Tables (driver-generated, see TESTDATA.md): region nation customer
supplier part orders lineitem events documents embeddings.

``documents`` and ``embeddings`` are read by the training-data modules
still registered (corpus_prep, corpus_transform, curation, data_mix,
multimodal, similarity, text_analysis, segments' span_corruption).
Three indexer-side operators read ``documents`` too:
``maybe_b64_decode`` (the reference's retry_failed.js decode),
``heavy_hitters_topk`` (CH ``topK``) and ``roc_auc_doc_length`` (CH
``arrayAUC``).

The module also holds the session's two memos: loaded table handles
(``load``) and persisted shared stages (``_shared_stage``).

At 100 TB these would be partitioned parquet/iceberg tables; the loader
keeps the read declarative (``spark.read.parquet``) so Catalyst gets
predicate pushdown, column pruning, and partition pruning for free.
"""

from __future__ import annotations

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F

TABLES = (
    "region",
    "nation",
    "customer",
    "supplier",
    "part",
    "orders",
    "lineitem",
    "events",
    "documents",
    "embeddings",
)

# Dimension tables small enough to broadcast at any scale factor.
BROADCAST_DIMS = frozenset({"region", "nation", "supplier", "part", "customer"})

# Per-session memo of loaded table HANDLES (immutable logical plans —
# never computed data: every action over a cached handle still scans
# the parquet files). Measured (r12, idle local[32]): each uncached
# load() costs ~105 ms — a parquet footer schema-inference round trip
# plus the scoped conf flips — and the bench pays it on every query
# construction, 2×; the memoized handle costs ~0 ms. This is exactly
# what a metastore/catalog gives a production cluster: the table's
# schema is resolved once, not re-sampled from footers per query.
#
# The memo lives as an attribute ON the SparkSession wrapper object
# (not in a module-level registry): the r12 WeakKeyDictionary could
# never evict — its DataFrame values strongly referenced their session
# (df.sparkSession), so the weakly-keyed entry kept its own key alive
# (ADVICE r12). An instance attribute has no such cycle to break: the
# cache's lifetime IS the session wrapper's lifetime, a stopped and
# dropped session takes its plans with it, and a foreign session never
# sees another session's resolution.
#
# Static-input assumption (ADVICE r12): a cached handle snapshots the
# parquet file listing at first load. The bench/gate inputs under
# sf_dir are immutable by contract; a caller that rewrites files under
# a cached sf_dir mid-session must call clear_cache(spark) first.
_CACHE_ATTR = "_zic_table_memo"


def clear_cache(spark: SparkSession) -> None:
    """Drop this session's memoized table handles (e.g. after
    regenerating the files under a previously-loaded sf_dir)."""
    getattr(spark, _CACHE_ATTR, {}).clear()


def load(spark: SparkSession, sf_dir: str, name: str) -> DataFrame:
    """Load one table. Plain parquet scan — pushdown-friendly.

    Timestamp columns have shipped in three generations: parquet
    TIMESTAMP(NANOS) (which Spark rejects by default — read as raw
    nanos via ``nanosAsLong`` and truncated to microseconds, the same
    truncation DuckDB applies), TIMESTAMP(MICROS, isAdjustedToUTC=true)
    (plain TimestampType), and TIMESTAMP(MICROS, isAdjustedToUTC=false)
    (which Spark 4 infers as TIMESTAMP_NTZ — a type that rejects
    ``cast(ts as bigint)`` and shifts date_trunc/window semantics off
    the session zone). Reading with ``inferTimestampNTZ.enabled=false``
    pins the third generation back to TimestampType, so every
    generation comes back identical — the schema_evolution_read story
    applied to the catalog itself. (DuckDB reads the same columns as
    naive timestamps; under a UTC session the two agree exactly.)

    Parquet schema inference is EAGER (resolved when ``read.parquet``
    returns, verified in tests/test_catalog.py), so the conf is set
    only for the duration of the footer read and restored immediately —
    a foreign session's own reads keep their configured behavior.
    """
    # The engine's declared timestamp semantics are UTC: stored micros
    # are naive-as-UTC and every oracle comparison (DuckDB reads them as
    # naive timestamps) assumes it. Under a non-UTC session zone every
    # `ts >= TIMESTAMP '...'` literal and date_trunc/day bucket would
    # silently shift. Pin the session zone at table-load time so the
    # engine computes the same answers from any harness session.
    tz_conf = "spark.sql.session.timeZone"
    if spark.conf.get(tz_conf) not in ("UTC", "Etc/UTC", "GMT"):
        spark.conf.set(tz_conf, "UTC")
    if name not in TABLES:
        raise KeyError(f"unknown table {name!r}; known: {TABLES}")
    cache = getattr(spark, _CACHE_ATTR, None)
    if cache is None:
        cache = {}
        setattr(spark, _CACHE_ATTR, cache)
    key = f"{sf_dir}/{name}"
    cached = cache.get(key)
    if cached is not None:
        return cached
    df = _load_fresh(spark, sf_dir, name)
    cache[key] = df
    return df


_STAGE_CACHE: dict[tuple, DataFrame] = {}


def _shared_stage(key_tag: str, spark: SparkSession, sf_dir: str, build) -> DataFrame:
    """Memoized persisted stage, keyed by (applicationId, sf_dir, tag).

    Operators return LAZY DataFrames, so there is no post-action point
    to unpersist from inside one; a stage that several operators (or
    several branches of one operator) consume is persisted once here
    instead of once per consumer, where the copies would leak for the
    session. One cache entry per (app, sf_dir, tag); entries for a
    different sf_dir or a dead app are unpersisted on the way in, so
    peak footprint is one sf_dir's stages regardless of how many scale
    factors a session sweeps."""
    key = (spark.sparkContext.applicationId, sf_dir, key_tag)
    df = _STAGE_CACHE.get(key)
    if df is not None:
        return df
    for k in [k for k in _STAGE_CACHE if k[0] != key[0] or k[1] != sf_dir]:
        try:
            _STAGE_CACHE.pop(k).unpersist()
        except Exception:  # noqa: BLE001 — dead SparkContext, nothing to free
            _STAGE_CACHE.pop(k, None)
    df = build().persist()
    _STAGE_CACHE[key] = df
    return df


def _load_fresh(spark: SparkSession, sf_dir: str, name: str) -> DataFrame:
    """One uncached table resolution — the footer read + scoped confs."""
    if name == "events":
        # nanosAsLong is a session default (session.py); tolerate foreign
        # sessions by setting it only when unset — never flipping an
        # explicit user choice mid-session.
        conf = "spark.sql.legacy.parquet.nanosAsLong"
        if spark.conf.get(conf, None) is None:
            spark.conf.set(conf, "true")
        df = _read_ltz(spark, f"{sf_dir}/{name}.parquet")
        if dict(df.dtypes).get("ts") == "bigint":
            # nanos-as-long generation: integer `div`, not `/` —
            # int64-nanos / 1000.0 round-trips through double and gains
            # ±1 µs on large values
            df = df.withColumn("ts", F.timestamp_micros(F.expr("ts div 1000")))
        return df
    return _read_ltz(spark, f"{sf_dir}/{name}.parquet")


def _read_ltz(spark: SparkSession, path: str) -> DataFrame:
    """Parquet read with TIMESTAMP_NTZ inference off: micros columns
    written without isAdjustedToUTC come back as plain TimestampType,
    matching the older data generations and DuckDB-under-UTC. The conf
    flip is scoped to the (eager) schema-inference call and restored."""
    conf = "spark.sql.parquet.inferTimestampNTZ.enabled"
    prev = spark.conf.get(conf, "true")
    if prev == "false":
        return spark.read.parquet(path)
    spark.conf.set(conf, "false")
    try:
        return spark.read.parquet(path)
    finally:
        spark.conf.set(conf, prev)


# Canonical column sets per table — the catalog's expectation, checked
# by verify_catalog (the init_clickhouse.js:465-495 verifyTables analog).
EXPECTED_COLUMNS: dict[str, tuple[str, ...]] = {
    "region": ("r_regionkey", "r_name"),
    "nation": ("n_nationkey", "n_name", "n_regionkey"),
    "customer": ("c_custkey", "c_name", "c_nationkey", "c_acctbal", "c_mktsegment"),
    "supplier": ("s_suppkey", "s_name", "s_nationkey", "s_acctbal"),
    "part": ("p_partkey", "p_name", "p_brand", "p_type", "p_size", "p_retailprice"),
    "orders": ("o_orderkey", "o_custkey", "o_orderstatus", "o_totalprice",
               "o_orderdate", "o_orderpriority"),
    "lineitem": ("l_orderkey", "l_partkey", "l_suppkey", "l_linenumber",
                 "l_quantity", "l_extendedprice", "l_discount", "l_tax",
                 "l_returnflag", "l_linestatus", "l_shipdate"),
    "events": ("event_id", "ts", "user_id", "event_type", "value", "props"),
    "documents": ("doc_id", "text", "lang", "source", "n_chars"),
    # label is load-bearing: semdedup/embedding_centroids cluster on it
    "embeddings": ("vec_id", "embedding", "label"),
}


def verify_catalog(spark: SparkSession, sf_dir: str) -> dict[str, str]:
    """Verify every expected table exists and carries the expected
    columns — the engine's analog of the reference's verifyTables
    (init_clickhouse.js:465-495: enumerate system.tables, flag missing).

    Returns {table: status} with status 'ok', 'missing', or
    'schema-drift: ...'. Reads only parquet FOOTERS (schema inspection
    triggers no scan), so the check is metadata-cost at any data size.
    """
    report: dict[str, str] = {}
    for t in TABLES:
        try:
            cols = tuple(load(spark, sf_dir, t).columns)
        except Exception:  # noqa: BLE001 — any unreadable table is reported
            report[t] = "missing"
            continue
        expected = EXPECTED_COLUMNS[t]
        missing = [c for c in expected if c not in cols]
        report[t] = f"schema-drift: lacks {missing}" if missing else "ok"
    return report
