"""Remaining ClickHouse query-surface idioms + incremental-indexing
primitives (SURVEY.md §2.2/#131-135, #140): ORDER BY … WITH
FILL/INTERPOLATE gap filling, LIMIT n BY group, the SAMPLE clause's
consistent hash sampling, snapshot diffing, SCD2 state-history
construction, and the bloom_filter skip index's membership test.

These are the last query-language idioms a ClickHouse user of the
reference would reach for that had no direct twin yet:

- ``WITH FILL`` densifies a sparse time series with generated rows and
  ``INTERPOLATE`` carries values across the gaps — Spark-first this is
  a per-key ``sequence()`` explode + left join + last-ignore-nulls
  window, never a driver loop.
- ``LIMIT n BY group`` keeps the first n rows per group — Spark plans
  the row_number filter as WindowGroupLimit, pushing the limit below
  the exchange (each map task pre-trims to n per group).
- ``SAMPLE 1/k`` reads a deterministic hash slice of the PRIMARY KEY —
  crucially, the SAME entities fall in the sample across tables and
  across runs, so sampled joins still line up. Modeled with the
  portable hash so the oracle replays the exact sample.
- snapshot diff / SCD2 are the incremental-indexing primitives around
  the reference's re-index flows (orchestrator re-enqueues ranges;
  diffing two logical snapshots bounds the rewrite set).
- A ``bloom_filter`` skip index answers "can this granule hold key k"
  with no false negatives. Its probe positions come from the portable
  hash, so even the filter's false positives replay bit-exactly in
  DuckDB.
"""

from __future__ import annotations

from pyspark.sql import DataFrame, SparkSession, Window
from pyspark.sql import functions as F

from zigchain_indexer_clickhouse_spark.catalog import load
from zigchain_indexer_clickhouse_spark.functions.hashing import (
    portable_hash,
    portable_hash_sql,
)
from zigchain_indexer_clickhouse_spark.plans.registry import register

SAMPLE_K = 8  # SAMPLE 1/8
LIMIT_BY_N = 3


# --------------------------------------------------------------------------
# 131. time_fill_interpolate — ORDER BY day WITH FILL INTERPOLATE (value)
# --------------------------------------------------------------------------
@register(
    "time_fill_interpolate",
    oracle="""
    WITH sparse AS (
      SELECT event_type, CAST(ts AS DATE) AS day,
             COUNT(*) AS n, SUM(value) AS sv
      FROM events WHERE event_id % 7 = 0
      GROUP BY 1, 2
    ),
    span AS (
      SELECT event_type, MIN(day) AS mn, MAX(day) AS mx
      FROM sparse GROUP BY 1
    ),
    days AS (
      SELECT s.event_type, s.mn + g.i * INTERVAL 1 DAY AS dayts
      FROM span s, generate_series(0, 4000) g(i)
      WHERE s.mn + g.i * INTERVAL 1 DAY <= s.mx
    ),
    filled AS (
      SELECT d.event_type, CAST(d.dayts AS DATE) AS day,
             COALESCE(sp.n, 0) AS n_events,
             CASE WHEN sp.n IS NULL THEN 1 ELSE 0 END AS filled,
             last_value(sp.sv IGNORE NULLS) OVER (
               PARTITION BY d.event_type ORDER BY d.dayts
               ROWS UNBOUNDED PRECEDING) AS sv_carried
      FROM days d LEFT JOIN sparse sp
        ON sp.event_type = d.event_type AND sp.day = CAST(d.dayts AS DATE)
    )
    SELECT event_type, strftime(day, '%Y-%m-%d') AS day,
           CAST(n_events AS BIGINT) AS n_events,
           CAST(filled AS INT) AS filled,
           ROUND(sv_carried, 2) AS sum_value
    FROM filled
    """,
)
def time_fill_interpolate(spark: SparkSession, sf_dir: str) -> DataFrame:
    """``ORDER BY day WITH FILL INTERPOLATE (sum_value)``: densify each
    event type's daily series over its own [min, max] span (every 7th
    event only, so real gaps exist), generated rows flagged, and the
    value column carried forward across gaps — ClickHouse INTERPOLATE
    semantics (previous value persists until the next real row).

    Plan: the day axis comes from ``sequence()`` EXPLODED inside each
    per-type span row — generation is distributed, no driver loop, no
    cross join against a calendar table. Then one left equi-join back
    to the sparse aggregate and one per-type window for the carry. At
    100 TB the generated rows are |types|·|days| — tiny next to the
    event scan that produced the aggregate."""
    e = load(spark, sf_dir, "events").filter(F.col("event_id") % 7 == 0)
    sparse = (
        e.groupBy("event_type", F.to_date("ts").alias("day"))
        .agg(F.count("*").alias("n"), F.sum("value").alias("sv"))
    )
    days = (
        sparse.groupBy("event_type")
        .agg(F.min("day").alias("mn"), F.max("day").alias("mx"))
        .select(
            "event_type",
            F.explode(
                F.sequence("mn", "mx", F.expr("INTERVAL 1 DAY"))
            ).alias("day"),
        )
    )
    w = (
        Window.partitionBy("event_type")
        .orderBy("day")
        .rowsBetween(Window.unboundedPreceding, 0)
    )
    return (
        days.join(sparse, ["event_type", "day"], "left")
        .select(
            "event_type",
            F.date_format("day", "yyyy-MM-dd").alias("day"),
            F.coalesce("n", F.lit(0)).cast("long").alias("n_events"),
            F.col("n").isNull().cast("int").alias("filled"),
            F.round(F.last("sv", ignorenulls=True).over(w), 2).alias(
                "sum_value"
            ),
        )
    )


# --------------------------------------------------------------------------
# 132. limit_by — ClickHouse LIMIT n BY group
# --------------------------------------------------------------------------
@register(
    "limit_by",
    oracle=f"""
    SELECT o_orderpriority, CAST(o_orderkey AS BIGINT) AS o_orderkey,
           o_totalprice, CAST(rn AS INT) AS rn
    FROM (
      SELECT o_orderpriority, o_orderkey, o_totalprice,
             row_number() OVER (PARTITION BY o_orderpriority
                                ORDER BY o_totalprice DESC, o_orderkey) AS rn
      FROM orders
    ) WHERE rn <= {LIMIT_BY_N}
    """,
)
def limit_by(spark: SparkSession, sf_dir: str) -> DataFrame:
    """``LIMIT {LIMIT_BY_N} BY o_orderpriority`` — the first n rows per
    group (here: each priority's top-{LIMIT_BY_N} orders by price),
    which ClickHouse evaluates without materializing full groups.

    Plan: Catalyst rewrites the rn<=n filter into WindowGroupLimit and
    pushes it BELOW the exchange — every map task trims its partition
    to n rows per group before shuffling, so the exchange carries
    O(groups·n·tasks) rows, not the table (asserted in
    tests/test_ch_idioms.py)."""
    o = load(spark, sf_dir, "orders")
    w = Window.partitionBy("o_orderpriority").orderBy(
        F.desc("o_totalprice"), "o_orderkey"
    )
    return (
        o.withColumn("rn", F.row_number().over(w).cast("int"))
        .filter(F.col("rn") <= LIMIT_BY_N)
        .select("o_orderpriority", "o_orderkey", "o_totalprice", "rn")
    )


# --------------------------------------------------------------------------
# 133. sample_consistent — ClickHouse SAMPLE 1/k hash sampling
# --------------------------------------------------------------------------
@register(
    "sample_consistent",
    oracle=f"""
    WITH s AS (
      SELECT * FROM events
      WHERE ({portable_hash_sql("user_id", "'sample'")}) % {SAMPLE_K} = 0
    )
    SELECT event_type,
           COUNT(*) AS n_sampled,
           CAST(COUNT(DISTINCT user_id) AS BIGINT) AS n_users_sampled,
           CAST(COUNT(*) * {SAMPLE_K} AS BIGINT) AS est_total
    FROM s GROUP BY event_type
    """,
)
def sample_consistent(spark: SparkSession, sf_dir: str) -> DataFrame:
    """``SAMPLE 1/{SAMPLE_K}`` semantics: a deterministic hash slice of
    the sampling key (user_id — ClickHouse samples on a hash in the
    primary key). Two properties ClickHouse promises and this models:
    the sample is STABLE across runs (hash, not RNG), and CONSISTENT
    across tables — any other table sampled on user_id keeps the same
    users, so sampled joins still match. Estimates scale by k.

    Plan: the sample predicate is a pushdown-friendly narrow filter —
    at 100 TB with data clustered by the sampling key this prunes
    whole granules/files, which is exactly why CH puts the hash in the
    PK. One agg after the filter."""
    e = load(spark, sf_dir, "events")
    s = e.filter(portable_hash(F.col("user_id"), "sample") % SAMPLE_K == 0)
    return s.groupBy("event_type").agg(
        F.count("*").alias("n_sampled"),
        F.countDistinct("user_id").cast("long").alias("n_users_sampled"),
        (F.count("*") * SAMPLE_K).cast("long").alias("est_total"),
    )


# --------------------------------------------------------------------------
# 134. snapshot_diff — logical diff of two index snapshots
# --------------------------------------------------------------------------
_SNAP_A_COND = (
    "NOT (CAST(floor(event_id / 10) AS BIGINT) % 5 = 4) "
    "AND NOT (event_id % 97 = 3)"
)


@register(
    "snapshot_diff",
    oracle=f"""
    WITH snap_a AS (
      SELECT CAST(floor(event_id / 10) AS BIGINT) AS height,
             COUNT(*) AS n, MAX(ts) AS created_at
      FROM events WHERE {_SNAP_A_COND}
      GROUP BY 1
    ),
    snap_b AS (
      SELECT CAST(floor(event_id / 10) AS BIGINT) AS height,
             COUNT(*) AS n, MAX(ts) AS created_at
      FROM events GROUP BY 1
    )
    SELECT b.height,
           CASE WHEN a.height IS NULL THEN 'added' ELSE 'changed' END
             AS change_type,
           CAST(b.n AS BIGINT) AS n_new,
           CAST(COALESCE(a.n, 0) AS BIGINT) AS n_old
    FROM snap_b b LEFT JOIN snap_a a ON a.height = b.height
    WHERE a.height IS NULL OR a.n <> b.n OR a.created_at <> b.created_at
    """,
)
def snapshot_diff(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Incremental-indexing diff: compare yesterday's logical snapshot
    (a filtered build: some heights absent, some missing one event)
    against today's and emit exactly the heights that need rewriting,
    classified added/changed. This is the primitive that bounds a
    re-index: the reference re-enqueues whole ranges
    (orchestrator.js); diffing snapshots turns that into a minimal
    rewrite set.

    Plan: two map-side-combinable aggs sharing the events scan shape +
    one equi-join on height. Unchanged heights drop out in the join
    filter — the output is proportional to the CHANGE, not the chain.
    At 100 TB both snapshots are height-partitioned, so the join is
    partition-local under co-partitioned layouts."""
    e = load(spark, sf_dir, "events")
    height = F.floor(F.col("event_id") / 10).cast("long").alias("height")

    def snap(df: DataFrame) -> DataFrame:
        return df.groupBy(height).agg(
            F.count("*").alias("n"), F.max("ts").alias("created_at")
        )

    a = snap(e.filter(F.expr(_SNAP_A_COND))).select(
        F.col("height").alias("a_height"),
        F.col("n").alias("n_old"),
        F.col("created_at").alias("ca_old"),
    )
    b = snap(e)
    return (
        b.join(a, b.height == a.a_height, "left")
        .filter(
            F.col("a_height").isNull()
            | (F.col("n") != F.col("n_old"))
            | (F.col("created_at") != F.col("ca_old"))
        )
        .select(
            "height",
            F.when(F.col("a_height").isNull(), "added")
            .otherwise("changed")
            .alias("change_type"),
            F.col("n").cast("long").alias("n_new"),
            F.coalesce("n_old", F.lit(0)).cast("long").alias("n_old"),
        )
    )


# --------------------------------------------------------------------------
# 135. scd2_user_state — SCD Type-2 state history from an event log
# --------------------------------------------------------------------------
@register(
    "scd2_user_state",
    oracle="""
    SELECT user_id,
           CAST(event_id AS BIGINT) AS event_id,
           ts AS valid_from,
           lead(ts) OVER (PARTITION BY user_id ORDER BY ts, event_id)
             AS valid_to,
           CAST(CASE WHEN lead(ts) OVER (PARTITION BY user_id
                                         ORDER BY ts, event_id) IS NULL
                THEN 1 ELSE 0 END AS INT) AS is_current,
           value
    FROM events
    """,
)
def scd2_user_state(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Slowly-Changing-Dimension Type 2 from the event log: each user
    state gets a [valid_from, valid_to) interval, open-ended on the
    current row — the warehouse-side twin of ``index_state_latest``
    (which keeps ONLY the current row; SCD2 keeps the full history and
    makes as-of queries a range probe, pairing with ``asof_join``).

    Plan: one shuffle on user_id, one lead() per row — the canonical
    log→interval transform. History tables at 100 TB partition by
    valid_from date; the window stays entity-keyed (no global sort)."""
    e = load(spark, sf_dir, "events")
    w = Window.partitionBy("user_id").orderBy("ts", "event_id")
    valid_to = F.lead("ts").over(w)
    return e.select(
        "user_id",
        F.col("event_id").cast("long").alias("event_id"),
        F.col("ts").alias("valid_from"),
        valid_to.alias("valid_to"),
        valid_to.isNull().cast("int").alias("is_current"),
        "value",
    )


# --------------------------------------------------------------------------
# 194. cumulative_unique_users — running uniqExact over the event timeline
# --------------------------------------------------------------------------
@register(
    "cumulative_unique_users",
    oracle="""
    WITH fd AS (
      SELECT user_id, MIN(CAST(ts AS DATE)) AS day FROM events
      GROUP BY user_id
    ),
    nd AS (SELECT day, COUNT(*) AS new_users FROM fd GROUP BY day)
    SELECT day, CAST(new_users AS BIGINT) AS new_users,
           CAST(SUM(new_users) OVER (ORDER BY day) AS BIGINT) AS cum_users
    FROM nd
    """,
)
def cumulative_unique_users(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Running count of distinct users ever seen, per day — the
    growth-curve readout (CH: ``uniqExact`` under a cumulative
    ``ORDER BY ... ROWS UNBOUNDED PRECEDING`` window, which CH serves
    with uniqState merges). A naive running COUNT(DISTINCT) window
    over the event stream is quadratic and unshardable; the exact
    Spark-first identity is: cumulative distinct count = running SUM
    of FIRST-SEEN counts.

    Plan: one map-side-combinable min(date) groupBy on user_id, one
    tiny day-keyed count, then the cumulative window runs over the
    DAY-GRAIN frame — thousands of rows at century scale, regardless
    of event volume, so the single-partition ordered window is a
    constant-cost tail, not a bottleneck."""
    e = load(spark, sf_dir, "events")
    fd = e.groupBy("user_id").agg(
        F.min(F.col("ts").cast("date")).alias("day")
    )
    nd = fd.groupBy("day").agg(F.count("*").alias("new_users"))
    w = Window.orderBy("day").rowsBetween(Window.unboundedPreceding, 0)
    return nd.select(
        "day",
        F.col("new_users").cast("long").alias("new_users"),
        F.sum("new_users").over(w).cast("long").alias("cum_users"),
    )


# --------------------------------------------------------------------------
# 222. ip_subnet_rollup — ClickHouse IPv4 function family analog
# --------------------------------------------------------------------------
@register(
    "ip_subnet_rollup",
    oracle="""
    WITH src AS (
      SELECT '10.77.' || CAST((user_id * 40503 % 65536) // 256 AS VARCHAR)
               || '.' || CAST(user_id * 40503 % 256 AS VARCHAR) AS ip_str,
             CAST(round(value * 100) AS BIGINT) AS cents
      FROM events
    ),
    parsed AS (
      SELECT CAST(string_split(ip_str, '.')[1] AS BIGINT) * 16777216
             + CAST(string_split(ip_str, '.')[2] AS BIGINT) * 65536
             + CAST(string_split(ip_str, '.')[3] AS BIGINT) * 256
             + CAST(string_split(ip_str, '.')[4] AS BIGINT) AS ip_num,
             cents
      FROM src
    )
    SELECT ip_num // 256 AS subnet24,
           CAST((ip_num // 256) // 65536 AS VARCHAR) || '.'
             || CAST(((ip_num // 256) // 256) % 256 AS VARCHAR) || '.'
             || CAST((ip_num // 256) % 256 AS VARCHAR) || '.0/24'
             AS cidr,
           CAST(COUNT(*) AS BIGINT) AS n_events,
           CAST(COUNT(DISTINCT ip_num) AS BIGINT) AS n_ips,
           CAST(SUM(cents) AS BIGINT) AS total_cents,
           CAST(MIN(ip_num) AS BIGINT) AS min_ip,
           CAST(MAX(ip_num) AS BIGINT) AS max_ip
    FROM parsed GROUP BY 1 ORDER BY subnet24
    """,
)
def ip_subnet_rollup(spark: SparkSession, sf_dir: str) -> DataFrame:
    """ClickHouse IPv4 function family (``IPv4StringToNum`` /
    ``IPv4NumToString`` / ``IPv4CIDRToRange``): parse dotted-quad
    strings to integers IN EXPRESSION LAND, roll traffic up to /24
    subnets, and render each subnet's CIDR — the network-analytics
    idiom CH grew up serving. IPs are synthesized deterministically
    from user_id (a 16-bit Fibonacci-multiplicative spread, so hosts
    scatter across /24s the way real clients do) and the oracle
    replays the parse.

    Exactness: the parse is split+cast+shift integer arithmetic (no
    regex captures, no floats); subnet, CIDR text, and min/max are
    all integer-derived.

    Scale shape: parse is a narrow codegen scan; ONE combinable
    subnet agg (distinct-IP expands to the standard two-level plan);
    output = live /24 count. The string→int→group pipeline is
    exactly how a 100 TB access log rolls up — strings never reach
    the exchange."""
    e = load(spark, sf_dir, "events").select(
        F.concat(
            F.lit("10.77."),
            ((F.col("user_id") * 40503 % 65536) / 256)
            .cast("long").cast("string"),
            F.lit("."),
            (F.col("user_id") * 40503 % 256).cast("string"),
        ).alias("ip_str"),
        F.round(F.col("value") * 100).cast("long").alias("cents"),
    )
    p = F.split("ip_str", "\\.")
    parsed = e.select(
        (
            p.getItem(0).cast("long") * 16777216
            + p.getItem(1).cast("long") * 65536
            + p.getItem(2).cast("long") * 256
            + p.getItem(3).cast("long")
        ).alias("ip_num"),
        "cents",
    )
    sub = (F.col("ip_num") / 256).cast("long")
    return (
        parsed.groupBy(sub.alias("subnet24"))
        .agg(
            F.count("*").cast("long").alias("n_events"),
            F.countDistinct("ip_num").cast("long").alias("n_ips"),
            F.sum("cents").cast("long").alias("total_cents"),
            F.min("ip_num").cast("long").alias("min_ip"),
            F.max("ip_num").cast("long").alias("max_ip"),
        )
        .select(
            "subnet24",
            F.concat(
                (F.col("subnet24") / 65536).cast("long").cast("string"),
                F.lit("."),
                ((F.col("subnet24") / 256).cast("long") % 256).cast("string"),
                F.lit("."),
                (F.col("subnet24") % 256).cast("string"),
                F.lit(".0/24"),
            ).alias("cidr"),
            "n_events", "n_ips", "total_cents", "min_ip", "max_ip",
        )
        .orderBy("subnet24")
    )


# --------------------------------------------------------------------------
# 140. bloom_membership — exactly-replayable Bloom filter build + probe
# --------------------------------------------------------------------------
BLOOM_BITS = 1 << 16
BLOOM_HASHES = 3
BLOOM_PROBE_SHIFT = 7_777_777  # offset used to synthesize known misses


@register(
    "bloom_membership",
    oracle=f"""
    WITH keys AS (SELECT DISTINCT o_orderkey AS k FROM orders),
    bits AS (
      SELECT DISTINCT ({portable_hash_sql("k", "'bloom' || CAST(g.j AS VARCHAR)")})
               % {BLOOM_BITS} AS pos
      FROM keys, generate_series(0, {BLOOM_HASHES - 1}) g(j)
    ),
    probes AS (
      SELECT k AS probe, 1 AS is_real FROM keys
      UNION ALL
      SELECT k + {BLOOM_PROBE_SHIFT} AS probe, 0 AS is_real FROM keys
    ),
    probe_pos AS (
      SELECT p.probe, p.is_real,
             ({portable_hash_sql("p.probe", "'bloom' || CAST(g.j AS VARCHAR)")})
               % {BLOOM_BITS} AS pos
      FROM probes p, generate_series(0, {BLOOM_HASHES - 1}) g(j)
    ),
    verdicts AS (
      SELECT pp.probe, pp.is_real,
             CASE WHEN COUNT(b.pos) = {BLOOM_HASHES} THEN 1 ELSE 0 END AS member
      FROM probe_pos pp LEFT JOIN bits b ON b.pos = pp.pos
      GROUP BY pp.probe, pp.is_real
    )
    SELECT CAST(COUNT(*) AS BIGINT) AS n_probes,
           CAST(SUM(CASE WHEN is_real = 1 THEN member ELSE 0 END) AS BIGINT)
             AS n_true_hits,
           CAST(SUM(CASE WHEN is_real = 0 THEN member ELSE 0 END) AS BIGINT)
             AS n_false_positives,
           CAST(SUM(CASE WHEN is_real = 0 THEN member ELSE 0 END) * 1000000
                // SUM(CASE WHEN is_real = 0 THEN 1 ELSE 0 END) AS BIGINT)
             AS fp_rate_ppm
    FROM verdicts
    """,
)
def bloom_membership(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Bloom filter ({BLOOM_BITS} bits, k={BLOOM_HASHES}) over order
    keys, probed with every real key plus a shifted copy (known
    misses). Because the probe positions come from the portable hash,
    the filter's exact false positives — not just their rate — replay
    in the oracle: a SKETCH with a bit-exact cross-engine contract
    (ClickHouse bloom_filter skip index / Spark runtime-filter
    semantics, minus the opaque native bitmaps).

    Every real key must hit (Bloom filters have no false negatives —
    asserted in tests); the shifted keys measure the realized FP rate
    against the (1-e^{{-kn/m}})^k design point.

    Plan: the bit set is a distinct-agg on positions (≤{BLOOM_BITS}
    rows — broadcastable at any corpus size, the point of the
    structure); probing is one equi-join on the position int + a
    count-all-k check. No row ever carries more than two longs."""
    o = load(spark, sf_dir, "orders")
    keys = o.select(F.col("o_orderkey").alias("k")).distinct()

    def positions(col: F.Column) -> F.Column:
        return F.array(
            *[
                portable_hash(col, f"bloom{j}") % BLOOM_BITS
                for j in range(BLOOM_HASHES)
            ]
        )

    bits = (
        keys.select(F.explode(positions(F.col("k"))).alias("pos")).distinct()
    )
    probes = keys.select(F.col("k").alias("probe"), F.lit(1).alias("is_real")).unionAll(
        keys.select(
            (F.col("k") + BLOOM_PROBE_SHIFT).alias("probe"),
            F.lit(0).alias("is_real"),
        )
    )
    probe_pos = probes.select(
        "probe", "is_real", F.explode(positions(F.col("probe"))).alias("pos")
    )
    verdicts = (
        probe_pos.join(F.broadcast(bits.withColumn("hit", F.lit(1))), "pos", "left")
        .groupBy("probe", "is_real")
        .agg(
            (F.count("hit") == BLOOM_HASHES).cast("int").alias("member")
        )
    )
    return verdicts.agg(
        F.count("*").cast("long").alias("n_probes"),
        F.sum(F.when(F.col("is_real") == 1, F.col("member")).otherwise(0))
        .cast("long")
        .alias("n_true_hits"),
        F.sum(F.when(F.col("is_real") == 0, F.col("member")).otherwise(0))
        .cast("long")
        .alias("n_false_positives"),
        F.expr(
            f"""CAST(SUM(CASE WHEN is_real = 0 THEN member ELSE 0 END)
                 * 1000000 DIV SUM(CASE WHEN is_real = 0 THEN 1 ELSE 0 END)
                 AS BIGINT)"""
        ).alias("fp_rate_ppm"),
    )

