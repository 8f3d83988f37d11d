"""ClickHouse aggregate-function analogs that had no twin yet
(SURVEY.md §2.2 #162-163, #168-169): ``topK()`` heavy hitters, the
``sumMap()`` map-valued aggregate, ``groupArray(N)``/``groupUniqArray``
ordered-collection aggregates, and ``minMap``/``maxMap`` +
``avgWeighted``.

- ``topK(k)`` in ClickHouse is a SpaceSaving sketch: approximate, but
  the items it exists to find — the ones above a frequency threshold —
  are recoverable EXACTLY with the classic two-pass scheme: a
  Misra-Gries pass produces a small candidate superset (the MG
  guarantee: every item with true count > N/(m+1) survives an m-counter
  summary, and MG summaries merge by count-sum + shrink), then an exact
  counting pass restricted to the candidates verifies. The output is
  the deterministic set {token : count > N/K}, so a plain SQL
  GROUP BY/HAVING oracle replays it — the sketch only bounds MEMORY,
  never changes the answer.
- ``sumMap`` sums map values per key across rows (ClickHouse's *-Map
  combinator family). Spark-first that is a two-level keyed aggregate
  with the map re-assembled in expression land; the oracle rebuilds the
  identical JSON rendering with an ordered string_agg.

Determinism: the heavy-hitter verify pass is exact counting (partition
layout cannot change the answer — gated in
tests/test_partition_invariance.py); sumMap entries are sorted by key
before serialization on both engines.
"""

from __future__ import annotations

from collections.abc import Iterator

import pandas as pd
from pyspark.sql import DataFrame, SparkSession, Window
from pyspark.sql import functions as F

from zigchain_indexer_clickhouse_spark.catalog import _shared_stage, load
from zigchain_indexer_clickhouse_spark.plans.registry import register

# Heavy-hitter threshold: report tokens with count > N / HH_K.
HH_K = 50
# Misra-Gries counters per partition. The MG undercount bound is
# N_p/(SKETCH_M+1) per partition (ΣN_p = N across partitions), so any
# token with global count > N/HH_K has a positive merged estimate as
# long as SKETCH_M + 1 > HH_K; 4× headroom keeps candidate sets tiny
# without ever risking the superset guarantee.
SKETCH_M = 4 * HH_K


def _mg_shrink(counts: dict[str, int], m: int) -> dict[str, int]:
    """Shrink a count dict to ≤ m entries, Misra-Gries style: subtract
    the (m+1)-th largest count from everything and drop non-positives.
    This is the standard MG MERGE step (Agarwal et al., "Mergeable
    Summaries"): each shrink under-counts every survivor by at most the
    subtracted pivot, and the pivots across a partition sum to
    ≤ N_p/(m+1)."""
    if len(counts) <= m:
        return counts
    pivot = sorted(counts.values(), reverse=True)[m]
    return {t: c - pivot for t, c in counts.items() if c > pivot}


# --------------------------------------------------------------------------
# 162. heavy_hitters_topk — ClickHouse topK(): exact two-pass heavy hitters
# --------------------------------------------------------------------------
@register(
    "heavy_hitters_topk",
    oracle=f"""
    WITH tok AS (
      SELECT unnest(string_split(trim(text), ' ')) AS token FROM documents
    ),
    counts AS (SELECT token, COUNT(*) AS cnt FROM tok GROUP BY token),
    total AS (SELECT COUNT(*) AS n FROM tok)
    SELECT token, CAST(cnt AS BIGINT) AS cnt,
           CAST(cnt * 1000000 // n AS BIGINT) AS share_ppm
    FROM counts, total
    WHERE cnt * {HH_K} > n
    """,
)
def heavy_hitters_topk(spark: SparkSession, sf_dir: str) -> DataFrame:
    """ClickHouse ``topK``-style heavy hitters over the corpus token
    stream, computed EXACTLY in two passes: (1) a per-partition
    Misra-Gries sketch ({SKETCH_M} counters, Arrow-batched — the only
    state that ever lives outside the JVM is one ≤{SKETCH_M}-entry
    dict per partition) emits a candidate superset of every token with
    count > N/{HH_K}; (2) the exact pass re-counts ONLY candidate
    tokens (broadcast semi-join prunes the stream before the exchange)
    and filters against the true total.

    Scale shape: pass 1 is map-only (zero shuffle, ≤{SKETCH_M}+1 rows
    out per partition); pass 2's exchange carries partial counts for
    candidate tokens only — at 100 TB the full-vocabulary aggregate
    (billions of distinct tokens) is never materialized, which is the
    entire point of the sketch. The final HAVING joins a 1-row total.
    The sketch pass ALSO emits each partition's exact token total as
    a sentinel row (token NULL), so the grand total needs no third
    scan of the stream (r5 verdict watch item); the tiny sketch
    output is persisted for its two consumers. The sketch bounds
    memory, not correctness: the verify pass is exact counting, so
    partition layout cannot change the answer."""
    d = load(spark, sf_dir, "documents")
    tok = d.select(F.explode(F.split(F.trim("text"), " ")).alias("token"))

    def mg_partition(batches: Iterator[pd.DataFrame]) -> Iterator[pd.DataFrame]:
        counts: dict[str, int] = {}
        part_n = 0
        for pdf in batches:
            part_n += len(pdf)
            for t, c in pdf["token"].value_counts().items():
                counts[t] = counts.get(t, 0) + int(c)
            counts = _mg_shrink(counts, SKETCH_M)
        yield pd.DataFrame(
            {
                "token": list(counts.keys()) + [None],
                "part_n": [0] * len(counts) + [part_n],
            }
        )

    # Persisted because both consumers (candidates, total) read it; a
    # plain frame runs the sketch pass once per consumer. Build+collect
    # on the sf1.0 replica (4 vCPU, median of 5): 1.25 s persisted vs
    # 1.47 s plain; at sf0.01 the persist costs ~0.03 s.
    sketch = _shared_stage(
        "hh_topk_sketch", spark, sf_dir,
        lambda: tok.mapInPandas(mg_partition, schema="token string, part_n long"),
    )
    candidates = (
        sketch.filter(F.col("token").isNotNull()).select("token").distinct()
    )
    total = sketch.agg(F.sum("part_n").alias("n"))
    return (
        tok.join(F.broadcast(candidates), "token")
        .groupBy("token")
        .agg(F.count("*").alias("cnt"))
        .crossJoin(F.broadcast(total))
        .filter(F.col("cnt") * HH_K > F.col("n"))
        .select(
            "token",
            "cnt",
            ((F.col("cnt") * 1_000_000) / F.col("n"))
            .cast("long")
            .alias("share_ppm"),
        )
    )


# --------------------------------------------------------------------------
# 163. sum_map_daily — ClickHouse sumMap() / -Map combinator analog
# --------------------------------------------------------------------------
@register(
    "sum_map_daily",
    oracle="""
    WITH per AS (
      SELECT CAST(ts AS DATE) AS day, event_type,
             COUNT(*) AS cnt,
             SUM(CAST(round(value * 100) AS BIGINT)) AS val_c
      FROM events GROUP BY 1, 2
    )
    SELECT day,
           '[' || string_agg(
             '{"k":"' || event_type || '","cnt":' || cnt
               || ',"val_c":' || val_c || '}',
             ',' ORDER BY event_type) || ']' AS sum_map,
           CAST(COUNT(*) AS INT) AS n_keys
    FROM per GROUP BY day
    """,
)
def sum_map_daily(spark: SparkSession, sf_dir: str) -> DataFrame:
    """ClickHouse ``sumMap`` (the *-Map combinator family): per day,
    sum counts and value-cents PER MAP KEY (event_type) and return the
    key→totals map, serialized as key-sorted JSON so both engines
    render one canonical string.

    Plan: two keyed aggregates — (day, key) partial sums collapse
    map-side, then a day-keyed re-agg assembles the map in expression
    land (sort_array over structs → to_json; key sets are distinct per
    day so the sort is total). Both exchanges carry narrow integer
    rows; the map never exceeds the key cardinality. This is exactly
    how CH maintains sumMap AggregatingMergeTree states: mergeable
    per-key partials, final map assembly at read."""
    e = load(spark, sf_dir, "events")
    per = (
        e.groupBy(
            F.col("ts").cast("date").alias("day"),
            F.col("event_type").alias("k"),
        )
        .agg(
            F.count("*").alias("cnt"),
            F.sum(F.round(F.col("value") * 100).cast("long")).alias("val_c"),
        )
    )
    return (
        per.groupBy("day")
        .agg(
            F.to_json(
                F.sort_array(F.collect_list(F.struct("k", "cnt", "val_c")))
            ).alias("sum_map"),
            F.count("*").cast("int").alias("n_keys"),
        )
    )


# --------------------------------------------------------------------------
# 168. group_array_limited — groupArray(N) / groupUniqArray analogs
# --------------------------------------------------------------------------
GA_N = 5


@register(
    "group_array_limited",
    oracle=f"""
    WITH r AS (
      SELECT user_id, event_type,
             ROW_NUMBER() OVER (PARTITION BY user_id
                                ORDER BY ts, event_id) AS rn
      FROM events
    )
    SELECT user_id,
      '["' || string_agg(CASE WHEN rn <= {GA_N} THEN event_type END,
                         '","' ORDER BY rn) || '"]' AS first_events,
      '["' || array_to_string(list_sort(list_distinct(list(event_type))),
                              '","') || '"]' AS uniq_events,
      CAST(COUNT(*) AS BIGINT) AS n_events
    FROM r GROUP BY user_id
    """,
)
def group_array_limited(spark: SparkSession, sf_dir: str) -> DataFrame:
    """ClickHouse ``groupArray({GA_N})`` + ``groupUniqArray`` per user:
    the first {GA_N} event types in (ts, event_id) order as an ordered
    JSON array, the distinct set as a sorted JSON array, and the total
    count — the "recent actions" collection shape the reference's
    monitor page renders per work item.

    Bounded state by construction: the ordered leg collects AT MOST
    {GA_N} structs per key (rn computed first, collection filtered on
    it — never "collect all then slice", which is unbounded at 100 TB);
    the uniq leg is capped by event-type cardinality. The rn window and
    the groupBy share the user_id hash partitioning — one exchange."""
    e = load(spark, sf_dir, "events")
    w = Window.partitionBy("user_id").orderBy("ts", "event_id")
    r = e.select("user_id", "event_type", "ts", "event_id").withColumn(
        "rn", F.row_number().over(w)
    )
    first5 = F.transform(
        F.array_sort(
            F.collect_list(
                F.when(
                    F.col("rn") <= GA_N, F.struct("rn", "event_type")
                )
            )
        ),
        lambda x: x["event_type"],
    )
    return r.groupBy("user_id").agg(
        F.to_json(first5).alias("first_events"),
        F.to_json(F.array_sort(F.collect_set("event_type"))).alias(
            "uniq_events"
        ),
        F.count("*").cast("long").alias("n_events"),
    )


# --------------------------------------------------------------------------
# 169. min_max_map_daily — minMap/maxMap + avgWeighted analogs
# --------------------------------------------------------------------------
@register(
    "min_max_map_daily",
    oracle="""
    WITH per AS (
      SELECT CAST(ts AS DATE) AS day, event_type AS k,
             MIN(CAST(round(value * 100) AS BIGINT)) AS min_c,
             MAX(CAST(round(value * 100) AS BIGINT)) AS max_c,
             CAST(SUM(CAST(round(value * 100) AS BIGINT)
                      * (1 + event_id % 5)) AS BIGINT) AS swv,
             CAST(SUM(1 + event_id % 5) AS BIGINT) AS sw
      FROM events GROUP BY 1, 2
    )
    SELECT day,
           '[' || string_agg(
             '{"k":"' || k || '","min_c":' || min_c
               || ',"max_c":' || max_c || '}',
             ',' ORDER BY k) || ']' AS min_max_map,
           CAST((CAST(SUM(swv) AS BIGINT) * 1000)
                // CAST(SUM(sw) AS BIGINT) AS BIGINT)
             AS avg_weighted_m,
           CAST(COUNT(*) AS INT) AS n_keys
    FROM per GROUP BY day
    """,
)
def min_max_map_daily(spark: SparkSession, sf_dir: str) -> DataFrame:
    """ClickHouse ``minMap``/``maxMap`` + ``avgWeighted`` per day: the
    per-event-type min/max value cents as a key-sorted JSON map, and
    the day's weight-averaged value in milli-cents (weight = a
    deterministic 1..5 derived from event_id — standing in for the
    per-row weight column ``avgWeighted(x, w)`` takes).

    Same two-level shape as sum_map_daily (#163): (day, key) partials
    collapse map-side, the day re-agg assembles the map in expression
    land AND folds the weighted-average numerators/denominators carried
    up from the first level — the weighted average costs zero extra
    passes. Integer end-to-end; floor division replayed by the oracle."""
    e = load(spark, sf_dir, "events")
    vc = F.round(F.col("value") * 100).cast("long")
    wt = 1 + F.col("event_id") % 5
    per = e.groupBy(
        F.col("ts").cast("date").alias("day"),
        F.col("event_type").alias("k"),
    ).agg(
        F.min(vc).alias("min_c"),
        F.max(vc).alias("max_c"),
        F.sum(vc * wt).alias("swv"),
        F.sum(wt).alias("sw"),
    )
    return per.groupBy("day").agg(
        F.to_json(
            F.sort_array(F.collect_list(F.struct("k", "min_c", "max_c")))
        ).alias("min_max_map"),
        F.expr("(sum(swv) * 1000) div sum(sw)").alias("avg_weighted_m"),
        F.count("*").cast("int").alias("n_keys"),
    )


# --------------------------------------------------------------------------
# 172. quantile_exact_weighted — ClickHouse quantileExactWeighted analog
# --------------------------------------------------------------------------
@register(
    "quantile_exact_weighted",
    oracle="""
    WITH g AS (
      SELECT event_type, CAST(round(value * 100) AS BIGINT) AS value_c,
             CAST(SUM(1 + event_id % 5) AS BIGINT) AS w
      FROM events GROUP BY 1, 2
    ),
    c AS (
      SELECT event_type, value_c, w,
             SUM(w) OVER (PARTITION BY event_type ORDER BY value_c
                          ROWS UNBOUNDED PRECEDING) AS cumw,
             SUM(w) OVER (PARTITION BY event_type) AS totw
      FROM g
    )
    SELECT event_type,
           CAST(MIN(CASE WHEN cumw * 2 >= totw THEN value_c END)
                AS BIGINT) AS p50_c,
           CAST(MIN(CASE WHEN cumw * 10 >= totw * 9 THEN value_c END)
                AS BIGINT) AS p90_c,
           CAST(MAX(totw) AS BIGINT) AS total_w
    FROM c GROUP BY event_type
    """,
)
def quantile_exact_weighted(spark: SparkSession, sf_dir: str) -> DataFrame:
    """ClickHouse ``quantileExactWeighted(0.5|0.9)(value, w)`` per
    event_type: the smallest value whose cumulative weight reaches the
    quantile of the total weight — the EXACT definition, not a sketch,
    with the same deterministic 1..5 weight as min_max_map_daily.

    Scale shape: duplicates collapse FIRST ((key, value) pre-aggregate
    — map-side combinable, so the exchange carries one row per distinct
    cent value, not per event), then two same-key window passes
    (ordered cumsum + per-key total) and one aggregate, all sharing the
    event_type partitioning. Integer comparisons only — cumw*2 >= totw
    avoids any division — so the oracle replays bit-for-bit."""
    e = load(spark, sf_dir, "events")
    g = e.groupBy(
        "event_type",
        F.round(F.col("value") * 100).cast("long").alias("value_c"),
    ).agg(F.sum(1 + F.col("event_id") % 5).alias("w"))
    wc = (
        Window.partitionBy("event_type")
        .orderBy("value_c")
        .rowsBetween(Window.unboundedPreceding, Window.currentRow)
    )
    wt = Window.partitionBy("event_type")
    c = g.withColumn("cumw", F.sum("w").over(wc)).withColumn(
        "totw", F.sum("w").over(wt)
    )
    return c.groupBy("event_type").agg(
        F.min(
            F.when(F.col("cumw") * 2 >= F.col("totw"), F.col("value_c"))
        ).alias("p50_c"),
        F.min(
            F.when(F.col("cumw") * 10 >= F.col("totw") * 9, F.col("value_c"))
        ).alias("p90_c"),
        F.max("totw").alias("total_w"),
    )


# --------------------------------------------------------------------------
# 179. heavy_hitters_weighted — ClickHouse topKWeighted() analog
# --------------------------------------------------------------------------
# Weighted threshold: value mass is far flatter than token frequency
# (no Zipf head), so the report bar sits at 1/200 of total value.
HHW_K = 200
HHW_M = 4 * HHW_K


@register(
    "heavy_hitters_weighted",
    oracle=f"""
    WITH v AS (
      SELECT user_id, CAST(round(value * 100) AS BIGINT) AS w FROM events
    ),
    t AS (SELECT CAST(SUM(w) AS BIGINT) AS totw FROM v)
    SELECT user_id, CAST(SUM(w) AS BIGINT) AS weight,
           CAST(SUM(w) * 1000000 // totw AS BIGINT) AS share_ppm
    FROM v, t GROUP BY user_id, totw
    HAVING SUM(w) * {HHW_K} > totw
    """,
)
def heavy_hitters_weighted(spark: SparkSession, sf_dir: str) -> DataFrame:
    """ClickHouse ``topKWeighted``: which users carry more than 1/{HHW_K}
    of the total event VALUE (cents), not event count — the
    revenue-concentration twin of #162. Same exact two-pass scheme,
    with the Misra-Gries pass folding WEIGHTED increments (the MG
    bound generalizes verbatim: any key with weight share > 1/(m+1)
    of a partition's weight survives an m-counter summary, and
    summaries merge by weight-sum + shrink), then an exact weighted
    recount restricted to the broadcast candidates.

    Scale shape identical to #162: map-only sketch pass (zero
    shuffle), candidate-pruned exchange, 1-row total. As in #162 the
    sketch pass also emits each partition's exact weight total as a
    sentinel row (user_id NULL), so the grand total shares the sketch
    scan instead of re-reading the stream. The sketch bounds memory;
    the verify pass makes the answer exact and layout-independent."""
    e = load(spark, sf_dir, "events").select(
        "user_id", F.round(F.col("value") * 100).cast("long").alias("w")
    )

    def mg_weighted(batches: Iterator[pd.DataFrame]) -> Iterator[pd.DataFrame]:
        counts: dict[int, int] = {}
        part_w = 0
        for pdf in batches:
            part_w += int(pdf["w"].sum())
            for u, w in pdf.groupby("user_id")["w"].sum().items():
                counts[int(u)] = counts.get(int(u), 0) + int(w)
            counts = _mg_shrink(counts, HHW_M)
        yield pd.DataFrame(
            {
                "user_id": pd.array(
                    list(counts.keys()) + [None], dtype="Int64"
                ),
                "part_w": [0] * len(counts) + [part_w],
            }
        )

    # persisted for the same reason as #162's sketch: 0.57 s vs 0.92 s
    # plain on the sf1.0 replica (4 vCPU, median of 5)
    sketch = _shared_stage(
        "hh_weighted_sketch", spark, sf_dir,
        lambda: e.mapInPandas(
            mg_weighted, schema="user_id long, part_w long"
        ),
    )
    candidates = (
        sketch.filter(F.col("user_id").isNotNull())
        .select("user_id")
        .distinct()
    )
    total = sketch.agg(F.sum("part_w").alias("totw"))
    return (
        e.join(F.broadcast(candidates), "user_id")
        .groupBy("user_id")
        .agg(F.sum("w").alias("weight"))
        .crossJoin(F.broadcast(total))
        .filter(F.col("weight") * HHW_K > F.col("totw"))
        .select(
            "user_id",
            "weight",
            F.expr("(weight * 1000000) div totw").alias("share_ppm"),
        )
    )


# --------------------------------------------------------------------------
# 190. welch_ttest_by_type — ClickHouse welchTTest() analog, all type pairs
# --------------------------------------------------------------------------
# the Welch t statistic from exact integer (count, Σcents, Σcents²)
# triples — the SAME formula string runs in Spark SQL and DuckDB, so
# both engines execute identical IEEE double ops on identical integer
# inputs and the floor-quantized output matches bit-for-bit
_WELCH_T = """
    (CAST(s_a AS DOUBLE) / n_a - CAST(s_b AS DOUBLE) / n_b)
    / sqrt(
        ((CAST(q_a AS DOUBLE) - CAST(s_a AS DOUBLE) * s_a / n_a)
           / (n_a - 1)) / n_a
        + ((CAST(q_b AS DOUBLE) - CAST(s_b AS DOUBLE) * s_b / n_b)
           / (n_b - 1)) / n_b
      )
"""


@register(
    "welch_ttest_by_type",
    oracle=f"""
    WITH g AS (
      SELECT event_type,
             CAST(COUNT(*) AS BIGINT) AS n,
             CAST(SUM(CAST(round(value * 100) AS BIGINT)) AS BIGINT) AS s,
             CAST(SUM(CAST(round(value * 100) AS BIGINT)
                      * CAST(round(value * 100) AS BIGINT)) AS BIGINT) AS q
      FROM events GROUP BY event_type
    ),
    p AS (
      SELECT a.event_type AS type_a, b.event_type AS type_b,
             a.n AS n_a, b.n AS n_b, a.s AS s_a, b.s AS s_b,
             a.q AS q_a, b.q AS q_b
      FROM g a JOIN g b ON a.event_type < b.event_type
    )
    SELECT type_a, type_b, n_a, n_b,
           CAST(floor(({_WELCH_T}) * 1000000) AS BIGINT) AS t_micro
    FROM p
    """,
)
def welch_ttest_by_type(spark: SparkSession, sf_dir: str) -> DataFrame:
    """ClickHouse ``welchTTest``: the unequal-variance t statistic of
    event value (cents) between every pair of event types — the A/B
    significance readout CH serves from one aggregate pass.

    Exactness discipline: values are integer-quantized to cents PER
    ROW, so each group's (count, Σ, Σ²) triple is an exact BIGINT and
    the t statistic is one deterministic double expression over exact
    integers — the SAME formula text runs on both engines (module
    constant ``_WELCH_T``), making even the floor-quantized micro
    output hash-identical. (Σ² of cents stays under 2^63 to ~10^9
    rows per group; beyond that the per-group triple would quantize to
    dollars or fold in Kahan style.)

    Scale shape: ONE map-side-combinable groupBy over the event
    stream → a |types|-row frame; the pair join is |types|² driver-side
    trivia (broadcast inequality join on a 5-row build side). This is
    the CH aggregate-combinator story: the scan cost is one pass,
    everything pairwise happens on the tiny summary."""
    e = load(spark, sf_dir, "events").select(
        "event_type", F.round(F.col("value") * 100).cast("long").alias("c")
    )
    g = e.groupBy("event_type").agg(
        F.count("*").alias("n"),
        F.sum("c").alias("s"),
        F.sum(F.col("c") * F.col("c")).alias("q"),
    )
    a = g.select(
        F.col("event_type").alias("type_a"), F.col("n").alias("n_a"),
        F.col("s").alias("s_a"), F.col("q").alias("q_a"),
    )
    b = g.select(
        F.col("event_type").alias("type_b"), F.col("n").alias("n_b"),
        F.col("s").alias("s_b"), F.col("q").alias("q_b"),
    )
    pairs = a.join(F.broadcast(b), F.col("type_a") < F.col("type_b"))
    return pairs.select(
        "type_a", "type_b", "n_a", "n_b",
        F.expr(
            f"CAST(floor(({_WELCH_T}) * 1000000) AS BIGINT)"
        ).alias("t_micro"),
    )


# --------------------------------------------------------------------------
# 197. max_intersections_daily — ClickHouse maxIntersections() analog
# --------------------------------------------------------------------------
@register(
    "max_intersections_daily",
    oracle="""
    WITH iv AS (
      SELECT user_id, CAST(ts AS DATE) AS day,
             MIN(ts) AS s, MAX(ts) AS e
      FROM events GROUP BY user_id, CAST(ts AS DATE)
    ),
    deltas AS (
      SELECT day, s AS t, 1 AS d FROM iv
      UNION ALL SELECT day, e AS t, -1 AS d FROM iv
    ),
    run AS (
      SELECT day,
             SUM(d) OVER (PARTITION BY day ORDER BY t, d DESC
                          ROWS UNBOUNDED PRECEDING) AS r
      FROM deltas
    )
    SELECT run.day,
           CAST(n.n AS BIGINT) AS n_intervals,
           CAST(MAX(run.r) AS BIGINT) AS peak_concurrent
    FROM run JOIN (SELECT day, COUNT(*) AS n FROM iv GROUP BY day) n
      ON n.day = run.day
    GROUP BY run.day, n.n
    """,
)
def max_intersections_daily(spark: SparkSession, sf_dir: str) -> DataFrame:
    """ClickHouse ``maxIntersections``: the peak number of
    simultaneously-active user sessions per day (sessions here = each
    user's daily [first-event, last-event] interval, CLOSED on both
    ends — a session ending at instant t still overlaps one starting
    at t, which the +1-before-−1 tie ordering encodes identically on
    both engines). This is the capacity-planning number CH serves
    with one aggregate.

    Scale shape — the distributed sweep line: a naive running sum
    ORDER BY t across a whole day is one unbounded window partition
    (millions of rows/day at 100 TB). Instead the sweep is TWO-LEVEL:
    (1) running sums and local peaks within (day, hour) stripes —
    bounded partitions; (2) stripe delta-totals roll up on the tiny
    (day, hour) frame, a cumulative window over ≤24 rows/day yields
    each stripe's starting offset; (3) global peak = max over stripes
    of (offset + local peak). Identical decomposition to a parallel
    prefix-sum; the answer is provably equal to the flat sweep. Peak
    is tie-order-invariant (any permutation of equal (t, d) rows
    yields the same partial-sum SET), so layout cannot change it."""
    e = load(spark, sf_dir, "events")
    iv = e.groupBy(
        "user_id", F.col("ts").cast("date").alias("day")
    ).agg(F.min("ts").alias("s"), F.max("ts").alias("e"))
    deltas = iv.select(
        "day", F.col("s").alias("t"), F.lit(1).alias("d")
    ).unionAll(
        iv.select("day", F.col("e").alias("t"), F.lit(-1).alias("d"))
    ).withColumn("stripe", F.hour("t"))
    w_local = (
        Window.partitionBy("day", "stripe")
        .orderBy(F.col("t"), F.col("d").desc())
        .rowsBetween(Window.unboundedPreceding, 0)
    )
    local = deltas.withColumn("r_local", F.sum("d").over(w_local))
    stripes = local.groupBy("day", "stripe").agg(
        F.sum("d").alias("tot"), F.max("r_local").alias("local_peak")
    )
    w_off = (
        Window.partitionBy("day")
        .orderBy("stripe")
        .rowsBetween(Window.unboundedPreceding, -1)
    )
    peaks = stripes.withColumn(
        "offset", F.coalesce(F.sum("tot").over(w_off), F.lit(0))
    ).groupBy("day").agg(
        F.max(F.col("offset") + F.col("local_peak")).alias("peak")
    )
    n = iv.groupBy("day").agg(F.count("*").alias("n"))
    return peaks.join(n, "day").select(
        "day",
        F.col("n").cast("long").alias("n_intervals"),
        F.col("peak").cast("long").alias("peak_concurrent"),
    )


# --------------------------------------------------------------------------
# 204. histogram_equal_depth — ClickHouse histogram() analog, exact bins
# --------------------------------------------------------------------------
HIST_BINS = 8


@register(
    "histogram_equal_depth",
    oracle=f"""
    WITH c AS (
      SELECT event_type, CAST(floor(value * 100) AS BIGINT) AS cents
      FROM events),
    b AS (
      SELECT event_type,
             quantile_cont(cents,
               [{", ".join(str(i / HIST_BINS) for i in range(1, HIST_BINS))}]
             ) AS qs
      FROM c GROUP BY 1),
    a AS (
      SELECT c.event_type, c.cents,
             1 + len(list_filter(b.qs, q -> c.cents > q)) AS bin
      FROM c JOIN b USING (event_type))
    SELECT event_type, CAST(bin AS INT) AS bin,
           CAST(COUNT(*) AS BIGINT) AS n_values,
           CAST(MIN(cents) AS BIGINT) AS lo_cents,
           CAST(MAX(cents) AS BIGINT) AS hi_cents
    FROM a GROUP BY 1, 2
    """,
)
def histogram_equal_depth(spark: SparkSession, sf_dir: str) -> DataFrame:
    """ClickHouse ``histogram(N)(x)`` analog: an EQUAL-DEPTH
    {HIST_BINS}-bin histogram of value per event type (CH's adaptive
    bins converge toward equal depth; this computes the converged
    answer exactly). Two passes: exact interior quantile boundaries per
    group, then a broadcast of the ≤types×{HIST_BINS - 1} boundary
    table back over the scan with bin = 1 + #(boundaries < v) — one
    wide shuffle total (the boundary agg), the assignment pass is
    shuffle-free.

    Exactness across engines is arranged, not hoped for: values are
    integer cents, the quantile fractions are eighths (exact binary),
    so the interpolated boundaries a + f·(b−a) are exact multiples of
    1/8 — bit-identical IEEE doubles from Spark's percentile and
    DuckDB's quantile_cont — and every v > boundary comparison lands
    the same way on both engines. Emitted per-bin min/max cents
    double-check the assignment rule itself."""
    c = load(spark, sf_dir, "events").select(
        "event_type",
        F.floor(F.col("value") * 100).cast("long").alias("cents"),
    )
    fracs = F.array(
        *[F.lit(i / HIST_BINS) for i in range(1, HIST_BINS)]
    )
    b = c.groupBy("event_type").agg(
        F.percentile("cents", fracs).alias("qs")
    )
    a = c.join(F.broadcast(b), "event_type").select(
        "event_type",
        "cents",
        (
            F.size(F.filter("qs", lambda q: F.col("cents") > q)) + 1
        ).cast("int").alias("bin"),
    )
    return a.groupBy("event_type", "bin").agg(
        F.count("*").alias("n_values"),
        F.min("cents").alias("lo_cents"),
        F.max("cents").alias("hi_cents"),
    )


# --------------------------------------------------------------------------
# 206. cramers_v_assoc — ClickHouse cramersV(): categorical association
# --------------------------------------------------------------------------
@register(
    "cramers_v_assoc",
    oracle="""
    WITH e AS (
      SELECT event_type,
             (CAST(ts AS DATE) - DATE '1970-01-05') % 7 AS wd
      FROM events
    ),
    cells AS (
      SELECT event_type, wd, COUNT(*) AS o FROM e GROUP BY event_type, wd
    ),
    rt AS (SELECT event_type, SUM(o) AS r FROM cells GROUP BY event_type),
    ct AS (SELECT wd, SUM(o) AS c FROM cells GROUP BY wd),
    tt AS (SELECT SUM(o) AS n FROM cells),
    terms AS (
      SELECT cells.event_type, cells.wd, n,
             (CAST(o * n - r * c AS DOUBLE) * CAST(o * n - r * c AS DOUBLE))
             / (CAST(r * c AS DOUBLE) * CAST(n AS DOUBLE)) AS term
      FROM cells JOIN rt USING (event_type) JOIN ct USING (wd) CROSS JOIN tt
    ),
    g AS (
      SELECT list(struct_pack(event_type := event_type, wd := wd,
                              term := term)
                  ORDER BY event_type, wd) AS cl,
             MAX(n) AS n,
             COUNT(DISTINCT event_type) AS nt,
             COUNT(DISTINCT wd) AS nd
      FROM terms
    ),
    x AS (
      SELECT list_reduce(
               list_prepend(struct_pack(event_type := '', wd := -1,
                                        term := CAST(0 AS DOUBLE)), cl),
               (a, b) -> struct_pack(event_type := a.event_type,
                                     wd := a.wd,
                                     term := a.term + b.term)
             ).term AS chi2,
             n, nt, nd
      FROM g
    )
    SELECT CAST(n AS BIGINT) AS n_events,
           CAST(nt AS BIGINT) AS n_types,
           CAST(nd AS BIGINT) AS n_days,
           CAST(FLOOR(chi2 * 1000000) AS BIGINT) AS chi2_micro,
           CAST(FLOOR(SQRT(chi2 / CAST(n * LEAST(nt - 1, nd - 1) AS DOUBLE))
                      * 1000000) AS BIGINT) AS cramers_v_ppm
    FROM x
    """,
)
def cramers_v_assoc(spark: SparkSession, sf_dir: str) -> DataFrame:
    """ClickHouse ``cramersV``: the association strength between event
    type and day-of-week — the "is traffic mix weekday-dependent"
    dashboard statistic. χ² over the contingency table, then
    ``V = sqrt(χ² / (N·min(r−1, c−1)))``.

    Cross-engine float determinism is ARRANGED, not hoped for (the
    file-header rule): every per-cell term is built from EXACT integer
    contingency counts with one IEEE-rounded multiply/divide sequence
    — ``(O·N − r·c)²`` with the difference exact in BIGINT — and the
    χ² reduction is a left fold over the cells in (event_type, wd)
    order on BOTH engines (Spark ``aggregate(sort_array(...))``,
    DuckDB ``list_reduce(list(... ORDER BY ...))``), so the sum sees
    one permutation and both engines emit the identical double before
    the ppm quantization.

    Scale shape: one map-side-combinable keyed agg collapses 100 TB of
    events to ≤ types×7 contingency cells; everything after runs on
    that dashboard-sized frame (broadcast margins, one-row fold)."""
    e = load(spark, sf_dir, "events").select(
        "event_type",
        F.expr(
            "pmod(datediff(cast(ts as date), date'1970-01-05'), 7)"
        ).alias("wd"),
    )
    cells = e.groupBy("event_type", "wd").agg(F.count("*").alias("o"))
    rt = cells.groupBy("event_type").agg(F.sum("o").alias("r"))
    ct = cells.groupBy("wd").agg(F.sum("o").alias("c"))
    tt = cells.agg(F.sum("o").alias("n"))
    terms = (
        cells.join(F.broadcast(rt), "event_type")
        .join(F.broadcast(ct), "wd")
        .crossJoin(F.broadcast(tt))
        .select(
            "event_type",
            "wd",
            "n",
            (
                F.expr("cast(o * n - r * c as double)")
                * F.expr("cast(o * n - r * c as double)")
                / (F.expr("cast(r * c as double)") * F.col("n").cast("double"))
            ).alias("term"),
        )
    )
    g = terms.agg(
        F.collect_list(F.struct("event_type", "wd", "term")).alias("cl"),
        F.max("n").alias("n"),
        F.countDistinct("event_type").alias("nt"),
        F.countDistinct("wd").alias("nd"),
    )
    return g.select(
        F.expr(
            "aggregate(sort_array(cl), cast(0 as double),"
            " (a, x) -> a + x.term)"
        ).alias("chi2"),
        "n", "nt", "nd",
    ).select(
        F.col("n").cast("long").alias("n_events"),
        F.col("nt").cast("long").alias("n_types"),
        F.col("nd").cast("long").alias("n_days"),
        F.floor(F.col("chi2") * 1_000_000).cast("long").alias("chi2_micro"),
        F.floor(
            F.sqrt(
                F.col("chi2")
                / F.expr("cast(n * least(nt - 1, nd - 1) as double)")
            )
            * 1_000_000
        ).cast("long").alias("cramers_v_ppm"),
    )

