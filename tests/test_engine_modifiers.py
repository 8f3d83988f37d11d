"""Semantic property tests for the ClickHouse modifier/engine operators
(engine_modifiers.py #124-127) — beyond the DuckDB oracle rows, these
assert the ALGEBRAIC properties the operators exist for: subtotal
consistency, sign-collapse = latest-state and partial-state
mergeability.
"""

from __future__ import annotations

import pyspark.sql.functions as F
import pytest

from zigchain_indexer_clickhouse_spark.catalog import load
from zigchain_indexer_clickhouse_spark.operators.engine_modifiers import (
    agg_states_merge,
    collapsing_merge,
    cube_cohorts,
    rollup_totals,
)


def test_rollup_subtotals_consistent(spark, sf_dir):
    """Leaf rows sum to their status subtotal; subtotals sum to the
    grand total (ClickHouse WITH TOTALS row)."""
    rows = rollup_totals(spark, sf_dir).collect()
    leafs = [r for r in rows if r.grouping_lvl == 0]
    subs = {r.status: r for r in rows if r.grouping_lvl == 1}
    total = [r for r in rows if r.grouping_lvl == 3]
    assert len(total) == 1 and total[0].status == "ALL"
    assert total[0].n_orders == sum(r.n_orders for r in leafs)
    for st, sub in subs.items():
        assert sub.n_orders == sum(r.n_orders for r in leafs if r.status == st)
    assert total[0].n_orders == sum(s.n_orders for s in subs.values())


def test_cube_has_all_grouping_sets(spark, sf_dir):
    """CUBE emits all four grouping sets and the grand total matches
    the raw event count / distinct-user count."""
    e = load(spark, sf_dir, "events")
    n_events = e.count()
    n_users = e.select("user_id").distinct().count()
    rows = cube_cohorts(spark, sf_dir).collect()
    grand = [r for r in rows if r.event_type == "ALL" and r.cohort == -1]
    assert len(grand) == 1
    assert grand[0].n_events == n_events and grand[0].n_users == n_users
    # per-type and per-cohort marginals both present
    assert any(r.event_type != "ALL" and r.cohort == -1 for r in rows)
    assert any(r.event_type == "ALL" and r.cohort != -1 for r in rows)


def test_collapsing_merge_is_latest_state(spark, sf_dir):
    """Sign-collapse must leave exactly each user's latest event —
    the CollapsingMergeTree FINAL contract."""
    e = load(spark, sf_dir, "events")
    from pyspark.sql import Window

    w = Window.partitionBy("user_id").orderBy(
        F.desc("ts"), F.desc("event_id")
    )
    latest = (
        e.withColumn("rn", F.row_number().over(w))
        .filter(F.col("rn") == 1)
        .select("user_id", "event_id")
    )
    got = collapsing_merge(spark, sf_dir).select("user_id", "event_id")
    assert got.count() == latest.count()
    assert got.exceptAll(latest).count() == 0


def test_agg_states_merge_equals_direct(spark, sf_dir):
    """THE mergeability property: re-aggregating daily partial states
    gives the same monthly answer as aggregating raw events directly
    (to rounding)."""
    direct = (
        load(spark, sf_dir, "events")
        .groupBy("event_type", F.date_format("ts", "yyyy-MM").alias("month"))
        .agg(
            F.count("*").cast("long").alias("n_events"),
            F.sum("value").alias("sum_value"),
            F.min("value").alias("min_value"),
            F.max("value").alias("max_value"),
        )
    )
    merged = agg_states_merge(spark, sf_dir)
    d = {(r.event_type, r.month): r for r in direct.collect()}
    for r in merged.collect():
        ref = d.pop((r.event_type, r.month))
        assert r.n_events == ref.n_events
        assert r.sum_value == pytest.approx(ref.sum_value, abs=0.02)
        assert r.min_value == pytest.approx(ref.min_value, abs=1e-4)
        assert r.max_value == pytest.approx(ref.max_value, abs=1e-4)
    assert not d
