"""Property tests for the ClickHouse query-surface idioms
(ch_idioms.py #131-135, #140): WITH FILL densification, LIMIT BY plan
shape, SAMPLE determinism, snapshot-diff classification, SCD2 interval
integrity, and the Bloom filter's no-false-negative guarantee.
"""

from __future__ import annotations

import math
from collections import defaultdict
from datetime import timedelta

import pyspark.sql.functions as F

from zigchain_indexer_clickhouse_spark.operators.ch_idioms import (
    BLOOM_BITS,
    BLOOM_HASHES,
    LIMIT_BY_N,
    bloom_membership,
    limit_by,
    sample_consistent,
    scd2_user_state,
    snapshot_diff,
    time_fill_interpolate,
)


def test_time_fill_densifies(spark, sf_dir):
    """Each event type's series is gap-free day-by-day after the fill,
    generated rows are flagged, and carried values equal the previous
    real row's value."""
    rows = time_fill_interpolate(spark, sf_dir).collect()
    by_type = defaultdict(list)
    for r in rows:
        by_type[r.event_type].append(r)
    assert by_type
    from datetime import date

    for _typ, series in by_type.items():
        series.sort(key=lambda r: r.day)
        days = [date.fromisoformat(r.day) for r in series]
        # dense: consecutive days, no holes
        assert all(
            b - a == timedelta(days=1) for a, b in zip(days, days[1:])
        )
        # boundary rows are real
        assert series[0].filled == 0 and series[-1].filled == 0
        carried = None
        for r in series:
            if r.filled == 0:
                carried = r.sum_value
            else:
                assert r.n_events == 0
                assert r.sum_value == carried


def test_limit_by_plan_uses_window_group_limit(spark, sf_dir):
    df = limit_by(spark, sf_dir)
    plan = df._jdf.queryExecution().executedPlan().toString()
    assert "WindowGroupLimit" in plan
    rows = df.collect()
    per_group = defaultdict(int)
    for r in rows:
        per_group[r.o_orderpriority] += 1
        assert 1 <= r.rn <= LIMIT_BY_N
    assert all(n <= LIMIT_BY_N for n in per_group.values())


def test_sample_is_deterministic(spark, sf_dir):
    a = {r.event_type: r for r in sample_consistent(spark, sf_dir).collect()}
    b = {r.event_type: r for r in sample_consistent(spark, sf_dir).collect()}
    assert a.keys() == b.keys()
    for k in a:
        assert (a[k].n_sampled, a[k].n_users_sampled) == (
            b[k].n_sampled,
            b[k].n_users_sampled,
        )
        assert a[k].est_total == a[k].n_sampled * 8


def test_snapshot_diff_classification(spark, sf_dir):
    """'added' heights are exactly the h%5==4 band; 'changed' heights
    lost exactly their event_id%97==3 events."""
    rows = snapshot_diff(spark, sf_dir).collect()
    assert rows
    for r in rows:
        if r.change_type == "added":
            assert r.height % 5 == 4 and r.n_old == 0
        else:
            assert r.height % 5 != 4
            assert 0 < r.n_old < r.n_new


def test_scd2_intervals_tile_history(spark, sf_dir):
    """Per user: exactly one open (current) interval, and each closed
    interval's valid_to equals the next interval's valid_from — the
    history tiles time with no gaps or overlaps."""
    rows = scd2_user_state(spark, sf_dir).collect()
    by_user = defaultdict(list)
    for r in rows:
        by_user[r.user_id].append(r)
    for _uid, ivs in by_user.items():
        ivs.sort(key=lambda r: (r.valid_from, r.event_id))
        assert sum(1 for r in ivs if r.is_current) == 1
        assert ivs[-1].valid_to is None and ivs[-1].is_current == 1
        for a, b in zip(ivs, ivs[1:]):
            assert a.valid_to == b.valid_from


def test_mv_incremental_refresh_subset_of_full_mv(spark, sf_dir):
    """Refreshed rows must equal the full MV's rows for exactly the
    affected days (and only those)."""
    from zigchain_indexer_clickhouse_spark.operators.matviews import (
        mv_daily_block_stats,
        mv_incremental_refresh,
    )

    full = {r.date: r for r in mv_daily_block_stats(spark, sf_dir).collect()}
    part = mv_incremental_refresh(spark, sf_dir).collect()
    assert part and len(part) <= len(full)
    for r in part:
        f = full[r.date]
        assert (r.block_count, r.total_txs, r.total_events) == (
            f.block_count,
            f.total_txs,
            f.total_events,
        )


def test_bloom_no_false_negatives_and_fp_near_design(spark, sf_dir):
    row = bloom_membership(spark, sf_dir).collect()[0]
    n_keys = row.n_probes // 2
    # Bloom filters NEVER miss a present key
    assert row.n_true_hits == n_keys
    # realized FP rate within 5x of the (1 - e^{-kn/m})^k design point
    # (generous: small-n variance)
    p = (1 - math.exp(-BLOOM_HASHES * n_keys / BLOOM_BITS)) ** BLOOM_HASHES
    assert row.n_false_positives <= max(20, 5 * p * n_keys)

