"""Checks for the chain-health ops (#217-218) and the star's FK
integrity audit: brute-force recomputes."""

from __future__ import annotations

import hashlib
from collections import defaultdict

from zigchain_indexer_clickhouse_spark.operators.queue_analytics import (
    block_time_drift,
    reorg_candidates,
)


def test_block_time_drift_brute_force(spark, sf_dir):
    ev = spark.read.parquet(f"{sf_dir}/events.parquet").collect()
    per_day = defaultdict(list)
    for r in ev:
        per_day[r.ts.date()].append((r.event_id, int(r.ts.timestamp() * 1e6)))
    got = {r.day: r for r in block_time_drift(spark, sf_dir).collect()}
    assert set(got) == {d for d, v in per_day.items() if len(v) > 1}
    for day, rows in per_day.items():
        if len(rows) < 2:
            continue
        rows.sort()
        gaps = [b[1] - a[1] for a, b in zip(rows, rows[1:])]
        row = got[day]
        assert row.n_blocks == len(rows)
        assert row.min_gap_us == min(gaps)
        assert row.max_gap_us == max(gaps)
        assert row.n_gaps_over_10s == sum(g > 10_000_000 for g in gaps)
        import math

        assert row.mean_gap_us == math.floor(sum(gaps) / len(gaps))


def test_reorg_candidates_brute_force(spark, sf_dir):
    ev = spark.read.parquet(f"{sf_dir}/events.parquet").collect()
    heights = defaultdict(list)
    for r in ev:
        h = r.event_id // 2
        forked = r.event_id % 2 == 1 and r.user_id % 10 == 0
        hh = hashlib.sha256(
            (str(h) + ("fork" if forked else "")).encode()
        ).hexdigest()
        heights[h].append((r.event_id % 2, hh))
    expect = {
        h: rows for h, rows in heights.items() if len({x[1] for x in rows}) > 1
    }
    got = {r.height: r for r in reorg_candidates(spark, sf_dir).collect()}
    assert set(got) == set(expect)
    for h, rows in expect.items():
        row = got[h]
        assert row.n_rows == len(rows)
        assert row.n_variants == len({x[1] for x in rows})
        assert row.canonical_hash == max(rows)[1]  # max version wins


def test_fk_orphan_check_clean_star(spark, sf_dir):
    """The generated star is referentially intact — every edge must
    report zero orphans with the right child cardinalities (a nonzero
    here would mean the testdata generator broke, which IS the check
    this operator exists to catch in a real indexer)."""
    from zigchain_indexer_clickhouse_spark.catalog import load
    from zigchain_indexer_clickhouse_spark.operators.queue_analytics import (
        fk_orphan_check,
    )

    rows = {r.fk_edge: r for r in fk_orphan_check(spark, sf_dir).collect()}
    n_li = load(spark, sf_dir, "lineitem").count()
    n_o = load(spark, sf_dir, "orders").count()
    assert set(rows) == {
        "lineitem->orders", "orders->customer",
        "lineitem->part", "lineitem->supplier",
    }
    assert rows["lineitem->orders"].n_child == n_li
    assert rows["orders->customer"].n_child == n_o
    assert all(r.n_orphans == 0 for r in rows.values())

