"""Round-6 analytics additions: conversion_attribution (#193) planted
tie/lookback semantics, cumulative_unique_users (#194) brute-force
recompute."""

from __future__ import annotations

import datetime as dt

from zigchain_indexer_clickhouse_spark.operators.funnel import (
    conversion_attribution,
)

SF = "/root/testdata/sf0.001"
T0 = dt.datetime(2025, 1, 10, 12, 0, 0)


def _events(spark, tmp_path, rows):
    df = spark.createDataFrame(
        [
            (i, ts, uid, et, 1.0, "{}")
            for i, (ts, uid, et) in enumerate(rows)
        ],
        "event_id long, ts timestamp, user_id long, event_type string,"
        " value double, props string",
    )
    df.coalesce(1).write.mode("overwrite").parquet(
        str(tmp_path / "events.parquet")
    )
    return str(tmp_path)


def test_attribution_lookback_and_tie_semantics(spark, tmp_path):
    d = dt.timedelta
    rows = [
        # user 1: clicks fall outside the 7-day lookback of the purchase
        (T0, 1, "click"),
        (T0 + d(days=1), 1, "click"),
        (T0 + d(days=10), 1, "purchase"),
        # user 2: click at the EXACT purchase instant is excluded
        # (strictly-before); the later purchase attributes to it
        (T0, 2, "click"),
        (T0, 2, "purchase"),
        (T0 + d(hours=1), 2, "click"),
        (T0 + d(hours=2), 2, "purchase"),
        # user 3: purchase with no clicks at all
        (T0, 3, "purchase"),
    ]
    out = {
        r["event_id"]: r
        for r in conversion_attribution(
            spark, _events(spark, tmp_path, rows)
        ).collect()
    }
    p1 = out[2]
    assert p1["first_touch_ts"] == T0          # first click ever
    assert p1["last_touch_ts"] is None         # outside 7-day lookback
    assert p1["attributed"] == 0
    p2_first = out[4]
    assert p2_first["first_touch_ts"] is None  # same-instant click excluded
    assert p2_first["attributed"] == 0
    p2_second = out[6]
    assert p2_second["first_touch_ts"] == T0   # the t0 click now precedes
    assert p2_second["last_touch_ts"] == T0 + d(hours=1)
    assert p2_second["attributed"] == 1
    p3 = out[7]
    assert p3["first_touch_ts"] is None and p3["attributed"] == 0


def test_cumulative_unique_users_matches_bruteforce(spark):
    from zigchain_indexer_clickhouse_spark.catalog import load
    from zigchain_indexer_clickhouse_spark.operators.ch_idioms import (
        cumulative_unique_users,
    )

    raw = load(spark, SF, "events").select("user_id", "ts").collect()
    first_day: dict[int, dt.date] = {}
    for r in raw:
        day = r["ts"].date()
        u = r["user_id"]
        if u not in first_day or day < first_day[u]:
            first_day[u] = day
    per_day: dict[dt.date, int] = {}
    for day in first_day.values():
        per_day[day] = per_day.get(day, 0) + 1
    expect, cum = [], 0
    for day in sorted(per_day):
        cum += per_day[day]
        expect.append((day, per_day[day], cum))
    got = [
        (r["day"], r["new_users"], r["cum_users"])
        for r in cumulative_unique_users(spark, SF).collect()
    ]
    assert sorted(got) == expect


def test_max_intersections_matches_flat_sweep(spark):
    """#197: the two-level striped sweep must equal a flat per-day
    sweep recomputed in Python from the raw intervals."""
    from zigchain_indexer_clickhouse_spark.catalog import load
    from zigchain_indexer_clickhouse_spark.operators.ch_aggregates import (
        max_intersections_daily,
    )

    raw = load(spark, SF, "events").select("user_id", "ts").collect()
    iv: dict[tuple, list] = {}
    for r in raw:
        k = (r["user_id"], r["ts"].date())
        if k not in iv:
            iv[k] = [r["ts"], r["ts"]]
        else:
            iv[k][0] = min(iv[k][0], r["ts"])
            iv[k][1] = max(iv[k][1], r["ts"])
    by_day: dict = {}
    for (u, day), (s, e) in iv.items():
        by_day.setdefault(day, []).append((s, e))
    expect = {}
    for day, ivs in by_day.items():
        deltas = [(s, 0, 1) for s, _ in ivs] + [(e, 1, -1) for _, e in ivs]
        run = peak = 0
        for _, _, d in sorted(deltas):  # (t, +1 before -1)
            run += d
            peak = max(peak, run)
        expect[day] = (len(ivs), peak)
    got = {
        r["day"]: (r["n_intervals"], r["peak_concurrent"])
        for r in max_intersections_daily(spark, SF).collect()
    }
    assert got == expect


def test_point_in_range_join_exact_membership(spark):
    """#198: bucketed candidates + BETWEEN post-filter must equal the
    naive containment scan, including unmatched points."""
    from zigchain_indexer_clickhouse_spark.catalog import load
    from zigchain_indexer_clickhouse_spark.operators.olap_shapes import (
        point_in_range_join,
    )

    orders = load(spark, SF, "orders").select(
        "o_orderkey", "o_custkey", "o_orderstatus"
    ).collect()
    ranges = [
        (o["o_orderkey"], o["o_orderkey"] * 10,
         o["o_orderkey"] * 10 + 5 + o["o_custkey"] % 30)
        for o in orders if o["o_orderstatus"] in ("O", "P")
    ]
    dom = 10 * max(o["o_orderkey"] for o in orders) + 36
    events = load(spark, SF, "events").select("event_id", "value").collect()
    expect = {}
    for ev in events:
        p = int(round(ev["value"] * 100)) * dom // 100000
        hits = [rid for rid, s, e in ranges if s <= p <= e]
        expect[ev["event_id"]] = (
            p, len(hits), min(hits) if hits else None
        )
    got = {
        r["pid"]: (r["p"], r["n_ranges"], r["first_range"])
        for r in point_in_range_join(spark, SF).collect()
    }
    assert got == expect
    assert any(v[1] == 0 for v in got.values()) or len(got) < 100
