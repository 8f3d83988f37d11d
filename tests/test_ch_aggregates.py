"""CH aggregate analogs (ch_aggregates.py #162-163): the Misra-Gries
superset guarantee, exact heavy-hitter output, and sumMap reassembly."""

from __future__ import annotations

import json
from collections import Counter

import pyspark.sql.functions as F
from hypothesis import given, settings
from hypothesis import strategies as st

from zigchain_indexer_clickhouse_spark.catalog import load
from zigchain_indexer_clickhouse_spark.operators.ch_aggregates import (
    HH_K,
    SKETCH_M,
    _mg_shrink,
    heavy_hitters_topk,
    sum_map_daily,
)


@given(
    st.lists(st.integers(min_value=0, max_value=30), min_size=1, max_size=400),
    st.integers(min_value=1, max_value=8),
    st.integers(min_value=2, max_value=12),
)
@settings(max_examples=60, deadline=None)
def test_mg_shrink_superset_guarantee(stream, n_chunks, m):
    """Chunked MG (the exact per-partition fold mg_partition runs, with
    m counters) must keep every item whose TRUE count exceeds
    N/(m+1) — the mergeable-summaries bound the candidate pass relies
    on."""
    chunks = [stream[i::n_chunks] for i in range(n_chunks)]
    counts: dict[int, int] = {}
    for chunk in chunks:
        for t, c in Counter(chunk).items():
            counts[t] = counts.get(t, 0) + c
        counts = _mg_shrink(counts, m)
    true = Counter(stream)
    n = len(stream)
    for item, c in true.items():
        if c * (m + 1) > n:
            assert item in counts, (item, c, n, m)


def test_mg_shrink_bounds_size_and_undercount():
    counts = {f"t{i}": i + 1 for i in range(10)}
    out = _mg_shrink(dict(counts), 4)
    assert len(out) <= 4
    # survivors are under-counted by exactly the pivot (5th largest = 6)
    for t, c in out.items():
        assert c == counts[t] - 6


def test_heavy_hitters_exact_against_recount(spark, sf_dir):
    rows = {r.token: (r.cnt, r.share_ppm)
            for r in heavy_hitters_topk(spark, sf_dir).collect()}
    tok = (
        load(spark, sf_dir, "documents")
        .select(F.explode(F.split(F.trim("text"), " ")).alias("t"))
        .collect()
    )
    true = Counter(r.t for r in tok)
    n = len(tok)
    expected = {t: c for t, c in true.items() if c * HH_K > n}
    assert set(rows) == set(expected)
    for t, (cnt, ppm) in rows.items():
        assert cnt == expected[t]
        assert ppm == cnt * 1_000_000 // n
    # the sketch has real headroom over the report threshold
    assert SKETCH_M + 1 > HH_K


def test_sum_map_daily_reassembles_per_key_totals(spark, sf_dir):
    rows = sum_map_daily(spark, sf_dir).collect()
    assert rows
    e = load(spark, sf_dir, "events").select(
        F.col("ts").cast("date").alias("day"),
        "event_type",
        F.round(F.col("value") * 100).cast("long").alias("vc"),
    ).collect()
    per: dict = {}
    for r in e:
        key = (r.day, r.event_type)
        c, v = per.get(key, (0, 0))
        per[key] = (c + 1, v + r.vc)
    for r in rows:
        entries = json.loads(r.sum_map)
        keys = [x["k"] for x in entries]
        assert keys == sorted(keys) and len(keys) == r.n_keys
        for x in entries:
            assert (x["cnt"], x["val_c"]) == per[(r.day, x["k"])]


def test_group_array_limited_order_and_cap(spark, sf_dir):
    from zigchain_indexer_clickhouse_spark.operators.ch_aggregates import (
        GA_N,
        group_array_limited,
    )

    rows = group_array_limited(spark, sf_dir).collect()
    assert rows
    e = load(spark, sf_dir, "events").select(
        "user_id", "event_type", "ts", "event_id"
    ).collect()
    per: dict = {}
    for r in e:
        per.setdefault(r.user_id, []).append((r.ts, r.event_id, r.event_type))
    for r in rows:
        v = sorted(per[r.user_id])
        assert json.loads(r.first_events) == [t for _, _, t in v[:GA_N]]
        assert json.loads(r.uniq_events) == sorted({t for _, _, t in v})
        assert r.n_events == len(v)


def test_min_max_map_daily_envelope(spark, sf_dir):
    from zigchain_indexer_clickhouse_spark.operators.ch_aggregates import (
        min_max_map_daily,
    )

    rows = min_max_map_daily(spark, sf_dir).collect()
    assert rows
    e = load(spark, sf_dir, "events").select(
        F.col("ts").cast("date").alias("day"),
        "event_type",
        F.round(F.col("value") * 100).cast("long").alias("vc"),
        (1 + F.col("event_id") % 5).alias("w"),
    ).collect()
    per: dict = {}
    wsum: dict = {}
    for r in e:
        key = (r.day, r.event_type)
        lo, hi = per.get(key, (r.vc, r.vc))
        per[key] = (min(lo, r.vc), max(hi, r.vc))
        n, d = wsum.get(r.day, (0, 0))
        wsum[r.day] = (n + r.vc * r.w, d + r.w)
    for r in rows:
        entries = json.loads(r.min_max_map)
        assert [x["k"] for x in entries] == sorted(x["k"] for x in entries)
        assert len(entries) == r.n_keys
        for x in entries:
            assert (x["min_c"], x["max_c"]) == per[(r.day, x["k"])]
        n, d = wsum[r.day]
        assert r.avg_weighted_m == (n * 1000) // d


def test_heavy_hitters_weighted_exact_against_recount(spark, sf_dir):
    from zigchain_indexer_clickhouse_spark.operators.ch_aggregates import (
        HHW_K,
        HHW_M,
        heavy_hitters_weighted,
    )

    rows = {r.user_id: (r.weight, r.share_ppm)
            for r in heavy_hitters_weighted(spark, sf_dir).collect()}
    e = load(spark, sf_dir, "events").select(
        "user_id", F.round(F.col("value") * 100).cast("long").alias("w")
    ).collect()
    per: dict = {}
    tot = 0
    for r in e:
        per[r.user_id] = per.get(r.user_id, 0) + r.w
        tot += r.w
    expected = {u: w for u, w in per.items() if w * HHW_K > tot}
    assert rows.keys() == expected.keys() and rows
    for u, (w, ppm) in rows.items():
        assert w == expected[u]
        assert ppm == w * 1_000_000 // tot
    assert HHW_M + 1 > HHW_K  # the weighted MG superset headroom


def test_ttl_group_by_rollup_partitions_and_conserves_mass(spark, sf_dir):
    from zigchain_indexer_clickhouse_spark.operators.matviews import (
        TTL_ROLLUP_CUTOFF,
        ttl_group_by_rollup,
    )

    rows = ttl_group_by_rollup(spark, sf_dir).collect()
    o = load(spark, sf_dir, "orders").select(
        "o_orderkey",
        "o_orderdate",
        F.round(F.col("o_totalprice") * 100).cast("long").alias("c"),
    ).collect()
    import datetime

    cutoff = datetime.date.fromisoformat(TTL_ROLLUP_CUTOFF)

    def day(v):
        return v.date() if isinstance(v, datetime.datetime) else v

    n_raw_expected = sum(1 for r in o if day(r.o_orderdate) >= cutoff)
    raw = [r for r in rows if r.granularity == "raw"]
    rolled = [r for r in rows if r.granularity == "rolled"]
    assert len(raw) == n_raw_expected
    assert all(r.n_rows == 1 and r.part_month >= cutoff.replace(day=1)
               for r in raw)
    assert all(r.part_month < cutoff for r in rolled)
    # mass conservation: the rollup loses no rows and no cents
    assert sum(r.n_rows for r in rows) == len(o)
    assert sum(r.total_cents for r in rows) == sum(r.c for r in o)


def test_cramers_v_matches_python_recompute(spark, sf_dir):
    """Rebuild the contingency table driver-side and recompute chi2/V
    with Python floats; the engine's quantized figures must agree to
    within one ulp-induced quantum, and V must sit in (0, 1)."""
    import math
    from collections import defaultdict

    from zigchain_indexer_clickhouse_spark.operators.ch_aggregates import (
        cramers_v_assoc,
    )

    ev = (
        load(spark, sf_dir, "events")
        .select(
            "event_type",
            F.expr(
                "pmod(datediff(cast(ts as date), date'1970-01-05'), 7)"
            ).alias("wd"),
        )
        .collect()
    )
    cells: dict[tuple, int] = defaultdict(int)
    for r in ev:
        cells[(r.event_type, r.wd)] += 1
    rt: dict[str, int] = defaultdict(int)
    ct: dict[int, int] = defaultdict(int)
    for (et, wd), o in cells.items():
        rt[et] += o
        ct[wd] += o
    n = sum(cells.values())
    chi2 = 0.0
    for et, wd in sorted(cells):
        o = cells[(et, wd)]
        diff = float(o * n - rt[et] * ct[wd])
        chi2 += diff * diff / (float(rt[et] * ct[wd]) * float(n))
    k = min(len(rt) - 1, len(ct) - 1)
    v = math.sqrt(chi2 / float(n * k))
    row = cramers_v_assoc(spark, sf_dir).collect()[0]
    assert (row.n_events, row.n_types, row.n_days) == (n, len(rt), len(ct))
    assert abs(row.chi2_micro - math.floor(chi2 * 1e6)) <= 1
    assert abs(row.cramers_v_ppm - math.floor(v * 1e6)) <= 1
    assert 0 < row.cramers_v_ppm < 1_000_000
