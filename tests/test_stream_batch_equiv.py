"""Streaming-vs-batch equivalence: each streaming operator must produce
exactly what its batch twin computes over the same data (VERDICT.md
round 1, next-round #7). This upgrades the streaming checks from
"produced rows" to semantic correctness — the rows-only driver gate
can't see a wrong aggregate, these tests can.

All drains use availableNow over the sf0.001 events table, so the
stream consumes the identical input the batch plan scans.
"""

from __future__ import annotations

import pytest
from pyspark.sql import Window
from pyspark.sql import functions as F

from zigchain_indexer_clickhouse_spark.catalog import load
from zigchain_indexer_clickhouse_spark.plans import registry

_Q = registry.queries()


def _rows(df, *cols):
    """Canonical sorted-tuple form for set comparison."""
    out = df.select(*cols) if cols else df
    return sorted(tuple(r) for r in out.collect())


def test_stream_event_counts_matches_batch_rollup(spark, sf_dir):
    got = _Q["stream_event_counts"](spark, sf_dir)
    e = load(spark, sf_dir, "events")
    want = (
        e.groupBy(F.window("ts", "1 hour").alias("win"), "event_type")
        .agg(
            F.count("*").alias("n_events"),
            F.round(F.sum("value"), 2).alias("total_value"),
        )
        .select(
            F.col("win.start").alias("bucket"),
            "event_type",
            "n_events",
            "total_value",
        )
    )
    assert _rows(got) == _rows(want)


def test_stream_mv_daily_matches_batch_daily(spark, sf_dir):
    got = _Q["stream_mv_daily"](spark, sf_dir)
    e = load(spark, sf_dir, "events")
    want = e.groupBy(F.window("ts", "1 day").alias("w")).agg(
        F.count("*").alias("event_count"),
        F.sum(F.round(F.col("value") * 100).cast("long")).alias("total_gas"),
        F.sum(F.when(F.col("event_type") == "error", 1).otherwise(0))
        .cast("long")
        .alias("error_count"),
    ).select(
        F.col("w.start").cast("date").alias("date"),
        "event_count",
        "total_gas",
        "error_count",
    )
    assert _rows(got) == _rows(want)


def test_stream_dedup_matches_batch_distinct(spark, sf_dir):
    got = _Q["stream_dedup"](spark, sf_dir)
    e = load(spark, sf_dir, "events")
    # event_id is the dedup key; the batch twin keeps one row per key
    w = Window.partitionBy("event_id").orderBy("ts")
    want = (
        e.withColumn("_rn", F.row_number().over(w))
        .filter("_rn = 1")
        .select("event_id", "ts", "user_id", "event_type")
    )
    assert _rows(got) == _rows(want)


def test_stream_sessionize_matches_batch_sessionize(spark, sf_dir):
    """Session boundaries must agree between the native session_window
    (streaming) and the lag+cumsum plan (batch `sessionize`): same
    per-session event counts and value sums, keyed by (user, start).

    Append-mode streaming only EMITS sessions the final watermark
    (max ts − 1 h) has closed — sessions touching the last
    1h + 30min-gap horizon stay in state when availableNow stops. So
    the equivalence is: emitted ⊆ batch, and every batch session
    closed well before the horizon is emitted."""
    cols = ("user_id", "session_start", "n_events", "session_value")
    got = set(_rows(_Q["stream_sessionize"](spark, sf_dir), *cols))
    batch_df = _Q["sessionize"](spark, sf_dir)
    batch = set(_rows(batch_df, *cols))
    assert got <= batch  # nothing emitted that batch doesn't compute

    max_ts = (
        load(spark, sf_dir, "events").agg(F.max("ts")).collect()[0][0]
    )
    horizon = F.lit(max_ts) - F.expr("INTERVAL 2 HOURS")
    closed = set(
        _rows(batch_df.filter(F.col("session_end") < horizon), *cols)
    )
    assert closed <= got  # every safely-closed session was emitted
    assert len(closed) > 0  # and the assertion isn't vacuous


def test_stream_user_state_matches_batch_agg(spark, sf_dir):
    got = _Q["stream_user_state"](spark, sf_dir)
    e = load(spark, sf_dir, "events")
    want = e.groupBy("user_id").agg(
        F.count("*").alias("n_events"),
        F.round(F.sum("value"), 2).alias("total_value"),
    )
    # applyInPandasWithState rounds the running float total; allow 1e-6
    got_m = {r["user_id"]: (r["n_events"], r["total_value"]) for r in got.collect()}
    want_m = {r["user_id"]: (r["n_events"], r["total_value"]) for r in want.collect()}
    assert got_m.keys() == want_m.keys()
    for k, (n, v) in want_m.items():
        assert got_m[k][0] == n
        assert abs(got_m[k][1] - v) < 1e-6


def test_stream_static_enrich_matches_batch_join(spark, sf_dir):
    got = _Q["stream_static_enrich"](spark, sf_dir)
    e = load(spark, sf_dir, "events")
    profile = e.groupBy("user_id").agg(
        F.count("*").alias("lifetime_events"),
        F.round(F.sum("value"), 2).alias("lifetime_value"),
    )
    want = e.join(profile, "user_id").select(
        "event_id", "user_id", "event_type", "lifetime_events", "lifetime_value"
    )
    assert _rows(got) == _rows(want)


def test_stream_block_ingest_matches_batch_pipeline(spark, sf_dir):
    """The streaming fan-out must land the same row counts per table as
    the batch ingest pipeline over the same events."""
    got = {
        r["table_name"]: r["n_rows"]
        for r in _Q["stream_block_ingest"](spark, sf_dir).collect()
    }
    batch = {
        r["table_name"]: r["n_rows"]
        for r in _Q["ingest_pipeline_full"](spark, sf_dir).collect()
    }
    for t in ("blocks", "txs", "tx_event_attrs"):
        assert got[t] == batch[t], t


def test_stream_agg_states_matches_batch_merge(spark, sf_dir):
    """The streaming partial-state table, merged to monthly, must equal
    the batch agg_states_merge operator (#127) exactly — the streaming
    side of the -State/-Merge mergeability property."""
    got = _Q["stream_agg_states"](spark, sf_dir)
    want = _Q["agg_states_merge"](spark, sf_dir)
    assert _rows(got) == _rows(want)


def test_stream_attribution_matches_batch_interval_join(spark, sf_dir):
    """The watermarked stream-stream interval join (#199) must emit
    exactly the batch interval join's attributed-purchase rows — inner
    interval joins are emitted eagerly, so the availableNow drain is
    the full relational result, not a watermark-gated prefix."""
    got = _Q["stream_attribution"](spark, sf_dir)
    e = load(spark, sf_dir, "events")
    c = e.filter(F.col("event_type") == "click").select(
        F.col("user_id").alias("c_user"), F.col("ts").alias("c_ts")
    )
    p = e.filter(F.col("event_type") == "purchase").select(
        "event_id", "user_id", F.col("ts").alias("purchase_ts")
    )
    want = (
        p.join(
            c,
            (F.col("c_user") == F.col("user_id"))
            & (F.col("c_ts") < F.col("purchase_ts"))
            & (
                F.col("c_ts")
                >= F.col("purchase_ts") - F.expr("INTERVAL 7 DAYS")
            ),
        )
        .groupBy("event_id", "user_id", "purchase_ts")
        .agg(
            F.min("c_ts").alias("window_first_ts"),
            F.max("c_ts").alias("last_touch_ts"),
            F.count("*").alias("n_touches"),
        )
    )
    assert _rows(got) == _rows(want)


def test_stream_attribution_agrees_with_batch_last_touch(spark, sf_dir):
    """Cross-operator consistency: for every purchase BOTH #193 and
    #199 report, the last-touch timestamps must agree; and #199's
    attributed set must equal #193's attributed=1 set."""
    stream = {
        r["event_id"]: r["last_touch_ts"]
        for r in _Q["stream_attribution"](spark, sf_dir).collect()
    }
    batch = {
        r["event_id"]: r["last_touch_ts"]
        for r in _Q["conversion_attribution"](spark, sf_dir)
        .filter("attributed = 1")
        .collect()
    }
    assert set(stream) == set(batch)
    for eid, lts in batch.items():
        assert stream[eid] == lts, eid


def test_stream_gap_detection_matches_batch_bitmap_sweep(spark, sf_dir):
    """#201: the streamed per-stripe bitmap coverage must equal a batch
    recomputation of the same planted-gap feed — including the clamp of
    stripe spans to the observed height range."""
    from zigchain_indexer_clickhouse_spark.streaming.event_stream import (
        GAP_PLANT_MOD,
        GAP_PLANT_RES,
        GAP_STRIPE,
    )

    got = _Q["stream_gap_detection"](spark, sf_dir)
    h = (
        load(spark, sf_dir, "events")
        .filter(F.col("event_id") % GAP_PLANT_MOD != GAP_PLANT_RES)
        .select(F.col("event_id").alias("height"))
        .distinct()
    )
    s = h.groupBy(
        F.expr(f"height div {GAP_STRIPE}").alias("stripe")
    ).agg(F.count("*").alias("n_seen"))
    b = h.agg(F.min("height").alias("gmin"), F.max("height").alias("gmax"))
    expected = (
        F.least((F.col("stripe") + 1) * GAP_STRIPE - 1, F.col("gmax"))
        - F.greatest(F.col("stripe") * GAP_STRIPE, F.col("gmin"))
        + 1
    )
    want = (
        s.crossJoin(F.broadcast(b))
        .withColumn("n_missing", expected - F.col("n_seen"))
        .filter(F.col("n_missing") > 0)
        .select("stripe", "n_seen", "n_missing")
    )
    assert _rows(got) == _rows(want) and got.count() > 0


def test_stream_uniq_up_to_matches_batch_twin(spark, sf_dir):
    """#229 vs #221: the drained saturating distinct counts must equal
    the batch uniqUpTo rows exactly (day rendered as string on the
    stream side), and the caps must be the same constant."""
    from zigchain_indexer_clickhouse_spark.operators.data_mix import _UNIQ_CAP
    from zigchain_indexer_clickhouse_spark.streaming.event_stream import (
        UUT_CAP,
    )

    assert UUT_CAP == _UNIQ_CAP
    got = _Q["stream_uniq_up_to"](spark, sf_dir)
    want = _Q["uniq_up_to_daily"](spark, sf_dir).select(
        "event_type",
        F.date_format("day", "yyyy-MM-dd").alias("day"),
        "uniq_up_to",
        "saturated",
    )
    assert _rows(got) == _rows(want) and got.count() > 0


def test_stream_registry_decode_matches_batch_twin(spark, sf_dir):
    """The live 36-type registry rollup equals the batch operator's —
    same synthesis, same dispatch (shared helpers), different
    execution shape (per-row bound expressions + complete-mode agg vs
    four memoized stages)."""
    from zigchain_indexer_clickhouse_spark.plans import registry

    qs = registry.queries()
    cols = ["type_url", "status", "n_msgs", "total_amt", "sum_pid",
            "n_yes", "sum_timeout"]
    stream = {
        tuple(r[c] for c in cols)
        for r in qs["stream_registry_decode"](spark, sf_dir).collect()
    }
    batch = {
        tuple(r[c] for c in cols)
        for r in qs["msg_registry_decode"](spark, sf_dir).collect()
    }
    assert stream == batch and len(batch) == 68


def test_stream_registry_decode_native_equals_python_shape(
        spark, sf_dir, monkeypatch):
    """#47b's default is the native C kernel riding mapInArrow inside
    the micro-batch plan; the Python walker a host without a C
    toolchain runs must produce the identical complete-mode rollup
    (the kernel's flagged-row fallback contract, live)."""
    from zigchain_indexer_clickhouse_spark.functions import native_registry
    from zigchain_indexer_clickhouse_spark.plans import registry

    if not native_registry.native_available():
        pytest.skip("no C toolchain in this environment")
    qs = registry.queries()
    native = sorted(tuple(r) for r in
                    qs["stream_registry_decode"](spark, sf_dir).collect())
    monkeypatch.setattr(native_registry, "native_available", lambda: False)
    py = sorted(tuple(r) for r in
                qs["stream_registry_decode"](spark, sf_dir).collect())
    assert native == py and len(native) == 68
