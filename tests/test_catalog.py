"""Catalog verification — the verifyTables analog."""

from __future__ import annotations

from zigchain_indexer_clickhouse_spark.catalog import TABLES, verify_catalog


def test_verify_catalog_all_ok(spark, sf_dir):
    report = verify_catalog(spark, sf_dir)
    assert set(report) == set(TABLES)
    assert all(v == "ok" for v in report.values()), report


def test_verify_catalog_flags_missing(spark, tmp_path):
    report = verify_catalog(spark, str(tmp_path))
    assert all(v == "missing" for v in report.values())


def test_ntz_conf_scoped_to_footer_read_and_restored(spark, sf_dir):
    """The loader's inferTimestampNTZ flip must be invisible outside
    the (eager) schema-inference call: the conf comes back to its prior
    value, the returned frame keeps TimestampType, and executing it
    AFTER the restore still works — proving the schema was resolved
    eagerly, not at action time."""
    from zigchain_indexer_clickhouse_spark.catalog import load

    conf = "spark.sql.parquet.inferTimestampNTZ.enabled"
    prev = spark.conf.get(conf)
    spark.conf.set(conf, "true")  # hostile harness default
    try:
        df = load(spark, sf_dir, "events")
        assert spark.conf.get(conf) == "true"  # restored immediately
        assert dict(df.dtypes)["ts"] == "timestamp"  # not timestamp_ntz
        row = df.select("ts").orderBy("event_id").head()
        assert row[0].year >= 2000  # scan after restore, sane values
        # and a raw read outside the loader honors the session conf
        raw = spark.read.parquet(f"{sf_dir}/events.parquet")
        assert dict(raw.dtypes)["ts"] in ("timestamp_ntz", "timestamp")
    finally:
        spark.conf.set(conf, prev)


def test_loader_pins_utc_session_zone(spark, sf_dir):
    """Loading any table from a mis-zoned session must pin UTC (the
    engine's declared timestamp semantics)."""
    from zigchain_indexer_clickhouse_spark.catalog import load

    tz = "spark.sql.session.timeZone"
    prev = spark.conf.get(tz)
    spark.conf.set(tz, "Asia/Tokyo")
    try:
        load(spark, sf_dir, "orders")
        assert spark.conf.get(tz) == "UTC"
    finally:
        spark.conf.set(tz, prev)


def test_zorder_buckets_are_tight_in_both_dimensions(spark, sf_dir):
    """#202: fixing the top z-bits bounds BOTH dimensions at once — for
    a 2^22 bucket width over a 32-bit z-value, the top 5 bits of each
    16-bit dimension are fixed, so every bucket's per-dimension span is
    provably < 2^11. A plain (u, t) sort key would show the full range
    in the trailing dimension."""
    from zigchain_indexer_clickhouse_spark.plans import registry

    rows = registry.queries()["zorder_layout"](spark, sf_dir).collect()
    assert rows
    for r in rows:
        assert r["max_ub"] - r["min_ub"] < 2048, r
        assert r["max_tb"] - r["min_tb"] < 2048, r


def test_oracles_and_load_start_no_thread(spark, sf_dir, tmp_path,
                                          monkeypatch):
    """Listing the oracles and loading a table start no thread: no
    background decode warm-up runs behind the caller's back."""
    import os
    import shutil
    import threading

    from zigchain_indexer_clickhouse_spark.catalog import load
    from zigchain_indexer_clickhouse_spark.plans import registry

    started = []
    real_start = threading.Thread.start

    def spy(self):
        started.append(self.name)
        return real_start(self)

    monkeypatch.setattr(threading.Thread, "start", spy)
    # a fresh sf_dir: nothing keyed on it can have run before
    shutil.copy(os.path.join(sf_dir, "region.parquet"), tmp_path)
    registry.oracles()
    load(spark, str(tmp_path), "region")
    assert started == []


def test_shared_stage_memo_builds_once_and_evicts_other_sf_dir(spark, tmp_path):
    """The persisted-stage memo: the same (sf_dir, tag) returns the same
    persisted frame and calls ``build`` once; the first stage asked for
    under a different sf_dir unpersists every entry of the old one."""
    from zigchain_indexer_clickhouse_spark.catalog import (
        _STAGE_CACHE,
        _shared_stage,
    )

    def persisted(df) -> bool:
        lvl = df.storageLevel
        return lvl.useMemory or lvl.useDisk

    calls = []

    def build():
        # a distinct plan per call: the cache manager matches persisted
        # frames by plan, so equal plans would share one cache entry
        calls.append(1)
        return spark.range(len(calls))

    a, b = str(tmp_path / "a"), str(tmp_path / "b")
    first = _shared_stage("memo_probe", spark, a, build)
    second = _shared_stage("memo_probe_2", spark, a, build)
    assert persisted(first) and persisted(second) and len(calls) == 2
    assert _shared_stage("memo_probe", spark, a, build) is first
    assert len(calls) == 2

    moved = _shared_stage("memo_probe", spark, b, build)
    assert moved is not first and len(calls) == 3 and persisted(moved)
    assert not persisted(first) and not persisted(second)
    assert {k[1] for k in _STAGE_CACHE} == {b}
    _STAGE_CACHE.pop((spark.sparkContext.applicationId, b, "memo_probe")).unpersist()
