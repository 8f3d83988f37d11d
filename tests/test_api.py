"""IndexerAPI facade: the reference's database-helper surface
(clickhouse_queries.js module.exports) over append-only versioned
parquet with FINAL-at-read semantics."""

from __future__ import annotations

import pytest

from zigchain_indexer_clickhouse_spark.api import IndexerAPI

# the work_queue log's columns as Spark DDL: the schema argument callers
# of compact(table, schema, key_cols) pass
QUEUE_DDL = ("id long, start_height long, end_height long, status string, "
             "error_message string, created_at timestamp, "
             "updated_at timestamp, _version long, _deleted boolean")


@pytest.fixture()
def api(spark, tmp_path):
    return IndexerAPI(spark, str(tmp_path))


def test_work_queue_lifecycle(api):
    api.insert_work_queue(
        [
            {"id": 1, "start_height": 1, "end_height": 1000},
            {"id": 2, "start_height": 1001, "end_height": 2000},
            {"id": 3, "start_height": 2001, "end_height": 3000},
        ]
    )
    assert api.count_work_queue("pending") == 3

    pending = api.get_pending_work(limit=2).collect()
    assert [r["id"] for r in pending] == [1, 2]

    # update = versioned re-append; FINAL shows only the latest state
    api.update_work_queue_status(2, "processing")
    assert api.count_work_queue("pending") == 2
    assert api.count_work_queue("processing") == 1

    api.update_work_queue_status(2, "failed", error_message="rpc timeout")
    row = api.work_queue().filter("id = 2").collect()[0]
    assert row["status"] == "failed" and row["error_message"] == "rpc timeout"

    # delete = tombstone append
    api.delete_work_queue_item(1)
    assert sorted(r["id"] for r in api.work_queue().collect()) == [2, 3]

    # raw log keeps full history (3 inserts + 2 updates + 1 delete)
    assert api._log("work_queue").num_rows == 6


def test_overlapping_ranges_probe(api):
    api.insert_work_queue(
        [
            {"id": 1, "start_height": 1, "end_height": 1000},
            {"id": 2, "start_height": 1001, "end_height": 2000, "status": "done"},
            {"id": 3, "start_height": 1500, "end_height": 2500},
        ]
    )
    hits = api.get_overlapping_ranges(900, 1600).collect()
    # id=2 overlaps but is done; id=1 and id=3 are pending and overlap
    assert sorted(r["id"] for r in hits) == [1, 3]


def test_failed_block_upsert_and_backoff(api):
    api.add_failed_block(42, "rpc", "timeout", worker_id="w1")
    api.add_failed_block(42, "rpc", "timeout again", worker_id="w2")
    api.add_failed_block(7, "decode", "bad proto")

    fb = {r["block_height"]: r for r in api.failed_blocks().collect()}
    assert fb[42]["attempts"] == 2 and fb[42]["worker_id"] == "w2"
    assert fb[7]["attempts"] == 1

    sched = {r["block_height"]: r["retry_in_s"]
             for r in api.retry_schedule().collect()}
    # min(600, 2^min(n,5)*5): n=1 → 10, n=2 → 20
    assert sched[7] == 10 and sched[42] == 20

    api.remove_failed_block(42)
    assert [r["block_height"] for r in api.failed_blocks().collect()] == [7]


def test_index_state_argmax(api):
    assert api.get_last_indexed_height() == 0
    api.update_last_indexed_height("decoded_indexer", 100)
    api.update_last_indexed_height("decoded_indexer", 250)
    api.update_last_indexed_height("raw_indexer", 999)
    assert api.get_last_indexed_height("decoded_indexer") == 250
    assert api.get_last_indexed_height("raw_indexer") == 999


def test_sql_over_final_views(api):
    api.insert_work_queue([{"id": 1, "start_height": 1, "end_height": 10}])
    api.update_work_queue_status(1, "processing")
    n = api.query(
        "SELECT COUNT(*) AS n FROM work_queue WHERE status = 'processing'"
    ).collect()[0]["n"]
    assert n == 1


def test_compact_preserves_final_state(api):
    api.insert_work_queue(
        [{"id": i, "start_height": i, "end_height": i + 9} for i in range(1, 6)]
    )
    api.update_work_queue_status(3, "done")
    api.delete_work_queue_item(5)
    before = sorted(
        (r["id"], r["status"]) for r in api.work_queue().collect()
    )
    api.compact("work_queue", QUEUE_DDL, ["id"])
    after = sorted((r["id"], r["status"]) for r in api.work_queue().collect())
    assert before == after == [
        (1, "pending"), (2, "pending"), (3, "done"), (4, "pending")
    ]


def test_compact_checks_optional_schema_and_key(api, tmp_path):
    """compact(table) needs nothing else; a schema or key that is
    passed must be the log's own, or the call raises before writing."""
    api.insert_work_queue([{"id": 1, "start_height": 1, "end_height": 9}])
    api.update_work_queue_status(1, "done")
    files = sorted(p.name for p in (tmp_path / "work_queue").iterdir())
    for bad in ((QUEUE_DDL.replace("status string", "status int"), ["id"]),
                (QUEUE_DDL, ["start_height"])):
        with pytest.raises(ValueError):
            api.compact("work_queue", *bad)
    assert sorted(p.name for p in (tmp_path / "work_queue").iterdir()) \
        == files
    api.compact("work_queue")
    assert [(r["id"], r["status"]) for r in api.work_queue().collect()] \
        == [(1, "done")]
    assert len(list((tmp_path / "work_queue").glob("*.parquet"))) == 1


def test_split_range_parity(api):
    # splitRange (orchestrator.js:78-92): cover exactly, sizes ≤1 apart
    parts = api.split_range(1, 10, 3)
    assert parts == [(1, 4), (5, 7), (8, 10)]
    assert api.splitRange(1, 10, 3) == parts  # camelCase alias
    parts = api.split_range(1, 5, 10)  # more parts than heights → clamp
    assert parts == [(i, i) for i in range(1, 6)]


def test_camelcase_aliases(api):
    api.insertWorkQueue([{"id": 9, "start_height": 1, "end_height": 2}])
    assert api.countWorkQueue("pending") == 1
    assert api.getLastIndexedHeight() == 0
    assert api.getMaxBlockHeight() == 0


def test_version_high_water_mark_survives_restart(api, spark, tmp_path):
    """A new process (new IndexerAPI instance) must continue versioning
    ABOVE what is already on disk — wall-clock seeding could re-seed
    below it after a sub-ms write burst and resurrect stale rows."""
    api.insert_work_queue([{"id": 1, "start_height": 1, "end_height": 10}])
    api.update_work_queue_status(1, "processing")
    api.update_work_queue_status(1, "done")

    # fresh instance = restarted process; no in-memory counter carried
    api2 = IndexerAPI(spark, str(tmp_path))
    api2.update_work_queue_status(1, "failed", error_message="late")
    assert api2.work_queue().filter("id = 1").collect()[0]["status"] == "failed"

    # and the first instance still reads the same FINAL state
    assert api.work_queue().filter("id = 1").collect()[0]["status"] == "failed"


def test_auto_compact_bounds_file_count(api, tmp_path, monkeypatch):
    """Hot tables (index_state updates every block in the reference)
    must not accrete one file per append forever: after N appends the
    log auto-compacts and FINAL reads are unchanged."""
    import zigchain_indexer_clickhouse_spark.api as api_mod

    monkeypatch.setattr(api_mod, "AUTO_COMPACT_EVERY", 10)
    for h in range(1, 26):
        api.update_last_indexed_height("decoded_indexer", h)
    assert api.get_last_indexed_height("decoded_indexer") == 25

    files = list((tmp_path / "index_state").glob("*.parquet"))
    # 25 appends with compaction every 10 → far fewer than 25 data files
    assert len(files) <= 12


def test_run_with_retry_transient_then_success(api):
    """db.js retry policy: transient errors back off linearly per class
    and retry; the call succeeds once the fault clears."""
    sleeps: list[float] = []
    calls = {"n": 0}

    def flaky():
        calls["n"] += 1
        if calls["n"] < 3:
            raise RuntimeError("ECONNREFUSED storage endpoint")
        return "ok"

    assert api.run_with_retry(flaky, retries=3, sleeper=sleeps.append) == "ok"
    assert calls["n"] == 3
    assert sleeps == [2.0, 4.0]  # connection class: 2s * attempt


def test_run_with_retry_timeout_class_and_exhaustion(api):
    sleeps: list[float] = []

    def always_slow():
        raise RuntimeError("query timed out after 60000ms")

    import pytest as _pytest

    with _pytest.raises(RuntimeError, match="timed out"):
        api.run_with_retry(always_slow, retries=3, sleeper=sleeps.append)
    assert sleeps == [1.0, 2.0]  # timeout class: 1s * attempt, no
    # sleep after the final attempt — it re-raises instead


def test_run_with_retry_nontransient_raises_immediately(api):
    sleeps: list[float] = []

    def broken():
        raise ValueError("syntax error in query")

    import pytest as _pytest

    with _pytest.raises(ValueError):
        api.run_with_retry(broken, sleeper=sleeps.append)
    assert sleeps == []  # db.js: `else throw err` — no retry


def test_test_connection_health_walk(api):
    """test_connection.js health walk: empty engine reports no tables
    and no state; after the orchestrator records a height the report
    carries it with a fresh staleness age."""
    fresh = api.test_connection()
    assert fresh["tables"] == []
    assert fresh["last_processed_height"] is None
    assert fresh["state_age_s"] is None
    assert fresh["version"]  # engine version, like SELECT version()

    api.update_last_indexed_height("orchestrator", 4321)
    report = api.testClickHouseConnection()  # reference export alias
    assert "index_state" in report["tables"]
    assert report["last_processed_height"] == 4321
    assert report["state_age_s"] is not None and report["state_age_s"] < 300


def test_ch_sql_translates_reference_dialect():
    """Pure-text translation of the constructs the reference's SQL
    actually uses (clickhouse_queries.js:155,165,222;
    orchestrator.js:255,388)."""
    t = IndexerAPI.ch_sql
    assert t("SELECT count() as count FROM work_queue FINAL "
             "WHERE status = 'pending'") == (
        "SELECT count(*) as count FROM work_queue  WHERE status = 'pending'"
    )
    assert t("SELECT COALESCE(MAX(height), CAST(0 AS UInt64)) AS max_h "
             "FROM blocks") == (
        "SELECT COALESCE(MAX(height), CAST(0 AS BIGINT)) AS max_h FROM blocks"
    )
    assert t("SELECT intDiv(height, 100000) AS p, argMax(h, ts), "
             "uniqExact(u), uniq(v), toStartOfDay(ts), toDate(ts), "
             "toUInt32(x), NOW()") == (
        "SELECT (height div 100000) AS p, max_by(h, ts), "
        "count(DISTINCT u), approx_count_distinct(v), "
        "date_trunc('DAY', ts), CAST(ts AS DATE), "
        "CAST(x AS BIGINT), current_timestamp()"
    )


def test_ch_query_runs_reference_strings_verbatim(api):
    """The reference's literal query texts execute unchanged through
    ch_query over the FINAL views."""
    api.insert_work_queue([
        {"id": 1, "start_height": 1, "end_height": 10},
        {"id": 2, "start_height": 11, "end_height": 20},
        {"id": 3, "start_height": 21, "end_height": 30},
    ])
    api.update_work_queue_status(2, "processing")

    # clickhouse_queries.js:155
    r = api.ch_query(
        "SELECT count() as count FROM work_queue FINAL "
        "WHERE status = 'pending'"
    ).collect()
    assert r[0]["count"] == 2
    # clickhouse_queries.js:165
    rows = api.ch_query(
        "SELECT * FROM work_queue FINAL WHERE status = 'pending' "
        "ORDER BY id LIMIT 1"
    ).collect()
    assert [x["id"] for x in rows] == [1]
    # orchestrator.js:255
    r = api.ch_query(
        "SELECT COUNT(*) as count FROM work_queue FINAL "
        "WHERE status IN ('pending', 'processing')"
    ).collect()
    assert r[0]["count"] == 3


# -- appends without Spark jobs, and state-read errors --------------------------

def test_append_starts_no_spark_job(api, spark):
    """An append writes its parquet file with pyarrow: once each log's
    version counter is seeded, inserts, updates and tombstones run no
    Spark job."""
    import time

    sc = spark.sparkContext
    api.insert_work_queue([{"id": 1, "start_height": 1, "end_height": 10}])
    api.update_last_indexed_height("decoded_indexer", 10)
    api.remove_failed_block(3)
    try:
        sc.setJobGroup("test-appends", "appends")
        api.insert_work_queue([{"id": 2, "start_height": 11, "end_height": 20}])
        api.update_last_indexed_height("decoded_indexer", 20)
        api.remove_failed_block(4)
        api.delete_work_queue_item(1)
        # control: a read in its own group shows the probe sees jobs;
        # the bus delivers in order, so the appends' jobs would be in
        sc.setJobGroup("test-appends-control", "control")
        assert api.work_queue().count() == 1
        deadline = time.monotonic() + 30
        while not sc.statusTracker().getJobIdsForGroup("test-appends-control"):
            assert time.monotonic() < deadline, "control job never seen"
            time.sleep(0.05)
    finally:
        sc.setLocalProperty("spark.jobGroup.id", None)
        sc.setLocalProperty("spark.job.description", None)
    assert list(sc.statusTracker().getJobIdsForGroup("test-appends")) == []
    assert api.get_last_indexed_height("decoded_indexer") == 20


def test_leftover_temp_file_is_invisible(api, tmp_path, monkeypatch):
    """A writer that dies between the write and the rename leaves only
    its hidden temp file behind, which no reader opens: not the FINAL
    views, not pg_query, not compact, not a count of data files."""
    import os

    import zigchain_indexer_clickhouse_spark.api as api_mod

    api.insert_work_queue([{"id": i, "start_height": i, "end_height": i}
                           for i in (1, 2, 3)])
    api.update_work_queue_status(2, "processing")

    def crash(src, dst):
        raise OSError("writer died before the rename")

    monkeypatch.setattr(api_mod.os, "replace", crash)
    with pytest.raises(OSError):
        api.update_work_queue_status(3, "processing")
    monkeypatch.undo()

    log = tmp_path / "work_queue"
    (left,) = log.glob(".part-*.tmp")
    # a crash mid-write leaves a partial file: truncate it to prove no
    # reader opens it (a partial parquet file fails any read)
    os.truncate(left, left.stat().st_size // 2)
    assert len(list(log.glob("*.parquet"))) == 2

    assert sorted((r["id"], r["status"]) for r in api.work_queue().collect()) \
        == [(1, "pending"), (2, "processing"), (3, "pending")]
    assert api.pg_query(
        "SELECT COUNT(*) AS n FROM work_queue WHERE status = 'pending'"
    ).collect()[0]["n"] == 2
    api.compact("work_queue")
    assert sorted(r["id"] for r in api.work_queue().collect()) == [1, 2, 3]
    assert not list(log.glob(".part-*.tmp"))  # gone with the old log


def test_appended_instants_round_trip(api, monkeypatch):
    """Callers pass naive local datetimes; an append stores the instant
    they mean (UTC), whatever the process's time zone is, and a row
    read back and re-appended keeps its created_at."""
    import time

    monkeypatch.setenv("TZ", "IST-5:30")  # UTC+05:30, no tzdata needed
    time.tzset()
    try:
        api.update_last_indexed_height("orchestrator", 7)
        age = api.test_connection()["state_age_s"]
        assert age is not None and age < 5

        api.insert_work_queue([{"id": 1, "start_height": 1, "end_height": 9}])
        created = api.work_queue().collect()[0]["created_at"]
        assert abs(created.timestamp() - time.time()) < 5
        for status in ("processing", "failed", "pending", "processing",
                       "completed"):
            api.update_work_queue_status(1, status)
        row = api.work_queue().collect()[0]
        assert row["status"] == "completed" and row["created_at"] == created
    finally:
        monkeypatch.undo()
        time.tzset()


def test_state_read_error_propagates(api, tmp_path, monkeypatch):
    """Only a missing table directory reads as an empty table. Any other
    read failure reaches the caller — and run_with_retry classifies it —
    instead of becoming height 0, an empty view or a version counter
    re-seeded at 1 whose appends would lose under FINAL."""
    import pyarrow.dataset as pads
    from pyspark.sql.readwriter import DataFrameReader

    # missing directories: empty, height 0
    assert api.work_queue().count() == 0
    assert api.get_max_block_height() == 0
    api.insert_work_queue([{"id": 1, "start_height": 1, "end_height": 10}])
    api.insert("blocks", api.spark.range(1, 4).toDF("height"))

    def refused(*args, **kw):
        raise RuntimeError("java.net.ConnectException: Connection refused")

    # the state logs are read with pyarrow, the data tables with Spark
    monkeypatch.setattr(pads, "dataset", refused)
    monkeypatch.setattr(DataFrameReader, "parquet", refused)
    for call in (api.work_queue,
                 lambda: api.count_work_queue("pending"),
                 api.get_max_block_height,
                 lambda: api.pg_query("SELECT COUNT(*) FROM blocks"),
                 lambda: api.pg_query("SELECT COUNT(*) FROM work_queue"),
                 lambda: api.update_work_queue_status(1, "failed"),
                 # a new process seeds its version counter here
                 lambda: IndexerAPI(api.spark, str(tmp_path))
                 .insert_work_queue([{"id": 2, "start_height": 11,
                                      "end_height": 20}])):
        with pytest.raises(RuntimeError, match="Connection refused"):
            call()
    sleeps: list[float] = []
    with pytest.raises(RuntimeError, match="Connection refused"):
        api.run_with_retry(api.get_max_block_height, sleeper=sleeps.append)
    assert sleeps == [2.0, 4.0]  # retried as a connection error
    monkeypatch.undo()
    assert len(list((tmp_path / "work_queue").glob("*.parquet"))) == 1

    # an unreadable table (a corrupt file where schema inference reads
    # the footers) is an error too, not "no blocks yet"
    (tmp_path / "blocks" / "part-0.parquet").write_bytes(b"not parquet")
    with pytest.raises(Exception):
        api.get_max_block_height()


def test_absent_table_starts_no_spark_read(api, tmp_path, monkeypatch):
    """On a fresh store a data table's absence is seen on the file
    system, before Spark is asked (which would log a stack trace for
    the missing path); a directory that exists still goes to Spark."""
    from pyspark.sql.readwriter import DataFrameReader

    calls = []
    real = DataFrameReader.parquet

    def spy(self, *paths, **kw):
        calls.append(paths)
        return real(self, *paths, **kw)

    monkeypatch.setattr(DataFrameReader, "parquet", spy)
    assert api.get_max_block_height() == 0
    assert api.pg_query("SELECT COUNT(*) AS n FROM transactions_raw") \
        .collect()[0]["n"] == 0
    assert calls == []

    (tmp_path / "blocks").mkdir()
    (tmp_path / "blocks" / "part-0.parquet").write_bytes(b"not parquet")
    with pytest.raises(Exception):
        api.get_max_block_height()
    assert calls
