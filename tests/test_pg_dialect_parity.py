"""PostgreSQL dialect-shim parity for the monitor scripts (VERDICT r9
item 8 / r10 item 6): extract EVERY SQL string the reference's
operational tooling sends through node-pg — scripts/monitor_indexer.js
(health walk, gap probe, loop detection) and scripts/test_connection.js
(catalog probe, index-state peek) — bind positional $N parameters the
way the call sites do, and RUN each one verbatim through
IndexerAPI.pg_query over a seeded engine instance. Then pin behavior:
the monitor strings' answers must equal the engine's own DataFrame
views computed directly.
"""

from __future__ import annotations

import re
import uuid
from contextlib import contextmanager
from datetime import date, datetime, timedelta, timezone
from pathlib import Path

import pytest
from pyspark.sql import functions as F
from pyspark.sql.types import LongType

from perfbench.workloads import MONITOR_SQL
from zigchain_indexer_clickhouse_spark.api import IndexerAPI

_REF = Path("/root/reference")
_FILES = ["scripts/monitor_indexer.js", "scripts/test_connection.js"]


def _extract_selects() -> list[tuple[str, str]]:
    """Every SELECT the scripts send: backtick template literals AND
    the single-quoted one-liners ('SELECT NOW() ...')."""
    out = []
    for rel in _FILES:
        p = _REF / rel
        if not p.exists():
            continue
        text = p.read_text()
        for m in re.finditer(r"`([^`]*)`", text, re.S):
            s = m.group(1)
            if re.search(r"\bSELECT\b", s):
                out.append((rel, " ".join(s.split())))
        for m in re.finditer(r"query\(\s*'([^']*SELECT[^']*)'", text):
            out.append((rel, " ".join(m.group(1).split())))
    return out


_SELECTS = _extract_selects()


@pytest.fixture(scope="module")
def api(spark, tmp_path_factory):
    """An engine instance with every monitor-visible table seeded:
    queue items across statuses (one stale-processing, one duplicated
    pending pair), failed blocks, index state, and raw blocks /
    transactions_raw inserts — timestamps straddle NOW() so the
    'last hour' / '30 minutes' predicates bite both ways."""
    a = IndexerAPI(spark, str(tmp_path_factory.mktemp("pgapi")))
    now = datetime.now()
    a.insert_work_queue([
        {"id": 1, "start_height": 1, "end_height": 100},
        {"id": 2, "start_height": 101, "end_height": 200,
         "status": "processing"},
        {"id": 3, "start_height": 201, "end_height": 300,
         "status": "completed"},
        # duplicate pending range (the monitor's duplicate probe)
        {"id": 4, "start_height": 1, "end_height": 100},
    ])
    a.add_failed_block(55, "rpc", "boom", "w1")
    a.add_failed_block(55, "rpc", "boom again", "w1")
    a.add_failed_block(77, "decode", "bad bytes", "w2")
    a.update_last_indexed_height("decoded_indexer", 12)
    a.update_last_indexed_height("orchestrator", 15)
    blocks = spark.createDataFrame(
        [(h, now - timedelta(minutes=5)) for h in (1, 2, 3, 5, 7, 9)]
        + [(h, now - timedelta(hours=3)) for h in (10, 11)],
        "height long, created_at timestamp",
    )
    a.insert("blocks", blocks)
    a.insert("transactions_raw", spark.createDataFrame(
        [("ab", 1, now), ("cd", 2, now)],
        "tx_hash string, height long, created_at timestamp",
    ))
    return a


@pytest.mark.parametrize(
    "rel,sql",
    _SELECTS,
    ids=[f"{r.split('/')[-1]}:{i}" for i, (r, _) in enumerate(_SELECTS)],
)
def test_monitor_select_runs_verbatim(api, rel, sql):
    """Every monitor/test-connection SELECT must analyze AND execute
    through pg_query. The gap probe's $1 binds like its call site
    (Math.min(maxHeight, 10000))."""
    params = [10] if "$1" in sql else None
    api.pg_query(sql, params).collect()


def test_extraction_found_the_monitor_surface():
    """The extraction must keep seeing the scripts' query surface —
    if the reference moves its SQL, this fails loudly instead of the
    parametrized test silently shrinking."""
    assert len(_SELECTS) >= 13, [s[:60] for _, s in _SELECTS]
    joined = " ".join(s for _, s in _SELECTS)
    for marker in ("generate_series", "EXTRACT(EPOCH",
                   "information_schema.tables", "INTERVAL '1 hour'"):
        assert marker in joined, marker


def test_queue_status_counts_equal_engine_view(api):
    got = {
        (r["status"], r["count"]) for r in api.pg_query(
            "SELECT status, COUNT(*) as count, "
            "MIN(start_height) as min_height, "
            "MAX(end_height) as max_height "
            "FROM work_queue GROUP BY status ORDER BY status").collect()
    }
    want = {
        (r["status"], r["count"])
        for r in api.work_queue().groupBy("status")
        .agg(F.count("*").alias("count")).collect()
    }
    assert got == want and ("pending", 2) in got


def test_failed_blocks_breakdown_equals_engine_view(api):
    rows = api.pg_query(
        "SELECT status, error_type, COUNT(*) as count, "
        "MIN(height) as min_height, MAX(height) as max_height "
        "FROM failed_blocks GROUP BY status, error_type "
        "ORDER BY status, error_type").collect()
    got = {(r["error_type"], r["count"], r["min_height"],
            r["max_height"]) for r in rows}
    # engine view: 55 retried twice merges to ONE row (attempts=2)
    assert got == {("rpc", 1, 55, 55), ("decode", 1, 77, 77)}
    assert all(r["status"] == "pending" for r in rows)


def test_gap_probe_equals_engine_blocks(api):
    row = api.pg_query(
        "WITH height_series AS ( "
        "  SELECT generate_series(1, $1) AS expected_height "
        "), missing_blocks AS ( "
        "  SELECT hs.expected_height as missing_height "
        "  FROM height_series hs "
        "  LEFT JOIN blocks b ON hs.expected_height = b.height "
        "  WHERE b.height IS NULL "
        ") SELECT COUNT(*) as gap_count, "
        "MIN(missing_height) as first_gap, "
        "MAX(missing_height) as last_gap FROM missing_blocks",
        [11]).collect()[0]
    # seeded heights 1,2,3,5,7,9,10,11 → missing 4,6,8 in [1..11]
    assert (row["gap_count"], row["first_gap"], row["last_gap"]) \
        == (3, 4, 8)


def test_index_state_and_recent_activity(api):
    st = {r["index_name"]: r["last_processed_height"] for r in api.pg_query(
        "SELECT index_name, last_processed_height, updated_at "
        "FROM index_state ORDER BY updated_at DESC").collect()}
    assert st == {"decoded_indexer": 12, "orchestrator": 15}
    recent = api.pg_query(
        "SELECT COUNT(*) as recent_blocks FROM blocks "
        "WHERE created_at > NOW() - INTERVAL '1 hour'").collect()[0]
    assert recent["recent_blocks"] == 6  # the 3-hour-old pair excluded


def test_information_schema_probe_lists_present_tables(api):
    rows = api.pg_query(
        "SELECT table_name FROM information_schema.tables "
        "WHERE table_schema = 'public' "
        "AND table_name IN ('blocks', 'transactions_raw', "
        "'index_state', 'work_queue', 'failed_blocks') "
        "ORDER BY table_name").collect()
    assert [r["table_name"] for r in rows] == [
        "blocks", "failed_blocks", "index_state", "transactions_raw",
        "work_queue",
    ]


def test_stuck_and_stale_epoch_arithmetic(api):
    """EXTRACT(EPOCH FROM (NOW() - updated_at))/60 translates to a
    unix_timestamp difference; freshly-seeded items are under both
    thresholds so the monitor's healthy branch fires."""
    stuck = api.pg_query(
        "SELECT COUNT(*) as stuck_count, "
        "MIN(EXTRACT(EPOCH FROM (NOW() - updated_at))/60) as min_minutes, "
        "MAX(EXTRACT(EPOCH FROM (NOW() - updated_at))/60) as max_minutes "
        "FROM work_queue WHERE status = 'processing' "
        "AND updated_at < NOW() - INTERVAL '30 minutes'").collect()[0]
    assert stuck["stuck_count"] == 0
    dup = api.pg_query(
        "SELECT COUNT(*) as duplicate_ranges FROM ( "
        "SELECT start_height, end_height FROM work_queue "
        "WHERE status = 'pending' GROUP BY start_height, end_height "
        "HAVING COUNT(*) > 1 ) duplicates").collect()[0]
    assert dup["duplicate_ranges"] == 1


# -- the monitor strings the repo holds, and the views pg_query registers ------

def _group(rows, key, val):
    """{key(r): (count, min val(r), max val(r))} over ``rows``."""
    out: dict = {}
    for r in rows:
        c = out.setdefault(key(r), [0, val(r), val(r)])
        c[0] += 1
        c[1], c[2] = min(c[1], val(r)), max(c[2], val(r))
    return out


def _monitor_expect(api, name):
    """The answer of MONITOR_SQL[name], computed in Python from the
    engine's own views, as the rows pg_query should return."""
    q = [r.asDict() for r in api.work_queue().collect()]
    now = datetime.now()
    if name == "status_counts":
        g = _group(q, lambda r: r["status"], lambda r: r["start_height"])
        ends = _group(q, lambda r: r["status"], lambda r: r["end_height"])
        return [(s, g[s][0], g[s][1], ends[s][2]) for s in sorted(g)]
    if name == "stuck":
        stale = [(now - r["updated_at"]).total_seconds() / 60 for r in q
                 if r["status"] == "processing"
                 and r["updated_at"] < now - timedelta(minutes=30)]
        return [(len(stale), min(stale, default=None),
                 max(stale, default=None))]
    if name == "duplicates":
        g = _group([r for r in q if r["status"] == "pending"],
                   lambda r: (r["start_height"], r["end_height"]),
                   lambda r: 0)
        return [(sum(1 for c in g.values() if c[0] > 1),)]
    if name == "looping":
        g = _group([r for r in q if r["created_at"] > now - timedelta(hours=1)],
                   lambda r: (r["start_height"], r["end_height"]),
                   lambda r: 0)
        return sorted((s, e, c[0]) for (s, e), c in g.items() if c[0] > 2)
    if name == "gaps":
        have = {r["height"] for r in api._read("blocks").collect()}
        return [(h,) for h in range(1, api.get_max_block_height() + 1)
                if h not in have]
    assert name == "failed_breakdown"
    g = _group([r.asDict() for r in api.failed_blocks().collect()],
               lambda r: ("failed" if r["attempts"] >= 5 else "pending",
                          r["error_type"]),
               lambda r: r["block_height"])
    return [(*k, *g[k]) for k in sorted(g)]


@pytest.mark.parametrize("name", sorted(MONITOR_SQL))
def test_monitor_sql_equals_engine_views(api, name):
    """Every monitor string the repo holds verbatim
    (perfbench.workloads.MONITOR_SQL) runs through pg_query, and its
    answer equals the one computed from the engine's views."""
    params = [api.get_max_block_height()] if name == "gaps" else None
    got = [tuple(r) for r in api.pg_query(MONITOR_SQL[name], params).collect()]
    if name == "looping":
        got = sorted(got)
    assert got == _monitor_expect(api, name)


@pytest.mark.parametrize("name", ["status_counts", "stuck", "duplicates",
                                  "looping", "failed_breakdown"])
def test_monitor_aggregate_runs_one_job(api, name):
    """The state-log views are single-partition: each of the monitor's
    aggregates over them runs as one Spark job, and GROUP BY, HAVING
    and ORDER BY plan with no Exchange."""
    sc = api.spark.sparkContext
    group = f"one-job-{uuid.uuid4().hex}"
    try:
        sc.setJobGroup(group, group)
        df = api.pg_query(MONITOR_SQL[name])
        df.collect()
    finally:
        sc.setLocalProperty("spark.jobGroup.id", None)
        sc.setLocalProperty("spark.job.description", None)
    sc._jsc.sc().listenerBus().waitUntilEmpty()
    plan = df._jdf.queryExecution().executedPlan().toString()
    assert len(list(sc.statusTracker().getJobIdsForGroup(group))) == 1, plan
    if name in ("status_counts", "duplicates", "failed_breakdown"):
        assert "Exchange" not in plan, plan


def test_gap_probe_runs_one_merge_job(api):
    """The gap probe is one single-task sort-merge join of the one-slice
    series against the single-partition blocks view: it runs as one
    Spark job, with no broadcast of the heights and no Exchange, and its
    rows come out ascending without a sort."""
    sc = api.spark.sparkContext
    # pg_query's read of blocks infers the parquet schema with a job of
    # its own; the group counts the statement's execution
    df = api.pg_query(MONITOR_SQL["gaps"], [api.get_max_block_height()])
    group = f"gap-probe-{uuid.uuid4().hex}"
    try:
        sc.setJobGroup(group, group)
        got = [r["missing_height"] for r in df.collect()]
    finally:
        sc.setLocalProperty("spark.jobGroup.id", None)
        sc.setLocalProperty("spark.job.description", None)
    sc._jsc.sc().listenerBus().waitUntilEmpty()
    plan = df._jdf.queryExecution().executedPlan().toString()
    assert len(list(sc.statusTracker().getJobIdsForGroup(group))) == 1, plan
    assert "SortMergeJoin" in plan and "Exchange" not in plan, plan
    assert got == sorted(got)
    assert [(h,) for h in got] == _monitor_expect(api, "gaps") != []


@contextmanager
def _hint_warnings(spark):
    """Collect what Spark's HintErrorLogger logs inside the block (a
    join hint on no join, an unknown or overridden hint), one message
    a line, into the list it yields."""
    jvm = spark._jvm
    logger = jvm.org.apache.logging.log4j.LogManager.getContext(False) \
        .getLogger("org.apache.spark.sql.catalyst.analysis.HintErrorLogger")
    writer = jvm.java.io.StringWriter()
    appender = jvm.org.apache.logging.log4j.core.appender.WriterAppender \
        .createAppender(None, None, writer, f"hints-{uuid.uuid4().hex}",
                        False, True)
    appender.start()
    logger.addAppender(appender)
    lines: list[str] = []
    try:
        yield lines
    finally:
        logger.removeAppender(appender)
        appender.stop()
        lines.extend(writer.toString().splitlines())


@pytest.mark.parametrize("sql", [
    "SELECT COUNT(*) AS n FROM blocks",
    "SELECT MAX(height) AS h FROM blocks WHERE height > 2",
    "SELECT COUNT(*) AS n FROM transactions_raw",
    "SELECT generate_series(1, 3) AS x",
])
def test_unjoined_statement_carries_no_join_hint(api, sql):
    """Only a statement with a JOIN gets the merge-hinted, one-partition
    ``blocks`` view. Any other statement over a data table plans a plain
    scan, and Spark logs no WARN for a hint with no join to apply to."""
    with _hint_warnings(api.spark) as warned:
        df = api.pg_query(sql)
        df.collect()
    assert warned == []
    plan = df._jdf.queryExecution().executedPlan().toString()
    assert "Coalesce" not in plan, plan


def test_hint_capture_sees_an_unused_join_hint(spark):
    """The capture above does see the WARN of a join hint on no join."""
    with _hint_warnings(spark) as warned:
        spark.range(3).hint("merge").collect()
    assert any("not part of a join relation" in w for w in warned), warned


def test_pg_query_sees_appends_between_calls(spark, tmp_path):
    """Views are built per statement: an append between two pg_query
    calls shows in the second."""
    a = IndexerAPI(spark, str(tmp_path))
    pending = "SELECT COUNT(*) AS n FROM work_queue WHERE status = 'pending'"
    failed = "SELECT MAX(retry_count) AS n FROM failed_blocks"
    a.insert_work_queue([{"id": 1, "start_height": 1, "end_height": 10}])
    a.add_failed_block(5, "rpc", "boom")
    assert a.pg_query(pending).collect()[0]["n"] == 1
    assert a.pg_query(failed).collect()[0]["n"] == 1
    a.insert_work_queue([{"id": 2, "start_height": 11, "end_height": 20}])
    a.add_failed_block(5, "rpc", "boom again")
    assert a.pg_query(pending).collect()[0]["n"] == 2
    assert a.pg_query(failed).collect()[0]["n"] == 2
    a.update_work_queue_status(1, "processing")
    assert a.pg_query(pending).collect()[0]["n"] == 1


def test_statement_reads_only_the_tables_it_names(spark, tmp_path,
                                                  monkeypatch):
    """A statement naming only work_queue reads no other log and not
    blocks; one naming failed_blocks does not read blocks."""
    from pyspark.sql.readwriter import DataFrameReader

    a = IndexerAPI(spark, str(tmp_path))
    a.insert_work_queue([{"id": 1, "start_height": 1, "end_height": 10}])
    a.add_failed_block(5, "rpc", "boom")
    a.update_last_indexed_height("orchestrator", 10)
    a.insert("blocks", spark.range(1, 4).toDF("height"))

    logs, parquet = [], []
    real_log, real_parquet = a._log, DataFrameReader.parquet
    monkeypatch.setattr(a, "_log", lambda t: logs.append(t) or real_log(t))
    monkeypatch.setattr(
        DataFrameReader, "parquet",
        lambda self, *p, **kw: parquet.append(p) or real_parquet(self, *p, **kw))

    assert a.pg_query("SELECT COUNT(*) AS n FROM work_queue") \
        .collect()[0]["n"] == 1
    assert (logs, parquet) == (["work_queue"], [])
    assert a.pg_query("SELECT COUNT(*) AS n FROM failed_blocks") \
        .collect()[0]["n"] == 1
    assert (logs, parquet) == (["work_queue", "failed_blocks"], [])
    assert a.pg_query("SELECT MAX(height) AS h FROM blocks") \
        .collect()[0]["h"] == 3
    assert logs == ["work_queue", "failed_blocks"] and len(parquet) == 1


# -- generate_series(a, b) with b < a yields no rows, as in PostgreSQL -------

def test_gap_probe_on_empty_store_finds_no_gaps(spark, tmp_path):
    """A fresh store's max height is 0; the gap probe bound with it
    must report nothing missing, not heights 0 and 1."""
    a = IndexerAPI(spark, str(tmp_path))
    assert a.get_max_block_height() == 0
    assert a.pg_query(MONITOR_SQL["gaps"], [0]).collect() == []


def test_select_list_series_is_empty_when_bound_below_start(api):
    assert api.pg_query("SELECT generate_series(1, $1) AS x", [0]) \
        .collect() == []
    assert [r["x"] for r in api.pg_query(
        "SELECT generate_series(1, $1) AS x", [3]).collect()] == [1, 2, 3]


def test_from_clause_series_is_empty_when_bound_below_start(api):
    assert api.ch_query("SELECT h FROM generate_series(1, 0) g(h)") \
        .collect() == []
    assert [r["h"] for r in api.ch_query(
        "SELECT h FROM generate_series(2, 4) g(h)").collect()] == [2, 3, 4]


# -- the FROM-less literal series is a one-slice range -------------------------

@pytest.mark.parametrize("a,b", [
    (5, 4), (3, 3), (1, 5), (-2, 1), (3_000_000_000, 3_000_000_002)])
def test_literal_series_is_one_sorted_range_partition(api, a, b):
    """``SELECT generate_series(a, b) AS x`` with literal bounds becomes
    a one-slice ``range``: the PostgreSQL rows (none when b < a, bounds
    past 2^31 and negative starts included), in order, in one partition,
    with no folded literal array."""
    sql = f"SELECT generate_series({a}, {b}) AS x"
    assert "explode" not in IndexerAPI.pg_sql(sql)
    df = api.pg_query(sql)
    assert [r["x"] for r in df.collect()] == list(range(a, b + 1))
    # range's id: BIGINT, where explode(sequence(int, int)) was INT
    assert df.schema["x"].dataType == LongType()
    # an empty range has no slice at all
    assert df.rdd.getNumPartitions() == (1 if b >= a else 0)
    plan = df._jdf.queryExecution().executedPlan().toString()
    assert "Generate" not in plan and "Exchange" not in plan, plan


@pytest.mark.parametrize("sql,rows", [
    # the FROM-clause form
    ("SELECT h AS x FROM generate_series(2, 4) g(h)", [2, 3, 4]),
    # a bound that is an expression
    ("SELECT generate_series(1, 2 + 1) AS x", [1, 2, 3]),
    # non-integer bounds
    ("SELECT generate_series(DATE '2026-01-01', DATE '2026-01-03') AS x",
     [date(2026, 1, 1), date(2026, 1, 2), date(2026, 1, 3)]),
    ("SELECT generate_series(DATE '2026-01-02', DATE '2026-01-01') AS x",
     []),
])
def test_other_series_shapes_still_explode(api, sql, rows):
    """Every series with parenthesis-free arguments that is not a
    FROM-less pair of integer literals keeps the ``explode(IF(b >= a,
    sequence(a, b), NULL))`` form."""
    assert "explode(IF(" in IndexerAPI.pg_sql(sql)
    assert [r["x"] for r in api.pg_query(sql).collect()] == rows


# -- a bound datetime keeps its instant -----------------------------------------

def test_bound_datetime_matches_stored_instant(spark, tmp_path, monkeypatch):
    """A datetime bound with pg_bind keeps its microseconds, and an aware
    one its offset: both find the µs-precision ``updated_at`` an append
    stored, whatever the process's time zone is."""
    import time

    monkeypatch.setenv("TZ", "IST-5:30")  # UTC+05:30, no tzdata needed
    time.tzset()
    try:
        a = IndexerAPI(spark, str(tmp_path))
        a.update_last_indexed_height("orchestrator", 7)
        stored = a._final_row("index_state", "orchestrator")["updated_at"]
        local = stored.astimezone()
        assert local.utcoffset() == timedelta(hours=5, minutes=30)
        naive_utc = stored.astimezone(timezone.utc).replace(tzinfo=None)
        sql = "SELECT COUNT(*) AS n FROM index_state WHERE updated_at = $1"
        for v in (stored, local, naive_utc):
            assert a.pg_query(sql, [v]).collect()[0]["n"] == 1, \
                IndexerAPI.pg_bind(sql, [v])
    finally:
        monkeypatch.undo()
        time.tzset()
