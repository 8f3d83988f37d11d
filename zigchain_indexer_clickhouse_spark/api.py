"""User-facing indexer API — the reference's database helper surface
(src/database/clickhouse_queries.js module.exports, src/core/
orchestrator.js splitRange) re-expressed over parquet + DataFrames.

A user of the reference drives it through ~14 functions
(getLastIndexedHeight, countWorkQueue, getPendingWork,
updateWorkQueueStatus, insertWorkQueue, getOverlappingRanges,
addFailedBlock, ...). This facade exposes the same surface with the
same semantics, one method per reference export (camelCase aliases
included), so switching engines is a s/require/import/.

Storage model — Spark-first, not a port: ClickHouse mutates rows in
place via ReplacingMergeTree merges and async `ALTER TABLE` mutations.
On an object store at 100 TB, in-place mutation is the wrong primitive;
the native design is an APPEND-ONLY versioned log per table:

- every write (insert/update/delete) appends rows with a monotonically
  increasing ``_version`` and a ``_deleted`` tombstone flag;
- every read applies FINAL: latest version per key wins, tombstones
  drop out.

That is exactly ReplacingMergeTree + CollapsingMergeTree semantics with
the merge moved to read time (and compaction as an in-place rewrite —
``compact()``), which is how log-structured tables (Iceberg/Delta/Hudi)
do it. Point updates cost one tiny appended file, never a partition
rewrite.

The three state logs (``work_queue``, ``failed_blocks``,
``index_state``) are small by construction — O(queue ranges + failed
blocks) rows — so they live on the driver, in Arrow:

- an append turns its rows into one pyarrow table, written as one
  parquet file under a hidden name (``.part-…``, which Spark and
  pyarrow datasets skip) and moved into place with ``os.replace``, so
  a reader sees the whole file or none of it;
- FINAL (``_final_arrow``) reads the log with ``pyarrow.dataset``
  against its ``_LOGS`` schema, sorts by key and ``_version``
  descending and keeps the first row per key (``_latest``, which
  ``compact()`` shares); every point read and the version high-water
  mark use it, and no Spark job runs. ClickHouse answers these reads
  in milliseconds; a Spark job per read (~0.3 s) is what this avoids;
- ``work_queue()``, ``failed_blocks()`` and ``index_state()`` hand that
  FINAL to Spark with ``createDataFrame(arrow_table)``, so callers keep
  the DataFrame API;
- ``query`` / ``ch_query`` / ``pg_query`` register, per statement, only
  the views the statement names, each built from one read of its log
  and coalesced to one partition: GROUP BY, ORDER BY and global
  aggregates over it plan with no Exchange, so each of the monitor's
  aggregates runs as one single-task Spark job. The DataFrame methods
  (``work_queue()`` and the calls built on it) keep the plain local
  relation, whose filters Catalyst folds without running a job.

The data tables (``blocks``, ``transactions_raw``, the decoded tables)
stay on Spark, except that ``get_max_block_height`` reads the ``height``
max from the parquet footers of ``blocks``, with no Spark job.
In a statement with a JOIN, ``pg_query`` serves ``blocks`` as a view of
one partition with a ``merge`` join hint. The monitor's gap probe, a
left join of a one-slice ``range`` series against ``blocks`` that keeps
the unmatched heights, then runs as one single-task sort-merge join
with no Exchange, and its ORDER BY needs no sort. Without the hint
Spark broadcasts every ``blocks`` height on each call: a driver-side
hash relation that grows with the chain (~50 MB per call at 1M heights)
and stays on the heap until the context cleaner drops it. The version
counter assumes a single writer per ``base_path`` (one process issues
the versions) on a POSIX filesystem.
"""

from __future__ import annotations

import glob
import os
import re
import time
import uuid
from datetime import datetime

import pyarrow as pa
import pyarrow.compute as pc
import pyarrow.dataset as ds
import pyarrow.parquet as pq
from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F
from pyspark.sql.pandas.types import to_arrow_schema
from pyspark.sql.types import StructType, TimestampType

_TS = pa.timestamp("us", tz="UTC")


def _log_schema(*fields: tuple[str, pa.DataType]) -> pa.Schema:
    """A versioned log's columns: the table's own, then the version and
    tombstone every append carries."""
    return pa.schema([*fields, ("_version", pa.int64()),
                      ("_deleted", pa.bool_())])


# The one definition of each state log's columns (Arrow: what an append
# writes and what FINAL reads files against) and FINAL key.
_LOGS: dict[str, tuple[pa.Schema, str]] = {
    "work_queue": (_log_schema(
        ("id", pa.int64()), ("start_height", pa.int64()),
        ("end_height", pa.int64()), ("status", pa.string()),
        ("error_message", pa.string()), ("created_at", _TS),
        ("updated_at", _TS)), "id"),
    "failed_blocks": (_log_schema(
        ("block_height", pa.int64()), ("error_type", pa.string()),
        ("error_message", pa.string()), ("worker_id", pa.string()),
        ("attempts", pa.int32())), "block_height"),
    "index_state": (_log_schema(
        ("index_name", pa.string()), ("last_processed_height", pa.int64()),
        ("updated_at", _TS)), "index_name"),
}

# The raw data tables pg_query serves, with the schema of their
# empty-with-schema view before anything is indexed.
_RAW_TABLES = {
    "blocks": "height long, created_at timestamp",
    "transactions_raw": "tx_hash string, height long, created_at timestamp",
}


def _latest(log: pa.Table, key: str) -> tuple[pa.Table, pa.Array]:
    """Each key's latest row of a raw log, ``_version`` and ``_deleted``
    kept, and for each whether ``log`` also holds an older row of its
    key. Sorted by key, then version descending, the first row of each
    key run wins. FINAL and ``compact`` share this one sort."""
    log = log.take(pc.sort_indices(
        log, [(key, "ascending"), ("_version", "descending")]))
    col = log[key].combine_chunks()
    prev, cur = col[:-1], col[1:]
    # a row repeats the key of the row above it (null keys form one
    # run, as they form one group in SQL)
    same = pc.coalesce(pc.equal(prev, cur),
                       pc.and_(pc.is_null(prev), pc.is_null(cur)))
    edge = pa.array([True] * min(len(col), 1), pa.bool_())
    first = pa.concat_arrays([edge, pc.invert(same)])
    older = pa.concat_arrays([same, pc.invert(edge)])
    return log.filter(first), older.filter(first)


def _monitor_failed_blocks(fb: pa.Table) -> pa.Table:
    """The failed-block FINAL with the reference DDL's monitor-facing
    columns added (init_clickhouse.js:95-111): ``height``,
    ``retry_count``, ``max_retries`` (the DDL default, 5,
    init_clickhouse.js:102) and ``status`` ('failed' once the retries
    are spent, else 'pending')."""
    spent = pc.fill_null(pc.greater_equal(fb["attempts"], 5), False)
    return (fb.append_column("height", fb["block_height"])
            .append_column("retry_count", fb["attempts"])
            .append_column("max_retries",
                           pa.array([5] * fb.num_rows, pa.int32()))
            .append_column("status", pc.if_else(spent, "failed", "pending")))


# createDataFrame's reading of a datetime as epoch microseconds: an
# aware one is its instant (what a row read back from the Arrow FINAL
# carries, so a re-appended row keeps its instants), a naive one is
# local time (what the callers pass).
_EPOCH_US = TimestampType().toInternal

# Auto-compact a table's append-only log once its directory holds this
# many parquet files, whichever instance wrote them. Keeps hot tables
# (index_state updates every block in the reference) at a bounded file
# count instead of one tiny parquet file per update forever.
AUTO_COMPACT_EVERY = 64


class IndexerAPI:
    """Drop-in query/command surface of the reference indexer.

    Parameters
    ----------
    spark : SparkSession
    base_path : str
        Directory holding one subdirectory per table
        (``work_queue/``, ``failed_blocks/``, ``index_state/``,
        ``blocks/``). Tables are created lazily on first write.
    """

    def __init__(self, spark: SparkSession, base_path: str):
        self.spark = spark
        self.base = base_path.rstrip("/")
        # per-table version counters, lazily seeded from the on-disk
        # high-water mark (max existing _version)
        self._versions: dict[str, int] = {}

    # -- storage primitives -------------------------------------------------
    def _path(self, table: str) -> str:
        return f"{self.base}/{table}"

    def _read(self, table: str) -> DataFrame | None:
        """A data table's parquet files, or None when its directory does
        not exist yet — checked before Spark is asked, so an absent
        table costs no Spark call (and no logged stack trace). A
        directory that exists goes to Spark, so any read error (I/O,
        permissions, a refused connection to the store, a corrupt file)
        propagates, where ``run_with_retry`` can classify it."""
        path = self._path(table)
        return self.spark.read.parquet(path) if os.path.isdir(path) else None

    def _empty(self, ddl: str) -> DataFrame:
        """An empty DataFrame of the DDL schema ``ddl``, built from an
        Arrow table: a Python-list DataFrame would run a Python-worker
        task every time it is read."""
        return self.spark.createDataFrame(
            to_arrow_schema(StructType.fromDDL(ddl)).empty_table())

    def _listing(self, table: str) -> tuple[pa.Table, list[str]]:
        """A state log's raw rows, every version, and the files they
        were read from (not written yet → empty, no files). Read with
        ``pyarrow.dataset`` against the ``_LOGS`` schema, which also
        casts what older Spark compactions wrote (INT96 timestamps, an
        int32 ``_version``); hidden temp files and ``_SUCCESS`` markers
        are skipped. Only a missing directory is an empty log: any other
        read error propagates, since taking it for an absent table would
        re-seed the version counter at 1 and let new appends lose under
        FINAL. A listed file that is gone by the time it is read was
        removed by a compaction, whose new file holds its rows: the log
        is listed and read again, and only a file missing from two
        equal listings is an error."""
        schema = _LOGS[table][0]
        path = self._path(table)
        files = None
        while os.path.isdir(path):
            dataset = ds.dataset(path, schema=schema, format="parquet")
            try:
                return dataset.to_table(), dataset.files
            except FileNotFoundError:
                if dataset.files == files:
                    raise
                files = dataset.files
        return schema.empty_table(), []

    def _log(self, table: str) -> pa.Table:
        """A state log's raw rows, every version."""
        return self._listing(table)[0]

    def _final_arrow(self, table: str) -> pa.Table:
        """A state log's FINAL, on the driver: latest version per key,
        tombstones and ``_version``/``_deleted`` dropped."""
        latest, _ = _latest(self._log(table), _LOGS[table][1])
        return latest.filter(pc.invert(latest["_deleted"])).drop_columns(
            ["_version", "_deleted"])

    def _final_row(self, table: str, key) -> dict | None:
        """The FINAL row of one key, or None."""
        t = self._final_arrow(table)
        rows = t.filter(pc.equal(t[_LOGS[table][1]], key)).to_pylist()
        return rows[0] if rows else None

    def _next_version(self, table: str) -> int:
        """Monotonic per-table version, seeded from max(_version) on
        disk — survives process restarts without resurrecting stale
        rows or tombstones (wall-clock seeding did not: a sub-ms write
        burst + restart could re-seed below already-written versions).
        A multi-writer cluster deployment would use a commit-service
        sequence or transactional table format instead."""
        if table not in self._versions:
            hw = pc.max(self._log(table)["_version"]).as_py()
            self._versions[table] = int(hw or 0)
        self._versions[table] += 1
        return self._versions[table]

    def _append(self, table: str, rows: list[dict]) -> None:
        """Append ``rows`` to a state log as one new version: a pyarrow
        table in the log's schema, written as one parquet file (see
        ``_write``). No Spark job runs: a Spark write of one row costs a
        Python-worker task and a write job, ~0.9 s against ~2 ms.
        Datetimes are stored as UTC instants, read the way
        ``createDataFrame`` reads them. Once the log holds
        ``AUTO_COMPACT_EVERY`` parquet files, it is compacted."""
        schema = _LOGS[table][0]
        v = self._next_version(table)
        full = [{**r, "_version": v, "_deleted": r.get("_deleted", False)}
                for r in rows]
        cols = {}
        for f in schema:
            vals = [r.get(f.name) for r in full]
            cols[f.name] = ([_EPOCH_US(x) for x in vals]
                            if pa.types.is_timestamp(f.type) else vals)
        path = self._path(table)
        self._write(path, pa.Table.from_pydict(cols, schema=schema))
        if len(glob.glob(os.path.join(path, "*.parquet"))) \
                >= AUTO_COMPACT_EVERY:
            self.compact(table)

    @staticmethod
    def _write(d: str, t: pa.Table) -> None:
        """Write ``t`` into directory ``d`` as one parquet file under a
        hidden temp name (Spark and pyarrow datasets skip names starting
        with ``.``), renamed into place with ``os.replace`` so a reader
        sees the whole file or none of it."""
        os.makedirs(d, exist_ok=True)
        name = f"part-{uuid.uuid4().hex}.parquet"
        tmp = os.path.join(d, f".{name}.tmp")
        pq.write_table(t, tmp)
        os.replace(tmp, os.path.join(d, name))

    def _log_view(self, table: str) -> DataFrame:
        """A state log's FINAL as a DataFrame, from the Arrow FINAL. Not
        coalesced like the SQL views: a filter over this local relation
        folds into it and runs no job, where one partition would cost a
        job."""
        return self.spark.createDataFrame(self._final_arrow(table))

    def compact(self, table: str, schema=None, key_cols=None) -> None:
        """Compact a log in place, the explicit analog of ClickHouse's
        background merge / OPTIMIZE, with no version of its own: list
        and read the log once; write one new file (``_write``) holding
        each key's latest row with its own ``_version``, a tombstone
        only while an older row of its key was read; then remove exactly
        the files read and any hidden temp file a crashed write left,
        then the side files a Spark writer leaves (``_SUCCESS`` and each
        ``.<name>.crc`` whose file is gone).

        The new file holds every key's highest-version row, so the FINAL
        of it plus any subset of the files read is the FINAL of the
        files read: every reader and every crash point sees the same
        state, and the directory never disappears. No append runs
        meanwhile (one writer).

        ``schema`` (DDL string or StructType) and ``key_cols`` are
        optional, since ``_LOGS`` knows both; when given they must match
        it, or a ValueError is raised."""
        log_schema, key = _LOGS[table]
        if schema is not None:
            if isinstance(schema, str):
                schema = StructType.fromDDL(schema)
            if not to_arrow_schema(schema).equals(log_schema):
                raise ValueError(
                    f"compact({table!r}): schema {schema.simpleString()} "
                    f"is not the log's {log_schema}")
        if key_cols is not None and list(key_cols) != [key]:
            raise ValueError(
                f"compact({table!r}): key {list(key_cols)} is not [{key!r}]")
        log, files = self._listing(table)
        latest, older = _latest(log, key)
        path = self._path(table)
        self._write(path, latest.filter(
            pc.or_(pc.invert(latest["_deleted"]), older)))
        for f in files + glob.glob(os.path.join(path, ".part-*.tmp")):
            os.remove(f)
        # what a Spark writer leaves beside its files: the _SUCCESS
        # marker, then each .<name>.crc checksum whose file is gone
        success = os.path.join(path, "_SUCCESS")
        if os.path.exists(success):
            os.remove(success)
        for crc in glob.glob(os.path.join(path, ".*.crc")):
            if not os.path.exists(
                    os.path.join(path, os.path.basename(crc)[1:-4])):
                os.remove(crc)

    # -- work_queue (clickhouse_queries.js:153-231) -------------------------
    def work_queue(self) -> DataFrame:
        """work_queue FINAL — the view every queue query runs against."""
        return self._log_view("work_queue")

    def insert_work_queue(self, items: list[dict]) -> None:
        """insertWorkQueue (clickhouse_queries.js:199-214): enqueue
        [{id, start_height, end_height, status?}, ...]."""
        now = time.time()
        self._append(
            "work_queue",
            [
                {
                    "id": int(it["id"]),
                    "start_height": int(it["start_height"]),
                    "end_height": int(it["end_height"]),
                    "status": it.get("status", "pending"),
                    "error_message": None,
                    "created_at": datetime.fromtimestamp(now),
                    "updated_at": datetime.fromtimestamp(now),
                }
                for it in items
            ],
        )

    def count_work_queue(self, status: str) -> int:
        """countWorkQueue (clickhouse_queries.js:153-158):
        `SELECT count() FROM work_queue FINAL WHERE status = ?`."""
        t = self._final_arrow("work_queue")
        return t.filter(pc.equal(t["status"], status)).num_rows

    def get_pending_work(self, limit: int = 1) -> DataFrame:
        """getPendingWork (clickhouse_queries.js:163-168): first N
        pending items by id — TakeOrderedAndProject, no global sort."""
        return (
            self.work_queue()
            .filter(F.col("status") == "pending")
            .orderBy("id")
            .limit(limit)
        )

    def update_work_queue_status(
        self, id: int, status: str, error_message: str | None = None
    ) -> None:
        """updateWorkQueueStatus (clickhouse_queries.js:173-185): the
        reference issues `ALTER TABLE ... UPDATE`; here it is a
        versioned re-append of the row — O(1) write, merged at read."""
        r = self._final_row("work_queue", id)
        if r is None:
            raise KeyError(f"work_queue id {id} not found")
        r.update(
            status=status,
            error_message=error_message,
            updated_at=datetime.now(),
        )
        self._append("work_queue", [r])

    def delete_work_queue_item(self, id: int) -> None:
        """deleteWorkQueueItem (clickhouse_queries.js:190-194): tombstone
        append (`ALTER TABLE ... DELETE` analog; no partition rewrite)."""
        self._append(
            "work_queue",
            [{
                "id": int(id), "start_height": None, "end_height": None,
                "status": None, "error_message": None, "created_at": None,
                "updated_at": None, "_deleted": True,
            }],
        )

    def get_overlapping_ranges(self, start_height: int, end_height: int) -> DataFrame:
        """getOverlappingRanges (clickhouse_queries.js:220-231): queued
        ranges overlapping [start, end] — `NOT (e < s1 OR e1 < s)` with
        the probe interval a literal, so it pushes down to the scan."""
        return self.work_queue().filter(
            F.col("status").isin("pending", "processing")
            & ~(
                (F.col("end_height") < F.lit(start_height))
                | (F.lit(end_height) < F.col("start_height"))
            )
        )

    # -- failed_blocks (clickhouse_queries.js:234-258, worker.js:335-374) ---
    def failed_blocks(self) -> DataFrame:
        return self._log_view("failed_blocks")

    def add_failed_block(
        self,
        height: int,
        error_type: str,
        error_message: str,
        worker_id: str | None = None,
    ) -> None:
        """addFailedBlock (clickhouse_queries.js:234-252): upsert with
        attempts+1 — read current attempts, append the bumped row."""
        cur = self._final_row("failed_blocks", height)
        attempts = (cur["attempts"] if cur else 0) + 1
        self._append(
            "failed_blocks",
            [{
                "block_height": int(height), "error_type": error_type,
                "error_message": error_message, "worker_id": worker_id,
                "attempts": attempts,
            }],
        )

    def remove_failed_block(self, height: int) -> None:
        """removeFailedBlock (clickhouse_queries.js:256-258)."""
        self._append(
            "failed_blocks",
            [{
                "block_height": int(height), "error_type": None,
                "error_message": None, "worker_id": None, "attempts": None,
                "_deleted": True,
            }],
        )

    def retry_schedule(self) -> DataFrame:
        """Retry backoff per failed block —
        `min(600, 2^min(attempts,5) * 5)` seconds
        (worker.js:335-374, scripts/retry_failed.js:82)."""
        return self.failed_blocks().withColumn(
            "retry_in_s",
            F.least(
                F.lit(600),
                F.pow(F.lit(2), F.least(F.col("attempts"), F.lit(5))) * 5,
            ).cast("int"),
        )

    # -- index_state (clickhouse_queries.js:115-139) ------------------------
    def index_state(self) -> DataFrame:
        return self._log_view("index_state")

    def get_last_indexed_height(self, index_name: str = "decoded_indexer") -> int:
        """getLastIndexedHeight (clickhouse_queries.js:115-125): latest
        row by updated_at for the index — argmax, 0 when absent."""
        row = self._final_row("index_state", index_name)
        return int(row["last_processed_height"]) if row else 0

    def update_last_indexed_height(self, index_name: str, height: int) -> None:
        """updateLastIndexedHeight (clickhouse_queries.js:130-139)."""
        self._append(
            "index_state",
            [{
                "index_name": index_name,
                "last_processed_height": int(height),
                "updated_at": datetime.now(),
            }],
        )

    # -- blocks / generic (clickhouse_queries.js:96-148) --------------------
    def insert(self, table: str, df: DataFrame) -> None:
        """insert (clickhouse_queries.js:96-110): bulk append of a
        DataFrame into a table directory."""
        df.write.mode("append").parquet(self._path(table))

    def get_max_block_height(self) -> int:
        """getMaxBlockHeight (clickhouse_queries.js:142-148), from the
        parquet footers of ``blocks``: the largest ``height`` max
        statistic of any row group, exact for an integer column. A row
        group whose footer has no min/max for ``height`` (written
        without statistics, or all null) is read instead. No Spark job
        runs. An absent table is height 0; any other error, a corrupt
        footer included, propagates."""
        path = self._path("blocks")
        if not os.path.isdir(path):
            return 0
        tops = []
        for frag in ds.dataset(path, format="parquet").get_fragments():
            md = frag.metadata
            cols = [md.schema.column(j).path for j in range(md.num_columns)]
            if "height" not in cols:
                continue
            j = cols.index("height")
            for i in range(md.num_row_groups):
                st = md.row_group(i).column(j).statistics
                tops.append(st.max if st is not None and st.has_min_max
                            else pc.max(frag.subset(row_group_ids=[i])
                                        .to_table(columns=["height"])
                                        ["height"]).as_py())
        return max((t for t in tops if t is not None), default=0)

    def query(self, sql: str) -> DataFrame:
        """query (clickhouse_queries.js:8-72): ad-hoc SQL over the FINAL
        views — registers work_queue / failed_blocks / index_state and
        delegates to Spark SQL (Catalyst replaces the hand-rolled
        DELETE/UPDATE → ALTER rewriting: those are API methods here).
        Only the views the statement names are registered."""
        self._register_views(sql)
        return self.spark.sql(sql)

    def _register_views(self, sql: str, monitor: bool = False) -> None:
        """Register, as temp views, the tables ``sql`` names — matched
        as whole words, case-insensitively, so ``failed_blocks`` does
        not name ``blocks`` — each from one read of its table. A table
        the statement does not name is not read. The state logs are
        their FINAL views. ``monitor`` (``pg_query``) adds the raw data
        tables and the ``information_schema_tables`` catalog view, and
        serves ``failed_blocks`` as its monitor-compat projection. A
        view built on the driver from Arrow (a log's FINAL, the catalog
        view) is coalesced to one partition. So is ``blocks`` (read or
        empty) in a statement with a JOIN, and it also carries a
        ``merge`` join hint: joined to the one-slice series ``ch_sql``
        makes of the gap probe's ``generate_series``, both sides are
        SinglePartition, so the join is a sort-merge join with no
        Exchange and no per-call broadcast of every height. A statement
        that does not join, and every ``transactions_raw`` view, reads
        the table as a plain scan."""
        names = [*_LOGS, *_RAW_TABLES, "information_schema_tables"] \
            if monitor else list(_LOGS)
        for name in names:
            if not re.search(rf"\b{name}\b", sql, re.IGNORECASE):
                continue
            if name in _RAW_TABLES:
                df = self._read(name)
                if df is None:
                    df = self._empty(_RAW_TABLES[name])
                # joined, blocks is one merge-hinted partition: the gap
                # probe's anti-join against the one-slice series then
                # plans as one sort-merge join with no Exchange, where
                # Spark would otherwise broadcast every height on each
                # call. Unjoined it stays a plain scan: a join hint on
                # no join only makes Spark log a WARN
                if name == "blocks" and re.search(r"\bJOIN\b", sql,
                                                  re.IGNORECASE):
                    df = df.coalesce(1).hint("merge")
            else:
                if name in _LOGS:
                    t = self._final_arrow(name)
                    if monitor and name == "failed_blocks":
                        t = _monitor_failed_blocks(t)
                else:
                    # built from Arrow like _empty: a Python-list DataFrame
                    # runs a Python-worker task on every read of the view
                    present = [t for t in self._PG_EXPECTED_TABLES
                               if os.path.isdir(self._path(t))]
                    t = pa.table({
                        "table_name": pa.array(present, pa.string()),
                        "table_schema": pa.array(["public"] * len(present),
                                                 pa.string()),
                    })
                # one partition: GROUP BY, ORDER BY and global aggregates
                # over it plan with no Exchange, so a query runs as one
                # single-task job instead of 2-4
                df = self.spark.createDataFrame(t).coalesce(1)
            df.createOrReplaceTempView(name)

    # -- orchestrator helpers (src/core/orchestrator.js) --------------------
    @staticmethod
    def split_range(start: int, end: int, parts: int) -> list[tuple[int, int]]:
        """splitRange (orchestrator.js:78-92): contiguous parts covering
        [start, end], sizes differing by ≤1, remainder on the first
        parts. Pure driver-side function (the distributed twin is the
        `range_split` operator)."""
        total = end - start + 1
        parts = max(1, min(parts, total))
        base, rem = divmod(total, parts)
        out, cur = [], start
        for i in range(parts):
            size = base + (1 if i < rem else 0)
            out.append((cur, cur + size - 1))
            cur += size
        return out

    # -- ClickHouse SQL dialect shim ----------------------------------------
    @staticmethod
    def ch_sql(sql: str) -> str:
        """Translate the ClickHouse SQL dialect the reference actually
        writes (clickhouse_queries.js / orchestrator.js / monitor) into
        Spark SQL, so a user can paste their query strings verbatim:

        - ``FROM t FINAL`` → ``FROM t`` (FINAL-at-read is built into
          every view this engine serves — the merge IS the read path)
        - ``count()`` → ``count(*)``
        - ``CAST(x AS UInt8/16/32/64 | Int64)`` / ``toUInt*/toInt64``
          → BIGINT casts
        - ``NOW()`` → ``current_timestamp()``
        - ``intDiv(a, b)`` → ``(a div b)``
        - ``argMax(a, b)`` / ``argMin`` → ``max_by`` / ``min_by``
        - ``uniqExact(x)`` → ``count(DISTINCT x)``;
          ``uniq(x)`` → ``approx_count_distinct(x)``
        - ``toStartOfDay(x)`` → ``date_trunc('DAY', x)``;
          ``toDate(x)`` → ``CAST(x AS DATE)``
        - ``expr::Int64/UInt64/bigint/int`` postfix casts (CH supports
          the PG-style ``::`` cast too) → ``CAST(expr AS BIGINT)``
        - ``SELECT generate_series(a, b) AS x`` with integer literal
          bounds and no FROM (followed by ``)`` or the end of the
          statement: the monitor's gap probe CTE) → ``SELECT id AS x
          FROM range(a, b + 1, 1, 1)``, one sorted partition that the
          probe's anti-join merges against with no Exchange. ``x`` is
          BIGINT (``range``'s ``id``, the type of ``blocks.height``);
          PostgreSQL and the ``explode`` form below type an int series
          INT
        - any other ``generate_series(a, b)`` with parenthesis-free
          arguments (the ``FROM generate_series(a, b) g(h)`` form,
          expression or non-integer bounds) → ``explode(IF(b >= a,
          sequence(a, b), NULL))``; both give no rows when b < a, as in
          PostgreSQL
        - ``EXTRACT(EPOCH FROM (a - b))`` → unix_timestamp difference
          (the monitor's stuck/stale age arithmetic)
        - ``countIf(cond)`` → ``count_if(cond)``

        Round-8 breadth (the GROUP BY modifier / combinator families
        the CH-style OLAP surface serves — #83 rollup_totals, #84
        sum_map_daily):

        - ``GROUP BY k... WITH TOTALS`` → ``GROUP BY GROUPING SETS
          ((k...), ())`` — the grand-total extra row; rolled-up keys
          arrive as NULL (Spark grouping-sets idiom) where CH emits
          type defaults, disambiguate with ``grouping()`` either way
        - ``GROUP BY ... WITH ROLLUP / WITH CUBE`` pass through (Spark
          parses the CH postfix spelling natively — parity-tested)
        - ``sumMap(m)`` / ``minMap(m)`` / ``maxMap(m)`` over a
          ``Map(String, Int64)`` column (the attrs-map shape this
          engine serves) → a ``collect_list`` fold merged per key with
          ``map_zip_with`` — same union-of-keys semantics as CH
        - ``sumIf/avgIf/minIf/maxIf(x, cond)`` → ``agg(IF(cond, x,
          NULL))`` (countIf above predates this family)
        - ``quantile(q)(x)`` → ``percentile_approx(x, q)``;
          ``quantileExact(q)(x)`` → ``percentile(x, q)`` — the
          parameterized-aggregate syntax class
        - ``toStartOfMinute/Hour/Week/Month(x)`` → ``date_trunc`` of
          the matching unit (extends the toStartOfDay rewrite)

        Pure text translation for the constructs the reference uses —
        not a full CH parser; combinator arguments support one nested
        paren level (matching the intDiv/argMax patterns); anything it
        does not recognize passes through to Spark SQL untouched.
        tests/test_ch_dialect_parity.py extracts EVERY SELECT template
        literal actually present in the reference tree and runs it
        through this shim, so dialect drift in a future reference
        version fails a test instead of a user."""
        out = re.sub(r"\bFINAL\b", "", sql)
        # a FROM-less select of one literal series (the gap probe's
        # CTE) is a one-slice range: sorted and SinglePartition, so a
        # merge join against a single-partition view needs no Exchange
        # and the ORDER BY above it no Sort; range(a, b + 1) is empty
        # when b < a
        out = re.sub(
            r"\bSELECT\s+generate_series\(\s*(-?\d+)\s*,\s*(-?\d+)\s*\)"
            r"\s+AS\s+(\w+)(?=\s*(?:\)|;?\s*$))",
            lambda m: f"SELECT id AS {m.group(3)} FROM range("
                      f"{m.group(1)}, {int(m.group(2)) + 1}, 1, 1)",
            out, flags=re.IGNORECASE)
        # every other generate_series, before the ::cast rewrite so its
        # args are still parenthesis-free when this pattern sees them.
        # sequence counts DOWN when b < a; PostgreSQL yields no rows
        # there, and explode of a NULL array yields none either
        def _series(m):
            args = [a.strip() for a in m.group(1).split(",")]
            seq = f"sequence({', '.join(args)})"
            if len(args) == 2:
                seq = f"IF(({args[1]}) >= ({args[0]}), {seq}, NULL)"
            return f"explode({seq})"

        out = re.sub(r"\bgenerate_series\(([^()]+)\)", _series, out)
        out = re.sub(
            r"(\w+\(\*\)|\$?\w+)::(?:Int|UInt)?(?:int|bigint|8|16|32|64)\b",
            r"CAST(\1 AS BIGINT)", out, flags=re.IGNORECASE,
        )
        out = re.sub(
            r"EXTRACT\(\s*EPOCH\s+FROM\s+\(\s*(NOW\(\)|\w+)\s*-\s*(NOW\(\)|\w+)\s*\)\s*\)",
            r"(unix_timestamp(\1) - unix_timestamp(\2))",
            out, flags=re.IGNORECASE,
        )
        out = re.sub(r"\bcountIf\(", "count_if(", out)
        out = re.sub(r"\bcount\(\s*\)", "count(*)", out,
                     flags=re.IGNORECASE)
        # rewrite the TYPE token rather than the whole CAST(...) — the
        # cast operand may itself contain parens (a scalar subquery,
        # orchestrator.js's last_idx resolution)
        out = re.sub(
            r"\bAS\s+(?:U?Int)(?:8|16|32|64)\b",
            "AS BIGINT", out, flags=re.IGNORECASE,
        )
        out = re.sub(r"\bto(?:UInt|Int)(?:8|16|32|64)\(([^()]+)\)",
                     r"CAST(\1 AS BIGINT)", out)
        out = re.sub(r"\bNOW\(\)", "current_timestamp()", out,
                     flags=re.IGNORECASE)
        out = re.sub(r"\bintDiv\(([^(),]+),\s*([^()]+)\)",
                     r"(\1 div \2)", out)
        out = re.sub(r"\bargMax\(([^(),]+),\s*([^()]+)\)",
                     r"max_by(\1, \2)", out)
        out = re.sub(r"\bargMin\(([^(),]+),\s*([^()]+)\)",
                     r"min_by(\1, \2)", out)
        out = re.sub(r"\buniqExact\(([^()]+)\)",
                     r"count(DISTINCT \1)", out)
        out = re.sub(r"\buniq\(([^()]+)\)",
                     r"approx_count_distinct(\1)", out)
        out = re.sub(r"\btoStartOfDay\(([^()]+)\)",
                     r"date_trunc('DAY', \1)", out)
        # toStartOfWeek defaults to mode 0 = SUNDAY-start weeks in
        # ClickHouse, while Spark's date_trunc('WEEK', x) is Monday-
        # start — shift by a day on both sides so the bucket boundary
        # lands on Sunday (and the result is a DATE, as in CH).
        out = re.sub(
            r"\btoStartOfWeek\(([^()]+)\)",
            r"date_sub(date_trunc('WEEK', date_add(\1, 1)), 1)",
            out,
        )
        out = re.sub(
            r"\btoStartOf(Minute|Hour|Month)\(([^()]+)\)",
            lambda m: f"date_trunc('{m.group(1).upper()}', {m.group(2)})",
            out,
        )
        out = re.sub(r"\btoDate\(([^()]+)\)", r"CAST(\1 AS DATE)", out)
        # GROUP BY modifiers: WITH TOTALS is the one Spark lacks as a
        # postfix — the equivalent is the explicit grouping-sets pair
        # (all keys, grand total); WITH ROLLUP / WITH CUBE parse as-is.
        # the tempered dot — (?!GROUP\s+BY). — forbids a nested GROUP
        # BY inside the captured key list, so the rewrite anchors on
        # the LAST GROUP BY before WITH TOTALS and a subquery's own
        # grouping can never be folded into the grouping-sets keys
        out = re.sub(
            r"GROUP\s+BY\s+((?:(?!GROUP\s+BY).)*?)\s+WITH\s+TOTALS",
            r"GROUP BY GROUPING SETS ((\1), ())",
            out, flags=re.IGNORECASE | re.S,
        )
        # -Map combinators over Map(String, Int64) columns: merge the
        # group's maps per key. map_zip_with unions key sets; the
        # coalesce pair makes a key missing on either side behave as
        # CH does (sum treats it as 0, min/max take the present value).
        _arg = r"([^(),]*(?:\([^()]*\)[^(),]*)*)"
        _fold = (
            "aggregate(collect_list({m}), "
            "cast(map() as map<string,bigint>), "
            "(acc, x) -> map_zip_with(acc, x, (k, a, b) -> {merge}))"
        )
        out = re.sub(
            r"\bsumMap\(" + _arg + r"\)",
            lambda m: _fold.format(
                m=m.group(1), merge="coalesce(a, 0L) + coalesce(b, 0L)"
            ),
            out,
        )
        out = re.sub(
            r"\bminMap\(" + _arg + r"\)",
            lambda m: _fold.format(
                m=m.group(1), merge="least(coalesce(a, b), coalesce(b, a))"
            ),
            out,
        )
        out = re.sub(
            r"\bmaxMap\(" + _arg + r"\)",
            lambda m: _fold.format(
                m=m.group(1), merge="greatest(coalesce(a, b), coalesce(b, a))"
            ),
            out,
        )
        # -If combinator family (countIf handled above: Spark has a
        # native count_if; the rest become agg over a NULL-masked arg).
        # sumIf over a group where NO row satisfies the condition is 0
        # in ClickHouse (the type default) but sum(NULL...) = NULL in
        # Spark — coalesce restores the CH default. avgIf/minIf/maxIf
        # keep the NULL (CH would return nan/0/0 there; like the WITH
        # TOTALS caveat above, that empty-set corner is documented as
        # a dialect difference rather than faked with a sentinel that
        # would corrupt real aggregates).
        out = re.sub(
            r"\bsumIf\(" + _arg + r",\s*" + _arg + r"\)",
            r"coalesce(sum(IF(\2, \1, NULL)), 0)", out,
        )
        out = re.sub(
            r"\b(avg|min|max)If\(" + _arg + r",\s*" + _arg + r"\)",
            r"\1(IF(\3, \2, NULL))", out,
        )
        # parameterized aggregates: quantileExact BEFORE quantile (the
        # latter's pattern is a prefix of the former's)
        out = re.sub(
            r"\bquantileExact\(([^()]+)\)\(([^()]+)\)",
            r"percentile(\2, \1)", out,
        )
        out = re.sub(
            r"\bquantile\(([^()]+)\)\(([^()]+)\)",
            r"percentile_approx(\2, \1)", out,
        )
        return out

    def ch_query(self, sql: str) -> DataFrame:
        """Run a ClickHouse-dialect query string verbatim: translate
        with :meth:`ch_sql`, then execute over the FINAL views like
        :meth:`query`. The switch-engines path for a reference user's
        existing query text."""
        return self.query(self.ch_sql(sql))

    # -- PostgreSQL dialect shim (the monitor scripts) ----------------------
    # the table surface test_connection.js:29-40 probes for
    _PG_EXPECTED_TABLES = (
        "blocks", "failed_blocks", "index_state", "transactions_raw",
        "work_queue",
    )

    @staticmethod
    def pg_bind(sql: str, params=None) -> str:
        """node-pg positional binding: replace ``$1..$N`` with SQL
        literals the way the monitor's ``targetDB.query(sql, [..])``
        call sites do (scripts/monitor_indexer.js:104 binds the gap
        probe's ``Math.min(maxHeight, 10000)``). A datetime keeps its
        microseconds; an aware one binds as its instant, its UTC offset
        in the literal, and a naive one is read in the session time
        zone, as Spark reads any offset-free timestamp literal."""
        if not params:
            return sql
        out = sql
        for i in range(len(params), 0, -1):  # $10 before $1
            v = params[i - 1]
            if v is None:
                lit = "NULL"
            elif isinstance(v, bool):
                lit = "TRUE" if v else "FALSE"
            elif isinstance(v, (int, float)):
                lit = repr(v)
            elif isinstance(v, datetime):
                lit = f"TIMESTAMP '{v.isoformat(sep=' ')}'"
            else:
                lit = "'" + str(v).replace("'", "''") + "'"
            out = out.replace(f"${i}", lit)
        return out

    @classmethod
    def pg_sql(cls, sql: str, params=None) -> str:
        """Translate the PostgreSQL-dialect strings of the reference's
        monitor scripts (scripts/monitor_indexer.js:24-230,
        scripts/test_connection.js:22-58) to Spark SQL. The CH shim
        already covers the shared constructs (``NOW()``, ``::`` casts,
        ``generate_series`` → a ``range`` or ``explode(sequence())``,
        ``EXTRACT(EPOCH FROM (a - b))`` → unix_timestamp difference);
        PG adds positional ``$N`` parameters (bound like node-pg) and
        the ``information_schema.tables`` catalog probe (served by the
        view :meth:`pg_query` registers). ``INTERVAL 'n unit'``
        literals and scalar subqueries parse natively in Spark."""
        out = cls.pg_bind(sql, params)
        out = re.sub(r"\binformation_schema\.tables\b",
                     "information_schema_tables", out,
                     flags=re.IGNORECASE)
        return cls.ch_sql(out)

    def pg_query(self, sql: str, params=None) -> DataFrame:
        """Run one of the monitor scripts' PG-dialect queries VERBATIM
        — the switch-engines path for the reference's operational
        tooling, mirroring ``targetDB.query(sql, params)``
        (scripts/monitor_indexer.js:24, scripts/test_connection.js:22).

        Registers the tables the statement names from the monitor's
        table surface: the merged queue/state views, raw ``blocks`` /
        ``transactions_raw`` (empty-with-schema before anything is
        indexed — the scripts' own "indexer may not have started yet"
        branch), a monitor-compat ``failed_blocks`` projection carrying
        the reference DDL's column names (init_clickhouse.js:95-111:
        ``height``/``retry_count``/``max_retries``/``status`` on top
        of the engine's narrower log schema), and the
        ``information_schema_tables`` view behind test_connection.js's
        structure probe."""
        sql = self.pg_sql(sql, params)
        self._register_views(sql, monitor=True)
        return self.spark.sql(sql)

    # -- client-level resilience (src/database/db.js) -----------------------
    # per-class linear backoff seconds (db.js:48-55: connection errors
    # back off 2s*attempt, timeouts 1s*attempt)
    TRANSIENT_BACKOFF = {"connection": 2.0, "timeout": 1.0}

    @staticmethod
    def _classify_transient(err: Exception) -> str | None:
        """db.js's transient-error taxonomy: connection-level failures
        (ECONNREFUSED / ENOTFOUND — here: refused/unreachable storage)
        and timeouts retry; everything else is a real error."""
        msg = str(err)
        if any(
            s in msg
            for s in (
                "ECONNREFUSED",
                "ENOTFOUND",
                "Connection refused",
                "UnknownHost",
            )
        ):
            return "connection"
        if "timeout" in msg.lower() or "timed out" in msg.lower():
            return "timeout"
        return None

    def run_with_retry(self, fn, retries: int = 3, sleeper=time.sleep):
        """The runClickHouseQuery / insertClickHouse retry policy
        (db.js:31-98): call ``fn`` (any thunk — a query action, an
        insert); on a TRANSIENT error (connection refused / timeout)
        back off linearly per class and retry up to ``retries``
        attempts, re-raising the last transient error on exhaustion;
        any non-transient error re-raises immediately, exactly like
        db.js's ``else throw err``. ``sleeper`` is injectable so tests
        assert the backoff schedule without sleeping."""
        last: Exception | None = None
        for attempt in range(1, retries + 1):
            try:
                return fn()
            except Exception as err:  # noqa: BLE001 — classify below
                cls = self._classify_transient(err)
                if cls is None:
                    raise
                last = err
                if attempt < retries:
                    sleeper(self.TRANSIENT_BACKOFF[cls] * attempt)
        assert last is not None
        raise last

    def test_connection(self, index_name: str = "orchestrator") -> dict:
        """testClickHouseConnection (db.js:99-113) + the health walk of
        scripts/test_connection.js:22-58: engine version, which of the
        expected tables exist under base_path, and the named index
        state's last height + staleness seconds (None when the indexer
        has not started — the script's '⚠️ no index state' branch).
        Returns a plain dict; an operational point-read like the
        reference's console check, not a registered analytics query."""
        expected = ("blocks", "work_queue", "failed_blocks", "index_state")
        tables = [t for t in expected if os.path.isdir(self._path(t))]
        out: dict = {
            "version": self.spark.version,
            "tables": tables,
            "last_processed_height": None,
            "state_age_s": None,
        }
        state = self._final_row("index_state", index_name)
        if state:
            out["last_processed_height"] = state["last_processed_height"]
            updated = state["updated_at"]
            if updated is not None:
                out["state_age_s"] = max(
                    0.0, round(time.time() - updated.timestamp(), 3)
                )
        return out

    # camelCase aliases — the reference's exact export names
    getLastIndexedHeight = get_last_indexed_height
    updateLastIndexedHeight = update_last_indexed_height
    getMaxBlockHeight = get_max_block_height
    countWorkQueue = count_work_queue
    getPendingWork = get_pending_work
    updateWorkQueueStatus = update_work_queue_status
    deleteWorkQueueItem = delete_work_queue_item
    insertWorkQueue = insert_work_queue
    getOverlappingRanges = get_overlapping_ranges
    addFailedBlock = add_failed_block
    removeFailedBlock = remove_failed_block
    splitRange = split_range
    runClickHouseQuery = run_with_retry
    testClickHouseConnection = test_connection
