"""The state logs' driver-side FINAL (``IndexerAPI._final_arrow``):
appends, tombstones and compactions against a dict model, logs left
behind by the earlier Spark compaction, and the cost at 100k rows.
Every path here is pyarrow only; no Spark session is started."""

from __future__ import annotations

import tempfile
import time
from datetime import datetime, timezone

import numpy as np
import pyarrow as pa
import pyarrow.parquet as pq
import pytest
from hypothesis import given, settings
from hypothesis import strategies as st

import zigchain_indexer_clickhouse_spark.api as api_mod
from zigchain_indexer_clickhouse_spark.api import _LOGS, IndexerAPI

_IDS = st.integers(0, 5)
_OPS = st.lists(st.one_of(
    st.tuples(st.just("insert"), _IDS),
    st.tuples(st.just("status"), _IDS,
              st.sampled_from(["processing", "completed", "failed"])),
    st.tuples(st.just("delete"), _IDS),
    st.tuples(st.just("fail"), _IDS),
    st.tuples(st.just("unfail"), _IDS),
    st.tuples(st.just("compact")),
    st.tuples(st.just("restart")),
), max_size=25)


@settings(max_examples=25, deadline=None)
@given(_OPS)
def test_arrow_final_matches_dict_model(ops):
    """After every step, the FINAL of work_queue and failed_blocks is
    the model's state: a re-insert or update replaces the row, a
    tombstone removes it, a failed-block add bumps attempts, and
    compaction (explicit, or every 4th append), a process restart and
    a missing key change nothing."""
    with tempfile.TemporaryDirectory() as d, pytest.MonkeyPatch.context() as mp:
        mp.setattr(api_mod, "AUTO_COMPACT_EVERY", 4)
        api = IndexerAPI(None, d)
        queue: dict[int, tuple] = {}
        failed: dict[int, int] = {}
        for op, *args in ops:
            if op == "insert":
                (i,) = args
                api.insert_work_queue(
                    [{"id": i, "start_height": 10 * i, "end_height": 10 * i + 9}])
                queue[i] = (10 * i, "pending")
            elif op == "status":
                i, status = args
                if i in queue:
                    api.update_work_queue_status(i, status)
                    queue[i] = (queue[i][0], status)
                else:
                    with pytest.raises(KeyError):
                        api.update_work_queue_status(i, status)
            elif op == "delete":
                api.delete_work_queue_item(args[0])
                queue.pop(args[0], None)
            elif op == "fail":
                api.add_failed_block(args[0], "rpc", "timeout")
                failed[args[0]] = failed.get(args[0], 0) + 1
            elif op == "unfail":
                api.remove_failed_block(args[0])
                failed.pop(args[0], None)
            elif op == "compact":
                for table in _LOGS:
                    api.compact(table)
            else:
                api = IndexerAPI(None, d)
            got = {r["id"]: (r["start_height"], r["status"])
                   for r in api._final_arrow("work_queue").to_pylist()}
            assert got == queue
            assert {r["block_height"]: r["attempts"] for r in
                    api._final_arrow("failed_blocks").to_pylist()} == failed
            assert api.count_work_queue("pending") == sum(
                1 for _, s in queue.values() if s == "pending")


def test_spark_written_log_reads_the_same(tmp_path, monkeypatch):
    """A log compacted by the earlier Spark writer — INT96 timestamps,
    an int32 ``_version`` (``F.lit`` of a small int), ``_SUCCESS`` and
    ``.crc`` side files — reads with the same rows and instants, in a
    non-UTC process time zone; new versions land above its high-water
    mark and a compaction rewrites it in the log's own types."""
    monkeypatch.setenv("TZ", "IST-5:30")  # UTC+05:30, no tzdata needed
    time.tzset()
    try:
        created = datetime(2024, 3, 1, 12, 0, 0, 123456, tzinfo=timezone.utc)
        updated = datetime(2024, 3, 1, 12, 5, 0, 654321, tzinfo=timezone.utc)
        ts = pa.timestamp("us", tz="UTC")
        d = tmp_path / "work_queue"
        d.mkdir()
        name = "part-00000-5b2cccef-96d8-4b73-a454-50c20393f41e-c000.snappy.parquet"
        pq.write_table(pa.table({
            "id": pa.array([1, 2], pa.int64()),
            "start_height": pa.array([1, 11], pa.int64()),
            "end_height": pa.array([10, 20], pa.int64()),
            "status": pa.array(["done", "pending"]),
            "error_message": pa.array([None, None], pa.string()),
            "created_at": pa.array([created, created], ts),
            "updated_at": pa.array([updated, created], ts),
            "_version": pa.array([7, 7], pa.int32()),
            "_deleted": pa.array([False, False]),
        }), d / name, use_deprecated_int96_timestamps=True)
        for side in ("_SUCCESS", "._SUCCESS.crc", f".{name}.crc"):
            (d / side).write_bytes(b"")
        physical = {c.name: c.physical_type
                    for c in pq.ParquetFile(d / name).schema}
        assert physical["created_at"] == "INT96"
        assert physical["_version"] == "INT32"

        api = IndexerAPI(None, str(tmp_path))
        rows = api._final_arrow("work_queue").to_pylist()
        assert [(r["id"], r["status"], r["created_at"], r["updated_at"])
                for r in rows] == [(1, "done", created, updated),
                                   (2, "pending", created, created)]
        assert api._final_arrow("work_queue").schema == pa.schema(
            [f for f in _LOGS["work_queue"][0] if not f.name.startswith("_")])

        api.update_work_queue_status(2, "processing")
        log = api._log("work_queue")
        assert log["_version"].type == pa.int64()
        assert sorted(log["_version"].to_pylist()) == [7, 7, 8]
        api.compact("work_queue")
        rows = api._final_arrow("work_queue").to_pylist()
        assert [(r["id"], r["status"], r["created_at"]) for r in rows] == \
            [(1, "done", created), (2, "processing", created)]
        (left,) = d.glob("*.parquet")
        assert pq.read_schema(left).field("_version").type == pa.int64()
    finally:
        monkeypatch.undo()
        time.tzset()


def test_final_of_100k_row_log_is_fast(tmp_path):
    """FINAL of a 100k-row work_queue log in 10 files (each a later
    version of 10k of 20k ids, the last one tombstoning some) is the
    latest row per id and takes well under a second."""
    schema = _LOGS["work_queue"][0]
    rng = np.random.default_rng(0)
    n_ids, per_file, files = 20_000, 10_000, 10
    latest: dict[int, tuple[int, bool]] = {}
    d = tmp_path / "work_queue"
    d.mkdir()
    for k in range(files):
        ids = rng.permutation(n_ids)[:per_file].astype(np.int64)
        deleted = (ids % 7 == 0) & (k == files - 1)
        for i, dead in zip(ids.tolist(), deleted.tolist()):
            latest[i] = (k, dead)
        now = np.full(per_file, 1_700_000_000_000_000 + k, np.int64)
        pq.write_table(pa.table({
            "id": ids, "start_height": ids * 10, "end_height": ids * 10 + 9,
            "status": pa.array([f"v{k}"] * per_file),
            "error_message": pa.nulls(per_file, pa.string()),
            "created_at": pa.array(now, schema.field("created_at").type),
            "updated_at": pa.array(now, schema.field("updated_at").type),
            "_version": np.full(per_file, k + 1, np.int64),
            "_deleted": pa.array(deleted),
        }, schema=schema), d / f"part-{k:05d}.parquet")
    api = IndexerAPI(None, str(tmp_path))

    t0 = time.perf_counter()
    final = api._final_arrow("work_queue")
    wall = time.perf_counter() - t0

    want = {i: f"v{k}" for i, (k, dead) in latest.items() if not dead}
    assert dict(zip(final["id"].to_pylist(), final["status"].to_pylist())) \
        == want
    assert final.num_rows == len(want)
    assert wall < 1.0, wall
