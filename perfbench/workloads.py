"""The workloads: inputs from the seed, store seeding, one op, and
the check of every op's output against the seed's answers.

Each op drives the program through its public functions only:
``IndexerAPI``, ``fetch_block_results``, ``parse_block_results``,
``registry_decoded_df_native``, ``write_height_partitioned`` and the
``functions/protobuf.py`` encoders. Queue ranges are the program's
``ASSIGN_RANGE`` blocks long, the range the orchestrator hands a worker.
"""

from __future__ import annotations

import os
import time
from dataclasses import dataclass, field

import numpy as np
import pyarrow as pa
import pyarrow.compute as pc
import pyarrow.dataset as pads
import pyarrow.parquet as pq
from pyspark.sql import functions as F

from perfbench import chainstore, gen
from perfbench.tracing import Tracer
from zigchain_indexer_clickhouse_spark.api import IndexerAPI
from zigchain_indexer_clickhouse_spark.functions import protobuf as pb
from zigchain_indexer_clickhouse_spark.operators.orchestration import (
    ASSIGN_RANGE,
)
from zigchain_indexer_clickhouse_spark.sources.partitioned_write import (
    write_height_partitioned,
)
from zigchain_indexer_clickhouse_spark.sources.rpc_fetch import (
    fetch_block_results,
)
from zigchain_indexer_clickhouse_spark.sources.rpc_json import (
    parse_block_results,
)
from zigchain_indexer_clickhouse_spark.sources.tx_decode import (
    registry_decoded_df_native,
)

INDEX = "decoded_indexer"
LOG_TABLES = ("work_queue", "failed_blocks", "index_state")
# each log's Spark schema and key, for IndexerAPI.compact
LOG_KEYS = {"work_queue": (gen.QUEUE_DDL, ["id"]),
            "failed_blocks": (gen.FAILED_DDL, ["block_height"]),
            "index_state": (gen.STATE_DDL, ["index_name"])}


@dataclass
class Run:
    """State of one run: session, store directory, inputs, tracer, and
    the per-layer counters the traced run reports."""

    spark: object
    store: str              # store directory of the last setup
    api: IndexerAPI
    tracer: Tracer
    inputs: dict
    counts: dict = field(default_factory=dict)

    def count(self, key: str, n: float) -> None:
        if self.tracer.enabled:
            self.counts[key] = self.counts.get(key, 0) + n


# -- shared seeding and ingest -------------------------------------------------

def _write_log(store: str, table: str, appends: list[list[tuple]],
               to_table, now: float) -> None:
    d = os.path.join(store, table)
    os.makedirs(d, exist_ok=True)
    for k, rows in enumerate(appends):
        pq.write_table(to_table(rows, now),
                       os.path.join(d, f"part-{k:05d}-seed.parquet"))


def land_blocks(root: str, st: gen.Store) -> str:
    """Write the store's existing blocks as a landing file (input)."""
    path = os.path.join(root, "blocks_landing.parquet")
    pq.write_table(gen.blocks_table(st.block_heights, st.block_ages,
                                    time.time()), path)
    return path


def seed_store(spark, store: str, inputs: dict) -> None:
    """Set-up: the state logs as pyarrow files in the store's log
    format, and the existing blocks through ``IndexerAPI.insert``."""
    st, now = inputs["store"], time.time()
    for table, appends, conv in (("work_queue", st.queue, gen.queue_table),
                                 ("failed_blocks", st.failed, gen.failed_table),
                                 ("index_state", st.state, gen.state_table)):
        if appends:
            _write_log(store, table, appends, conv, now)
    IndexerAPI(spark, store).insert(
        "blocks", spark.read.parquet(inputs["blocks_landing"]))


def encode_txs(spark, chain: gen.Chain, pool_path: str, out_path: str) -> None:
    """Encode the message pool (Any-wrapped) with the program's protobuf
    encoders, then land each tx's message as ``(height, tx_index,
    blob_hex)``. Input preparation: runs once per run, before the timed
    setups (analysing the encoder expressions takes seconds)."""
    p = spark.read.parquet(pool_path)
    a, b, c = F.col("addr_a"), F.col("addr_b"), F.col("addr_c")
    denom, amount = F.lit(gen.DENOM), F.col("amount")
    bodies = {
        "send": pb.encode_msg_send(a, b, denom, amount),
        "redelegate": pb.encode_msg_redelegate(a, b, c, denom, amount),
        "vote": pb.encode_msg_vote(F.col("pid"), a, F.col("option")),
        "withdraw": pb.encode_msg_withdraw_reward(a, b),
    }
    body = url = None
    for kind, (u, _) in gen.MSG_KINDS.items():
        cond = F.col("kind") == kind
        body = (F.when(cond, bodies[kind]) if body is None
                else body.when(cond, bodies[kind]))
        url = F.when(cond, F.lit(u)) if url is None else url.when(cond, F.lit(u))
    encoded = dict(p.select("msg", F.hex(pb.encode_any_msg(url, body)))
                   .collect())
    blobs = pa.array([encoded[m] for m in range(gen.MSG_POOL)])
    pq.write_table(pa.table({
        "height": pa.array(chain.tx_height, pa.int64()),
        "tx_index": pa.array(chain.tx_index(), pa.int32()),
        "blob_hex": blobs.take(pa.array(chain.tx_msg)),
    }), out_path)


def ingest(run: Run, lo: int, hi: int) -> None:
    """Index heights [lo, hi]: fetch, parse, decode, write."""
    spark, api, tr = run.spark, run.api, run.tracer
    heights = spark.range(lo, hi + 1, 1,
                          spark.sparkContext.defaultParallelism) \
        .toDF("height")
    with tr.span("rpc_fetch"):
        raw = tr.materialise(
            fetch_block_results(heights, run.inputs["transport"]))
    with tr.span("rpc_json"):
        flat = tr.materialise(parse_block_results(raw))
    with tr.span("write"):
        write_height_partitioned(
            flat, os.path.join(run.store, "tx_event_attrs", f"r{lo}"),
            "height")
    with tr.span("tx_decode"):
        txs = spark.read.parquet(run.inputs["txs_path"]).where(
            F.col("height").between(lo, hi))
        msgs = tr.materialise(registry_decoded_df_native(txs))
    with tr.span("write"):
        api.insert("tx_msgs", msgs.withColumn("range_lo", F.lit(lo)))
        api.insert("blocks", heights.withColumn(
            "created_at", F.current_timestamp()))
    if tr.enabled:
        for t in (raw, flat, msgs):
            t.unpersist()
    e = run.inputs["chain"].expect(lo, hi)
    run.count("rpc_fetch.docs", e["blocks"])
    run.count("rpc_fetch.doc_bytes", e["doc_bytes"])
    run.count("rpc_json.rows", e["attr_rows"])
    run.count("tx_decode.msgs", e["msgs"])
    run.count("write.rows", e["attr_rows"] + e["msgs"] + e["blocks"])


def state_call(run: Run, layer: str, fn, *args) -> None:
    """One state-log append."""
    with run.tracer.span(layer):
        fn(*args)
    run.count("api.appends", 1)


def compact_logs(run: Run) -> None:
    """Compact every state log, as an ``IndexerAPI`` that has reached
    ``AUTO_COMPACT_EVERY`` appends on it would."""
    with run.tracer.span("api.compact"):
        for table in LOG_TABLES:
            run.api.compact(table, *LOG_KEYS[table])
    run.count("api.compactions", len(LOG_TABLES))


def _check_ingest(run: Run, lo: int, hi: int) -> list[str]:
    """Rows per table and the set of heights the op wrote, read back
    with pyarrow, against the seed's answers."""
    e = run.inputs["chain"].expect(lo, hi)
    bad = []
    attrs = pads.dataset(os.path.join(run.store, "tx_event_attrs", f"r{lo}"),
                         format="parquet", partitioning="hive") \
        .to_table(columns=["height"])
    hs = np.unique(attrs["height"].to_numpy())
    if attrs.num_rows != e["attr_rows"] or hs.tolist() != e["attr_heights"]:
        bad.append(f"tx_event_attrs r{lo}: {attrs.num_rows} rows")
    t = run.inputs["msgs"]
    msgs = t.filter(pc.equal(t["range_lo"], lo))
    urls = msgs["type_url"].value_counts().to_pylist()
    got = {
        "msgs": msgs.num_rows,
        "msg_urls": {u["values"]: u["counts"] for u in urls},
        "msg_amt": pc.sum(msgs["amt"]).as_py() or 0,
        "msg_pid": pc.sum(msgs["pid"]).as_py() or 0,
        "msg_yes": pc.sum(msgs["yes"]).as_py() or 0,
    }
    all_ok = pc.all(pc.fill_null(pc.equal(msgs["status"], "ok"), False))
    if not all_ok.as_py() or any(got[k] != e[k] for k in got):
        bad.append(f"tx_msgs r{lo}: {got}")
    blocks = run.inputs["blocks_heights"]
    if blocks[(blocks >= lo) & (blocks <= hi)].tolist() != list(
            range(lo, hi + 1)):
        bad.append(f"blocks r{lo}")
    return bad


def read_back(run: Run) -> None:
    """Load the written tx_msgs and blocks once, after the measured
    phase, for the per-op checks."""
    run.inputs["msgs"] = pads.dataset(os.path.join(run.store, "tx_msgs"),
                                      format="parquet").to_table()
    run.inputs["blocks_heights"] = np.sort(
        pads.dataset(os.path.join(run.store, "blocks"), format="parquet")
        .to_table(columns=["height"])["height"].to_numpy())


def read_log(store: str, table: str, cols: tuple, key: int) -> dict:
    t = pads.dataset(os.path.join(store, table), format="parquet").to_table()
    names = [c.replace("_age", "_at") for c in cols]
    rows = list(zip(*(t[c].to_pylist() for c in names)))
    return gen.final_state(rows, key, cols)


def _chain_inputs(run_root: str, chain: gen.Chain) -> dict:
    docs = os.path.join(run_root, "docs")
    chainstore.write_docs(docs, chain.first_height, chain.docs)
    chain.docs = []  # served from the file from here on
    pool = os.path.join(run_root, "msg_pool.parquet")
    pq.write_table(chain.pool, pool)
    return {"chain": chain, "transport": chainstore.DocTransport(docs),
            "pool_path": pool}


# -- backfill ------------------------------------------------------------------

class Backfill:
    """Each op is one worker tick over a large height range: claim the
    next pending range, index it (fetch, parse, decode, write), mark it
    completed and advance index_state; every ``failed_every``-th tick
    records a failed block that the next tick removes, and every
    ``compact_every``-th tick (the warm-up tick among them) compacts the
    state logs, so compactions land on the same ticks in every run."""

    name = "backfill"
    nominal_op_s = 5.0
    warmup_ops = 1
    blocks_per_op = ASSIGN_RANGE
    history = 200    # completed ranges (and their blocks) below the backfill
    first_height = history * ASSIGN_RANGE + 1
    tail = 20        # of which the last ones completed by uncompacted appends
    failed_every = 2
    compact_every = 3

    def inputs(self, seed: int, n_ops: int, root: str) -> dict:
        ranges = [(self.first_height + k * self.blocks_per_op,
                   self.first_height + (k + 1) * self.blocks_per_op - 1)
                  for k in range(n_ops)]
        chain = gen.make_chain(seed, ranges[0][0],
                               ranges[-1][1] - ranges[0][0] + 1)
        st = gen.worker_store(seed, ranges, self.history, self.tail)
        return {**_chain_inputs(root, chain), "ranges": ranges, "store": st,
                "blocks_landing": land_blocks(root, st)}

    def prepare(self, spark, root: str, inputs: dict) -> None:
        inputs["txs_path"] = os.path.join(root, "txs.parquet")
        encode_txs(spark, inputs["chain"], inputs["pool_path"],
                   inputs["txs_path"])

    seed = staticmethod(seed_store)

    def op(self, run: Run, i: int) -> dict:
        api = run.api
        with run.tracer.span("api.claim"):
            item = api.get_pending_work(1).collect()
        if not item:
            return {"i": i, "claimed": None}
        qid, lo, hi = item[0]["id"], item[0]["start_height"], item[0]["end_height"]
        ingest(run, lo, hi)
        state_call(run, "api.status_update", api.update_work_queue_status,
                   qid, "completed")
        state_call(run, "api.index_state", api.update_last_indexed_height,
                   INDEX, hi)
        if i % self.failed_every == 0:
            state_call(run, "api.failed_block", api.add_failed_block, lo,
                       "rpc_timeout", "block_results timed out", "w1")
        else:
            state_call(run, "api.failed_block", api.remove_failed_block,
                       run.inputs["ranges"][i - 1][0])
        if i % self.compact_every == 0:
            compact_logs(run)
        return {"i": i, "claimed": (qid, lo, hi)}

    def check(self, run: Run, results: list[dict]) -> list[list[str]]:
        """Per op: the claimed item and what it wrote. After the last op:
        queue status counts, index_state and failed_blocks."""
        read_back(run)
        out = []
        ranges = run.inputs["ranges"]
        for r in results:
            lo, hi = ranges[r["i"]]
            want = (self.history + 1 + r["i"], lo, hi)
            bad = [] if r["claimed"] == want else [f"claimed {r['claimed']}"]
            if not bad:
                bad += _check_ingest(run, lo, hi)
            out.append(bad)
        n = results[-1]["i"] + 1  # ticks run, warm-up included
        q = read_log(run.store, "work_queue", gen.QUEUE_COLS, 0)
        counts: dict[str, int] = {}
        for row in q.values():
            counts[row["status"]] = counts.get(row["status"], 0) + 1
        want = {"completed": self.history + n}
        if len(ranges) > n:
            want["pending"] = len(ranges) - n
        if counts != want:
            out[-1].append(f"queue status counts {counts} != {want}")
        st = read_log(run.store, "index_state", gen.STATE_COLS, 0)
        if st.get(INDEX, {}).get("last_processed_height") != ranges[n - 1][1]:
            out[-1].append(f"index_state {st.get(INDEX)}")
        fb = read_log(run.store, "failed_blocks", gen.FAILED_COLS, 0)
        want_fb = {ranges[n - 1][0]} if (n - 1) % self.failed_every == 0 \
            else set()
        if set(fb) != want_fb:
            out[-1].append(f"failed_blocks {sorted(fb)} != {sorted(want_fb)}")
        return out


# -- monitor -------------------------------------------------------------------

# The monitor's health walk, as the PostgreSQL-dialect strings the
# monitor script sends (scripts/monitor_indexer.js), run verbatim.
MONITOR_SQL = {
    "status_counts": (
        "SELECT status, COUNT(*) as count, MIN(start_height) as min_height, "
        "MAX(end_height) as max_height FROM work_queue GROUP BY status "
        "ORDER BY status"),
    "stuck": (
        "SELECT COUNT(*) as stuck_count, "
        "MIN(EXTRACT(EPOCH FROM (NOW() - updated_at))/60) as min_minutes, "
        "MAX(EXTRACT(EPOCH FROM (NOW() - updated_at))/60) as max_minutes "
        "FROM work_queue WHERE status = 'processing' "
        "AND updated_at < NOW() - INTERVAL '30 minutes'"),
    "duplicates": (
        "SELECT COUNT(*) as duplicate_ranges FROM ( "
        "SELECT start_height, end_height FROM work_queue "
        "WHERE status = 'pending' GROUP BY start_height, end_height "
        "HAVING COUNT(*) > 1 ) duplicates"),
    "looping": (
        "SELECT start_height, end_height, COUNT(*) as times_queued "
        "FROM work_queue WHERE created_at > NOW() - INTERVAL '1 hour' "
        "GROUP BY start_height, end_height HAVING COUNT(*) > 2"),
    "gaps": (
        "WITH height_series AS ( "
        "  SELECT generate_series(1, $1) AS expected_height "
        "), missing_blocks AS ( "
        "  SELECT hs.expected_height as missing_height "
        "  FROM height_series hs "
        "  LEFT JOIN blocks b ON hs.expected_height = b.height "
        "  WHERE b.height IS NULL "
        ") SELECT missing_height FROM missing_blocks "
        "ORDER BY missing_height"),
    "failed_breakdown": (
        "SELECT status, error_type, COUNT(*) as count, "
        "MIN(height) as min_height, MAX(height) as max_height "
        "FROM failed_blocks GROUP BY status, error_type "
        "ORDER BY status, error_type"),
}
MONITOR_QUERIES = ("status_counts", "pending_work", "overlapping", "stuck",
                   "duplicates", "looping", "gaps", "failed_breakdown",
                   "retry_schedule", "last_height", "max_height",
                   "test_connection")


class Monitor:
    """Each op is one dashboard refresh over a read-only store."""

    name = "monitor"
    nominal_op_s = 7.0
    warmup_ops = 2
    n_heights = 1_000_000
    range_size = ASSIGN_RANGE
    tail = 24

    def inputs(self, seed: int, n_ops: int, root: str) -> dict:
        st = gen.monitor_store(seed, self.n_heights, self.range_size,
                               self.tail)
        return {"store": st, "blocks_landing": land_blocks(root, st),
                "expect": self.expect(st)}

    def prepare(self, spark, root: str, inputs: dict) -> None:
        pass

    seed = staticmethod(seed_store)

    def expect(self, st: gen.Store) -> dict:
        q = gen.final_state([r for a in st.queue for r in a], 0,
                            gen.QUEUE_COLS)
        rows = list(q.values())
        counts: dict = {}
        for r in rows:
            c = counts.setdefault(r["status"], [0, None, None])
            c[0] += 1
            c[1] = r["start_height"] if c[1] is None else min(c[1], r["start_height"])
            c[2] = r["end_height"] if c[2] is None else max(c[2], r["end_height"])
        top = st.block_heights[-1]
        lo, hi = int(top) - 5000, int(top)
        pairs: dict = {}
        loops: dict = {}
        for r in rows:
            if r["status"] == "pending":
                k = (r["start_height"], r["end_height"])
                pairs[k] = pairs.get(k, 0) + 1
            if r["created_age"] < 3600:
                k = (r["start_height"], r["end_height"])
                loops[k] = loops.get(k, 0) + 1
        present = np.zeros(int(top) + 1, dtype=bool)
        present[st.block_heights] = True
        fb = gen.final_state([r for a in st.failed for r in a], 0,
                             gen.FAILED_COLS)
        breakdown: dict = {}
        for h, r in fb.items():
            k = ("failed" if r["attempts"] >= 5 else "pending", r["error_type"])
            c = breakdown.setdefault(k, [0, h, h])
            c[0] += 1
            c[1], c[2] = min(c[1], h), max(c[2], h)
        state = gen.final_state([r for a in st.state for r in a], 0,
                                gen.STATE_COLS)
        return {
            "status_counts": {k: tuple(v) for k, v in counts.items()},
            "pending_work": sorted(r["id"] for r in rows
                                   if r["status"] == "pending")[:10],
            "overlap_window": (lo, hi),
            "overlapping": sorted(
                r["id"] for r in rows
                if r["status"] in ("pending", "processing")
                and not (r["end_height"] < lo or hi < r["start_height"])),
            "stuck": sum(1 for r in rows if r["status"] == "processing"
                         and r["updated_age"] > 1800),
            "duplicates": sum(1 for v in pairs.values() if v > 1),
            "looping": sorted((s, e, n) for (s, e), n in loops.items()
                              if n > 2),
            "max_height": int(top),
            "gaps": np.flatnonzero(~present[1:]).astype(np.int64) + 1,
            "failed_breakdown": {k: tuple(v) for k, v in breakdown.items()},
            "retry_schedule": {h: min(600, 2 ** min(r["attempts"], 5) * 5)
                               for h, r in fb.items()},
            "last_height": state[INDEX]["last_processed_height"],
            "tables": ["blocks", "work_queue", "failed_blocks", "index_state"],
            "orchestrator": state["orchestrator"]["last_processed_height"],
        }

    def _pg(self, run: Run, name: str, params=None):
        api, tr = run.api, run.tracer
        sql = MONITOR_SQL[name]
        with tr.span(f"monitor.{name}"):
            if tr.enabled:
                with tr.span("api.translate"):
                    api.pg_sql(sql, params)
            with tr.span("api.build"):
                df = api.pg_query(sql, params)
            with tr.span("api.exec"):
                return df.collect()

    def _call(self, run: Run, name: str, build, collect=True):
        tr = run.tracer
        with tr.span(f"monitor.{name}"):
            if not collect:
                with tr.span("api.exec"):
                    return build()
            with tr.span("api.build"):
                df = build()
            with tr.span("api.exec"):
                return df.collect()

    def op(self, run: Run, i: int) -> dict:
        api = run.api
        e = run.inputs["expect"]
        lo, hi = e["overlap_window"]
        out = {
            "status_counts": self._pg(run, "status_counts"),
            "pending_work": self._call(
                run, "pending_work", lambda: api.get_pending_work(10)),
            "overlapping": self._call(
                run, "overlapping", lambda: api.get_overlapping_ranges(lo, hi)),
            "stuck": self._pg(run, "stuck"),
            "duplicates": self._pg(run, "duplicates"),
            "looping": self._pg(run, "looping"),
        }
        out["max_height"] = self._call(
            run, "max_height", api.get_max_block_height, collect=False)
        out["gaps"] = self._pg(run, "gaps", [out["max_height"]])
        out["failed_breakdown"] = self._pg(run, "failed_breakdown")
        out["retry_schedule"] = self._call(
            run, "retry_schedule", api.retry_schedule)
        out["last_height"] = self._call(
            run, "last_height", lambda: api.get_last_indexed_height(INDEX),
            collect=False)
        out["test_connection"] = self._call(
            run, "test_connection", api.test_connection, collect=False)
        return out

    def check(self, run: Run, results: list[dict]) -> list[list[str]]:
        e = run.inputs["expect"]
        return [self._check_one(e, r) for r in results]

    @staticmethod
    def _check_one(e: dict, r: dict) -> list[str]:
        got = {
            "status_counts": {x["status"]: (x["count"], x["min_height"],
                                            x["max_height"])
                              for x in r["status_counts"]},
            "pending_work": [x["id"] for x in r["pending_work"]],
            "overlapping": sorted(x["id"] for x in r["overlapping"]),
            "stuck": r["stuck"][0]["stuck_count"],
            "duplicates": r["duplicates"][0]["duplicate_ranges"],
            "looping": sorted((x["start_height"], x["end_height"],
                               x["times_queued"]) for x in r["looping"]),
            "max_height": r["max_height"],
            "failed_breakdown": {(x["status"], x["error_type"]):
                                 (x["count"], x["min_height"], x["max_height"])
                                 for x in r["failed_breakdown"]},
            "retry_schedule": {x["block_height"]: x["retry_in_s"]
                               for x in r["retry_schedule"]},
            "last_height": r["last_height"],
        }
        bad = [k for k, v in got.items() if v != e[k]]
        gaps = np.array([x["missing_height"] for x in r["gaps"]], np.int64)
        if not np.array_equal(gaps, e["gaps"]):
            bad.append("gaps")
        tc = r["test_connection"]
        if (tc["tables"] != e["tables"]
                or tc["last_processed_height"] != e["orchestrator"]):
            bad.append("test_connection")
        return bad


WORKLOADS = {w.name: w for w in (Backfill(), Monitor())}
