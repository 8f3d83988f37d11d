"""Seed -> benchmark inputs and the answers the program must give.

Everything here is plain Python/numpy/pyarrow: the expectations are
computed from the seed alone, never by the program under test. Times
are generated as ages in seconds before "now" so that the generated
inputs are byte-identical for one seed; the ``*_table`` functions turn
them into timestamps when a store is seeded.
"""

from __future__ import annotations

import json
from dataclasses import dataclass

import numpy as np
import pyarrow as pa

# Tendermint event shapes: type -> attribute keys (cycled when an event
# carries more attributes than the type names).
EVENT_TYPES = {
    "transfer": ("recipient", "sender", "amount"),
    "message": ("action", "sender", "module", "msg_index"),
    "coin_spent": ("spender", "amount"),
    "coin_received": ("receiver", "amount"),
    "wasm": ("_contract_address", "action", "amount", "owner", "token_id"),
    "delegate": ("validator", "delegator", "amount", "new_shares"),
    "tx": ("fee", "fee_payer", "acc_seq", "signature"),
}
EVENT_POOL = 256  # distinct rendered events a tx draws from

# Block shape. ASSUMED, not measured: the repository holds no
# block_results of a real chain and cites no measured distribution of
# txs, events or attributes per block, so these figures are the
# benchmark's own choice. They set how much work a range is; change
# them (and say so) once measured chain data is at hand.
EMPTY_BLOCK_SHARE = 0.25     # share of blocks with no txs
TXS_PER_BLOCK = (1, 10)      # txs of a non-empty block, uniform, inclusive
EVENTS_PER_TX = (2, 5)       # uniform, inclusive
ATTRS_PER_EVENT = (2, 6)     # uniform, inclusive
FAILED_TX_SHARE = 0.1        # txs with a non-zero result code

# registry message kinds the generator encodes: kind -> (type url,
# carries an amount). Urls are the cosmos-sdk names, spelled out here so
# the expectations do not come from the program.
MSG_KINDS = {
    "send": ("/cosmos.bank.v1beta1.MsgSend", True),
    "redelegate": ("/cosmos.staking.v1beta1.MsgBeginRedelegate", True),
    "vote": ("/cosmos.gov.v1beta1.MsgVote", False),
    "withdraw": (
        "/cosmos.distribution.v1beta1.MsgWithdrawDelegatorReward", False),
}
KIND_NAMES = tuple(MSG_KINDS)
DENOM = "uzig"
MSG_POOL = 2048  # distinct encoded messages a tx draws from (assumed)


def _addr(rng: np.random.Generator, prefix: str) -> str:
    chars = np.array(list("023456789acdefghjklmnpqrstuvwxyz"))
    return prefix + "".join(rng.choice(chars, 38))


@dataclass
class Chain:
    """A contiguous run of blocks: per-block and per-tx draws, the
    rendered block_results envelopes and the tx message parameters."""

    first_height: int
    n_txs: np.ndarray            # per block
    attr_rows: np.ndarray        # per block: flattened (tx, event, attr) rows
    docs: list[bytes]            # per block: the RPC envelope
    doc_sizes: np.ndarray        # per block: envelope bytes
    tx_height: np.ndarray        # per tx
    tx_msg: np.ndarray           # per tx: index into the message pool
    pool: pa.Table               # encoder inputs of each pooled message

    @property
    def last_height(self) -> int:
        return self.first_height + len(self.n_txs) - 1

    def tx_index(self) -> np.ndarray:
        starts = np.concatenate([[0], np.cumsum(self.n_txs)[:-1]])
        return np.arange(len(self.tx_height)) - np.repeat(starts, self.n_txs)

    def expect(self, lo: int, hi: int) -> dict:
        """What indexing heights [lo, hi] must write."""
        i, j = lo - self.first_height, hi - self.first_height + 1
        msg = self.tx_msg[(self.tx_height >= lo) & (self.tx_height <= hi)]
        kinds = self.pool["kind"].to_numpy(zero_copy_only=False)[msg]
        amounts = np.array([int(a) for a in self.pool["amount"].to_pylist()],
                           dtype=np.int64)[msg]
        with_amt = np.isin(kinds, [k for k, (_, a) in MSG_KINDS.items() if a])
        vote = kinds == "vote"
        heights = np.arange(lo, hi + 1)
        return {
            "blocks": hi - lo + 1,
            "attr_rows": int(self.attr_rows[i:j].sum()),
            "attr_heights": heights[self.attr_rows[i:j] > 0].tolist(),
            "msgs": len(msg),
            "msg_urls": {MSG_KINDS[k][0]: int(c) for k, c in
                         zip(*np.unique(kinds, return_counts=True))},
            "msg_amt": int(amounts[with_amt].sum()),
            "msg_pid": int(self.pool["pid"].to_numpy()[msg][vote].sum()),
            "msg_yes": int((self.pool["option"].to_numpy()[msg][vote] == 1)
                           .sum()),
            "doc_bytes": int(self.doc_sizes[i:j].sum()),
        }


def _event_pool(rng: np.random.Generator, addrs: list[str]):
    types = list(EVENT_TYPES)
    frags, n_attrs = [], np.zeros(EVENT_POOL, dtype=np.int64)
    for p in range(EVENT_POOL):
        t = types[int(rng.integers(len(types)))]
        keys = EVENT_TYPES[t]
        k = int(rng.integers(ATTRS_PER_EVENT[0], ATTRS_PER_EVENT[1] + 1))
        attrs = []
        for a in range(k):
            key = keys[a % len(keys)]
            if "amount" in key or key in ("fee", "new_shares"):
                val = f"{int(rng.integers(1, 10**9))}{DENOM}"
            elif key in ("action", "module"):
                val = f"/cosmos.bank.v1beta1.Msg{int(rng.integers(100))}"
            else:
                val = addrs[int(rng.integers(len(addrs)))]
            attrs.append({"key": key, "value": val, "index": True})
        frags.append(json.dumps({"type": t, "attributes": attrs},
                                separators=(",", ":")))
        n_attrs[p] = k
    return frags, n_attrs


def make_chain(seed: int, first_height: int, n_blocks: int) -> Chain:
    """Blocks of the assumed shape above (events drawn from a pool of
    rendered events), one registry message per tx."""
    rng = np.random.default_rng([seed, first_height, n_blocks])
    addrs = [_addr(rng, "zig1") for _ in range(64)]
    frags, frag_attrs = _event_pool(rng, addrs)
    n_txs = np.where(rng.random(n_blocks) < EMPTY_BLOCK_SHARE, 0,
                     rng.integers(TXS_PER_BLOCK[0], TXS_PER_BLOCK[1] + 1,
                                  n_blocks))
    t = int(n_txs.sum())
    n_ev = rng.integers(EVENTS_PER_TX[0], EVENTS_PER_TX[1] + 1, t)
    ev = rng.integers(0, EVENT_POOL, int(n_ev.sum()))
    code = (rng.random(t) < FAILED_TX_SHARE).astype(np.int64)
    gas_w = rng.integers(50_000, 400_000, t)
    gas_u = (gas_w * rng.uniform(0.4, 1.0, t)).astype(np.int64)
    tx_height = np.repeat(np.arange(first_height, first_height + n_blocks),
                          n_txs)
    ev_start = np.concatenate([[0], np.cumsum(n_ev)])
    tx_attrs = np.add.reduceat(frag_attrs[ev], ev_start[:-1]) if t else \
        np.zeros(0, dtype=np.int64)
    attr_rows = np.zeros(n_blocks, dtype=np.int64)
    np.add.at(attr_rows, tx_height - first_height, tx_attrs)

    docs, k = [], 0
    for b in range(n_blocks):
        h = first_height + b
        if n_txs[b] == 0:
            body = "null"
        else:
            txs = []
            for i in range(int(n_txs[b])):
                evs = ",".join(frags[e] for e in ev[ev_start[k]:ev_start[k + 1]])
                txs.append(
                    f'{{"tx_index":{i},"code":{code[k]},'
                    f'"gas_wanted":{gas_w[k]},"gas_used":{gas_u[k]},'
                    f'"events":[{evs}]}}')
                k += 1
            body = "[" + ",".join(txs) + "]"
        docs.append(
            f'{{"jsonrpc":"2.0","id":-1,"result":{{"height":{h},'
            f'"txs_results":{body}}}}}'.encode())
    a = np.array(addrs, dtype=object)
    pool = pa.table({
        "msg": pa.array(np.arange(MSG_POOL), pa.int64()),
        "kind": pa.array(np.array(KIND_NAMES)[
            rng.integers(0, len(KIND_NAMES), MSG_POOL)]),
        "addr_a": pa.array(a[rng.integers(0, len(a), MSG_POOL)]),
        "addr_b": pa.array(a[rng.integers(0, len(a), MSG_POOL)]),
        "addr_c": pa.array(a[rng.integers(0, len(a), MSG_POOL)]),
        "amount": pa.array([str(x) for x in
                            rng.integers(1, 10**12, MSG_POOL)]),
        "pid": pa.array(rng.integers(1, 5000, MSG_POOL), pa.int64()),
        "option": pa.array(rng.integers(1, 5, MSG_POOL), pa.int64()),
    })
    return Chain(
        first_height=first_height, n_txs=n_txs, attr_rows=attr_rows,
        docs=docs, doc_sizes=np.array([len(d) for d in docs], np.int64),
        tx_height=tx_height, tx_msg=rng.integers(0, MSG_POOL, t), pool=pool,
    )


# -- versioned state logs ----------------------------------------------------
# The store's on-disk log format: one parquet file per append, rows
# carrying ``_version`` and a ``_deleted`` tombstone; a read keeps the
# latest version per key. Ages are seconds before "now".

QUEUE_COLS = ("id", "start_height", "end_height", "status", "error_message",
              "created_age", "updated_age", "_version", "_deleted")
FAILED_COLS = ("block_height", "error_type", "error_message", "worker_id",
               "attempts", "_version", "_deleted")
STATE_COLS = ("index_name", "last_processed_height", "updated_age",
              "_version", "_deleted")
# the same logs as Spark DDL, in the column order of the tables below
QUEUE_DDL = ("id long, start_height long, end_height long, status string, "
             "error_message string, created_at timestamp, "
             "updated_at timestamp, _version long, _deleted boolean")
FAILED_DDL = ("block_height long, error_type string, error_message string, "
              "worker_id string, attempts int, _version long, "
              "_deleted boolean")
STATE_DDL = ("index_name string, last_processed_height long, "
             "updated_at timestamp, _version long, _deleted boolean")


def final_state(rows: list[tuple], key: int, cols: tuple) -> dict:
    """Latest version per key, tombstones removed: key -> row dict."""
    vi, di = cols.index("_version"), cols.index("_deleted")
    best: dict = {}
    for r in rows:
        if r[key] not in best or r[vi] > best[r[key]][vi]:
            best[r[key]] = r
    return {k: dict(zip(cols, r)) for k, r in best.items() if not r[di]}


@dataclass
class Store:
    """Seed-generated store contents: logs as lists of appends (each a
    list of row tuples), blocks as heights and ages."""

    queue: list[list[tuple]]
    failed: list[list[tuple]]
    state: list[list[tuple]]
    block_heights: np.ndarray
    block_ages: np.ndarray


def worker_store(seed: int, ranges: list[tuple[int, int]], history: int,
                 tail: int) -> Store:
    """``history`` completed ranges below ``ranges``, then one pending
    range per tick; the last ``tail`` history ranges are completed by
    one-row appends left uncompacted."""
    rng = np.random.default_rng([seed, 11])
    lo0 = ranges[0][0]
    size = max(1, (lo0 - 1) // history)
    hist = [(i + 1, i * size + 1, (i + 1) * size) for i in range(history)]
    base = [(i, s, e, "processing" if i > history - tail else "completed",
             None, 7200.0, 7200.0, 1, False) for i, s, e in hist]
    base += [(history + 1 + j, s, e, "pending", None, 300.0, 300.0, 1, False)
             for j, (s, e) in enumerate(ranges)]
    queue = [base]
    for v, (i, s, e) in enumerate(hist[history - tail:], start=2):
        queue.append([(i, s, e, "completed", None, 7200.0,
                       float(rng.integers(60, 3600)), v, False)])
    state = [[("decoded_indexer", lo0 - 1, 120.0, 1, False)]]
    heights = np.arange(1, lo0, dtype=np.int64)
    return Store(queue, [], state, heights,
                 7200.0 + (lo0 - heights) * 5.0)


# Monitor store shape. ASSUMED, like the block shape: how many gaps, stuck
# and failed ranges a long-running indexer leaves behind was not measured.
GAPS = 40                   # missing height runs
GAP_LEN = (1, 25)           # heights per run, uniform, inclusive
FAILED_RANGE_SHARE = 0.01   # completed ranges that failed instead
FAILED_BLOCKS = 150


def monitor_store(seed: int, n_heights: int, range_size: int,
                  tail: int) -> Store:
    """A store a long-running indexer leaves behind: ``n_heights`` block
    heights minus seeded gaps, a queue of ``range_size`` ranges in every
    status (stale processing, duplicated pending, re-queued loops,
    failures), failed blocks with retry counts, index state, and
    ``tail`` uncompacted appends on every log."""
    rng = np.random.default_rng([seed, 13])
    present = np.ones(n_heights + 1, dtype=bool)
    present[0] = False
    for start in rng.choice(np.arange(1000, n_heights - 1000), GAPS,
                            replace=False):
        present[start:start + int(rng.integers(GAP_LEN[0],
                                               GAP_LEN[1] + 1))] = False
    heights = np.flatnonzero(present).astype(np.int64)
    ages = np.where(heights > n_heights - 3000, 600.0,
                    2 * 86400.0 + (n_heights - heights) * 5.0)

    n_ranges = n_heights // range_size
    statuses = np.array(["completed"] * n_ranges, dtype=object)
    tip = n_ranges - 80
    statuses[tip:tip + 30] = "processing"
    statuses[tip + 30:] = "pending"
    statuses[rng.choice(tip, int(n_ranges * FAILED_RANGE_SHARE),
                        replace=False)] = "failed"
    upd_age = np.where(statuses == "processing", 300.0, 7200.0)
    upd_age[tip:tip + 30:5] = 5400.0  # stale: stuck > 30 min
    base = [(i + 1, i * range_size + 1, (i + 1) * range_size, "pending",
             None, 90000.0, 90000.0, 1, False) for i in range(n_ranges)]
    nid = n_ranges + 1
    for j in rng.choice(np.arange(tip + 30, n_ranges), 3, replace=False):
        s, e = int(j) * range_size + 1, (int(j) + 1) * range_size
        base.append((nid, s, e, "pending", None, 1200.0, 1200.0, 1, False))
        nid += 1
    loop_s = int(rng.integers(0, tip)) * range_size + 1
    for _ in range(3):  # one range queued three times within the hour
        base.append((nid, loop_s, loop_s + range_size - 1, "failed",
                     "rpc timeout", 1800.0, 1800.0, 1, False))
        nid += 1
    # the final statuses arrive as one bulk update, then a tail of
    # single-row updates and one tombstone
    queue = [base, [(i + 1, i * range_size + 1, (i + 1) * range_size,
                     str(statuses[i]), None, 90000.0, float(upd_age[i]), 2,
                     False) for i in range(n_ranges)]]
    for v, i in enumerate(rng.choice(tip, tail - 1, replace=False), start=3):
        r = queue[1][int(i)]
        queue.append([r[:6] + (float(rng.integers(3600, 86400)), v, False)])
    queue.append([(1, None, None, None, None, None, None, tail + 2, True)])

    fh = np.sort(rng.choice(heights, FAILED_BLOCKS, replace=False))
    errs = ("rpc_timeout", "decode_error", "db_write")
    failed = [[(int(h), errs[int(rng.integers(3))], "boom", "w1",
                int(rng.integers(1, 8)), 1, False) for h in fh]]
    for v, i in enumerate(rng.choice(len(fh), tail, replace=False), start=2):
        h = int(fh[int(i)])
        if v % 4 == 0:
            failed.append([(h, None, None, None, None, v, True)])
        else:
            failed.append([(h, "rpc_timeout", "again", "w2",
                            int(rng.integers(1, 9)), v, False)])
    state = [[("decoded_indexer", int(heights[-1]) - 2500, 900.0, 1, False),
              ("orchestrator", int(heights[-1]), 900.0, 1, False)]]
    for v in range(2, tail + 2):
        state.append([("decoded_indexer",
                       int(heights[-1]) - 2500 + v * 10, 60.0, v, False)])
    return Store(queue, failed, state, heights, ages)


# -- tables as pyarrow, ages turned into timestamps ----------------------------

def _ts(ages, now: float) -> pa.Array:
    return pa.array(
        [None if a is None else int((now - a) * 1e6) for a in ages],
        pa.timestamp("us", tz="UTC"))


def queue_table(rows: list[tuple], now: float) -> pa.Table:
    c = list(zip(*rows))
    return pa.table({
        "id": pa.array(c[0], pa.int64()),
        "start_height": pa.array(c[1], pa.int64()),
        "end_height": pa.array(c[2], pa.int64()),
        "status": pa.array(c[3], pa.string()),
        "error_message": pa.array(c[4], pa.string()),
        "created_at": _ts(c[5], now),
        "updated_at": _ts(c[6], now),
        "_version": pa.array(c[7], pa.int64()),
        "_deleted": pa.array(c[8], pa.bool_()),
    })


def failed_table(rows: list[tuple], now: float) -> pa.Table:
    c = list(zip(*rows))
    return pa.table({
        "block_height": pa.array(c[0], pa.int64()),
        "error_type": pa.array(c[1], pa.string()),
        "error_message": pa.array(c[2], pa.string()),
        "worker_id": pa.array(c[3], pa.string()),
        "attempts": pa.array(c[4], pa.int32()),
        "_version": pa.array(c[5], pa.int64()),
        "_deleted": pa.array(c[6], pa.bool_()),
    })


def state_table(rows: list[tuple], now: float) -> pa.Table:
    c = list(zip(*rows))
    return pa.table({
        "index_name": pa.array(c[0], pa.string()),
        "last_processed_height": pa.array(c[1], pa.int64()),
        "updated_at": _ts(c[2], now),
        "_version": pa.array(c[3], pa.int64()),
        "_deleted": pa.array(c[4], pa.bool_()),
    })


def blocks_table(heights: np.ndarray, ages: np.ndarray, now: float) -> pa.Table:
    return pa.table({
        "height": pa.array(heights, pa.int64()),
        "created_at": pa.array(((now - ages) * 1e6).astype(np.int64),
                               pa.timestamp("us", tz="UTC")),
    })
