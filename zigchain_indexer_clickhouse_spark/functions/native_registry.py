"""Loader + Arrow-batch plumbing for the native registry kernel
(functions/native_walk.c) — the r10 VOLUME path for full-chain decode
scans.

The brief's escape-hatch ladder is (a) built-in expressions, (b)
Arrow-batched Pandas UDF, (c) mapPartitions.  Round 10 measured (a)
to its floor for this workload: Catalyst has no byte-indexing
primitive, so a positional scan pays ~0.3 µs per byte read
(CONV+HEX+SUBSTRING, each an allocating expression node) plus
per-branch codegen overheads — the full 37-arm dispatch lands at the
Arrow-Python walker's own order of magnitude, not below it (PLANS.md
r10 row has the probe ladder).  This module keeps execution shape (b)
— an Arrow batch crossing into Python — but replaces the per-row
Python byte-walk with ONE C call per batch operating zero-copy on the
Arrow string buffers: gcc is part of this environment's public
toolchain, the kernel is a line-for-line port of
``protobuf_py.registry_decode_py``, and rows the kernel cannot decide
bit-identically (wasm JSON amounts, int64-overflow coin sums, bad
hex) come back flagged and are re-decoded by the Python walker, so
row-level semantics are EXACTLY the walker's on every input
(property-tested in tests/test_native_registry.py).

At 100 TB the shape is unchanged from the Python path — a stateless
narrow map over the scan — but the per-row cost drops from ~27 µs to
~0.2 µs, turning the 10¹¹-message full-chain pass from ~10² to ~10⁰
core-hours.  On a real cluster the .so ships like any other artifact
(--archives); here executors share the driver's filesystem and the
compile is cached by source hash.  When no C toolchain is available
the callers fall back to the Python walker and a warning is logged.
"""

from __future__ import annotations

import ctypes
import hashlib
import logging
import os
import subprocess
import tempfile

import numpy as np
import pandas as pd
import pyarrow as pa

_SRC = os.path.join(os.path.dirname(os.path.abspath(__file__)),
                    "native_walk.c")

# enum order in native_walk.c (T_SEND..T_TM_HEADER) — the keyword names
# resolve through the same _REGISTRY_URL_KEYS table the Python mirror
# uses, so the three dispatch tables cannot drift
NATIVE_KEYS = (
    "send", "exec", "delegate", "vote", "transfer", "undelegate",
    "withdraw", "redelegate", "set_withdraw", "deposit", "grant",
    "authz_exec", "revoke", "grant_allow", "revoke_allow", "unjail",
    "create_val", "edit_val", "vesting", "multisend", "cancel_unbond",
    "fund_pool", "withdraw_comm", "vote_weighted", "submit_proposal",
    "update_client", "recv_packet", "perm_locked", "periodic_vest",
    "instantiate", "verify_invariant", "gov_v1_vote", "gov_v1_deposit",
    "gov_v1_submit", "ack", "timeout",
    # r11 closure: evidence, gov v1 legacy-content, group module
    "submit_evidence", "exec_legacy", "group_create",
    "group_upd_members", "group_upd_admin", "group_upd_metadata",
    "group_create_policy", "group_create_with_policy",
    "group_policy_admin", "group_policy_decision",
    "group_policy_metadata", "group_submit", "group_withdraw",
    "group_vote", "group_exec", "group_leave",
    # r12 closure: gov v1 vote-weighted + IBC core handshakes
    "gov_v1_vote_weighted", "create_client", "upgrade_client",
    "submit_misbehaviour", "conn_open_init", "conn_open_try",
    "conn_open_ack", "conn_open_confirm", "chan_open_init",
    "chan_open_try", "chan_open_ack", "chan_open_confirm",
    "chan_close_init", "chan_close_confirm", "timeout_on_close",
    # nested-only urls
    "basic_allowance", "stake_auth", "text_proposal", "tm_header",
    "equivocation", "threshold_policy", "client_state",
    "consensus_state", "misbehaviour",
)

_LIB = None
_LIB_TRIED = False
_log = logging.getLogger(__name__)


def _cache_dir() -> str:
    """A USER-PRIVATE directory for the compiled kernel.  Never the
    shared world-writable tempdir root: the .so path is computable
    from the source hash, so on a multi-user host another account
    could pre-plant a library at the predictable name and the
    existing-file fast path would ctypes.CDLL it — code execution in
    the Spark worker (r10 ADVICE).  0o700 + uid-keyed name, and the
    caller re-stats both dir and file before loading."""
    home_cache = (os.environ.get("XDG_CACHE_HOME")
                  or os.path.join(os.path.expanduser("~"), ".cache"))
    uid = os.getuid()
    for root in (home_cache, tempfile.gettempdir()):
        d = os.path.join(root, f"spark_graft_native-{uid}")
        try:
            os.makedirs(d, mode=0o700, exist_ok=True)
            st = os.lstat(d)
            if (st.st_uid == uid and os.path.isdir(d)
                    and not (st.st_mode & 0o022)):
                return d
        except OSError:
            continue
    raise OSError("no private cache dir available for the native kernel")


def _safe_to_load(path: str) -> bool:
    """True iff ``path`` is a regular file owned by us with no
    group/other write bits — the gate between the cache and CDLL."""
    try:
        st = os.lstat(path)
    except OSError:
        return False
    import stat as _stat

    return (st.st_uid == os.getuid() and _stat.S_ISREG(st.st_mode)
            and not (st.st_mode & 0o022))


def _load() -> ctypes.CDLL | None:
    """Compile (once, cached by source hash under a user-private dir)
    and load the kernel; None when no toolchain is available.  That
    moves every decode to the Python walker, about 100× slower, so it
    logs one warning with the error; any other error propagates."""
    global _LIB, _LIB_TRIED
    if _LIB_TRIED:
        return _LIB
    try:
        src = open(_SRC, "rb").read()
        tag = hashlib.md5(src).hexdigest()[:12]
        cache = _cache_dir()
        so = os.path.join(cache, f"native_{tag}.so")
        if os.path.lexists(so) and not _safe_to_load(so):
            os.remove(so)  # tampered / foreign-owned: rebuild
        # housekeeping: sweep SIBLING kernels that fail the trust gate
        # (e.g. a world-writable file planted before the private dir
        # was ours, or loosened permissions) — the dir is 0700 ours,
        # so every entry is ours to delete; stale-but-trusted kernels
        # of older source hashes are harmless and stay
        for f in os.listdir(cache):
            p = os.path.join(cache, f)
            if (f.startswith("native_") and f.endswith(".so")
                    and p != so and not _safe_to_load(p)):
                try:
                    os.remove(p)
                except OSError:
                    pass
        if not os.path.isfile(so):
            tmp = f"{so}.build-{os.getpid()}"
            subprocess.run(
                ["gcc", "-O2", "-shared", "-fPIC", "-o", tmp, _SRC],
                check=True, capture_output=True)
            os.chmod(tmp, 0o500)
            os.replace(tmp, so)  # atomic; racers converge on one file
        if not _safe_to_load(so):
            raise OSError(f"refusing to load untrusted {so}")
        lib = ctypes.CDLL(so)
        lib.registry_decode_batch.restype = None
        _LIB = lib
    except (OSError, subprocess.CalledProcessError) as err:
        _log.warning("native registry kernel unavailable, decoding with "
                     "the Python walker: %s", err)
        _LIB = None
    _LIB_TRIED = True
    return _LIB


def native_available() -> bool:
    return _load() is not None


def _url_table(urls: dict) -> tuple[np.ndarray, np.ndarray]:
    blobs = [urls[k].encode() for k in NATIVE_KEYS]
    offs = np.zeros(len(blobs) + 1, dtype=np.int32)
    np.cumsum([len(b) for b in blobs], out=offs[1:])
    return np.frombuffer(b"".join(blobs), dtype=np.uint8), offs


_COLS = ["type_url", "status", "amt", "pid", "yes", "timeout"]

# explicit Arrow schema for fallback batches — dtype INFERENCE breaks
# on degenerate batches (all-None type_url infers null type; an empty
# batch infers null for every string column), failing at the
# mapInArrow boundary (r10 ADVICE).  Mirrors tx_decode's
# _REGISTRY_STRUCT_TYPE.
_ARROW_SCHEMA = pa.schema([
    ("type_url", pa.string()), ("status", pa.string()),
    ("amt", pa.int64()), ("pid", pa.int64()),
    ("yes", pa.int64()), ("timeout", pa.int64()),
])


def _run_kernel(data: np.ndarray, offsets: np.ndarray, n: int,
                urls: dict, is_hex: bool):
    lib = _load()
    udata, uoffs = _url_table(urls)
    type_id = np.empty(n, dtype=np.int32)
    ok = np.empty(n, dtype=np.uint8)
    amt = np.empty(n, dtype=np.int64)
    pid = np.empty(n, dtype=np.int64)
    yes = np.empty(n, dtype=np.int64)
    tout = np.empty(n, dtype=np.int64)
    needs_py = np.empty(n, dtype=np.uint8)
    url_off = np.empty(n, dtype=np.int64)
    url_len = np.empty(n, dtype=np.int64)
    p = ctypes.POINTER
    lib.registry_decode_batch(
        data.ctypes.data_as(p(ctypes.c_uint8)),
        offsets.ctypes.data_as(p(ctypes.c_int64)),
        ctypes.c_int64(n),
        udata.ctypes.data_as(p(ctypes.c_uint8)),
        uoffs.ctypes.data_as(p(ctypes.c_int32)),
        type_id.ctypes.data_as(p(ctypes.c_int32)),
        ok.ctypes.data_as(p(ctypes.c_uint8)),
        amt.ctypes.data_as(p(ctypes.c_int64)),
        pid.ctypes.data_as(p(ctypes.c_int64)),
        yes.ctypes.data_as(p(ctypes.c_int64)),
        tout.ctypes.data_as(p(ctypes.c_int64)),
        needs_py.ctypes.data_as(p(ctypes.c_uint8)),
        url_off.ctypes.data_as(p(ctypes.c_int64)),
        url_len.ctypes.data_as(p(ctypes.c_int64)),
        ctypes.c_int32(1 if is_hex else 0),
    )
    return type_id, ok, amt, pid, yes, tout, needs_py, url_off, url_len


def _row_bytes(data: memoryview, offsets: np.ndarray, i: int,
               is_hex: bool) -> bytes:
    raw = bytes(data[offsets[i]:offsets[i + 1]])
    return bytes.fromhex(raw.decode("ascii")) if is_hex else raw


def _decode_core(data: np.ndarray, offsets: np.ndarray, n: int,
                 urls: dict, is_hex: bool):
    """Kernel call + the Python patch-up passes.  Returns the six
    output columns as (object ndarray, object ndarray, 4 × int64)."""
    from zigchain_indexer_clickhouse_spark.functions.protobuf_py import (
        registry_decode_py,
    )

    (type_id, ok, amt, pid, yes, tout, needs_py, url_off,
     url_len) = _run_kernel(data, offsets, n, urls, is_hex)

    url_consts = np.array([urls[k] for k in NATIVE_KEYS], dtype=object)
    type_url = np.where(type_id >= 0,
                        url_consts[np.clip(type_id, 0, None)], None)
    status = np.where(ok == 1, "ok", "Unknown message type") \
        .astype(object)

    mv = memoryview(data)
    unit = 2 if is_hex else 1
    for i in np.nonzero((type_id < 0) & (needs_py == 0))[0]:
        # unregistered urls: the strict-decode string (None when the
        # url field is absent or not valid UTF-8) — rare rows
        if url_len[i] >= 0:
            raw = bytes(mv[url_off[i]:url_off[i] + unit * url_len[i]])
            if is_hex:
                raw = bytes.fromhex(raw.decode("ascii"))
            try:
                type_url[i] = raw.decode()
            except UnicodeDecodeError:
                type_url[i] = None

    py_rows = np.nonzero(needs_py)[0]
    if len(py_rows):
        # columnar patch-in (a per-row .iloc assignment costs ~100 µs
        # in pandas — it dominated the batch at 2.5% flagged rows)
        sub = [registry_decode_py(_row_bytes(mv, offsets, int(i), is_hex),
                                  urls) for i in py_rows]
        cols = list(zip(*sub))
        type_url[py_rows] = np.array(cols[0], dtype=object)
        status[py_rows] = np.array(cols[1], dtype=object)
        amt[py_rows] = cols[2]
        pid[py_rows] = cols[3]
        yes[py_rows] = cols[4]
        tout[py_rows] = cols[5]
    return type_url, status, amt, pid, yes, tout


def _arrow_buffers(arr: "pa.Array") -> tuple[np.ndarray, np.ndarray, int]:
    """(data, int64 offsets adjusted for the array's slice offset, n);
    raises AssertionError when the layout needs the slow path."""
    assert arr.null_count == 0
    bufs = arr.buffers()
    n = len(arr)
    offsets = np.frombuffer(bufs[1], dtype=np.int64,
                            count=n + 1 + arr.offset)[arr.offset:]
    data = (np.frombuffer(bufs[2], dtype=np.uint8)
            if bufs[2] is not None else np.zeros(1, dtype=np.uint8))
    return data, offsets, n


def decode_batch(hexes: pd.Series, urls: dict) -> pd.DataFrame:
    """Pandas entry (hex strings) — one kernel call per batch; rows
    the kernel flags re-decode through the Python walker for bit-exact
    parity."""
    from zigchain_indexer_clickhouse_spark.functions.protobuf_py import (
        registry_decode_py,
    )

    arr = pa.array(hexes, type=pa.large_string(), from_pandas=True)
    if arr.null_count or _load() is None:
        rows = [registry_decode_py(bytes.fromhex(h), urls) for h in hexes]
        return pd.DataFrame(rows, columns=_COLS)
    data, offsets, n = _arrow_buffers(arr)
    type_url, status, amt, pid, yes, tout = _decode_core(
        data, offsets, n, urls, is_hex=True)
    return pd.DataFrame({
        "type_url": type_url, "status": status,
        "amt": amt, "pid": pid, "yes": yes, "timeout": tout,
    })


def make_native_arrow_fn(urls: dict):
    """mapInArrow shape over a BINARY blob column — the volume path.
    No pandas round-trip: the blob column is read straight from the
    Arrow buffers (a 3M-row batch spends seconds just materializing
    python string objects under mapInPandas), and the output string
    columns are dictionary-encoded from the kernel's type ids (37
    registry constants + each batch's rare unknown urls) — never one
    python object per row."""
    from zigchain_indexer_clickhouse_spark.functions.protobuf_py import (
        registry_decode_py,
    )

    url_consts = [urls[k] for k in NATIVE_KEYS]

    def _fn(batches):
        for batch in batches:
            arr = batch.column(0)
            if arr.type != pa.large_binary():
                arr = arr.cast(pa.large_binary())
            if arr.null_count or arr.offset != 0 or _load() is None:
                rows = []
                for v in arr:
                    b = v.as_py()
                    if b is None:
                        raise ValueError(
                            "registry decode: NULL blob row — upstream "
                            "must raise on malformed hex, not pass NULL")
                    rows.append(registry_decode_py(b, urls))
                cols = list(zip(*rows)) if rows else [[]] * len(_COLS)
                yield pa.RecordBatch.from_arrays(
                    [pa.array(list(c), type=f.type)
                     for c, f in zip(cols, _ARROW_SCHEMA)],
                    schema=_ARROW_SCHEMA)
                continue
            data, offsets, n = _arrow_buffers(arr)
            (type_id, ok, amt, pid, yes, tout, needs_py, url_off,
             url_len) = _run_kernel(data, offsets, n, urls, False)

            tu_idx = type_id.astype(np.int64)
            st_idx = np.where(ok == 1, 0, 1).astype(np.int64)
            extras: dict[str, int] = {}
            mv = memoryview(data)

            def _extra(s):
                if s is None:
                    return -1
                return len(url_consts) + extras.setdefault(
                    s, len(extras))

            for i in np.nonzero((type_id < 0) & (needs_py == 0))[0]:
                s = None
                if url_len[i] >= 0:
                    try:
                        s = bytes(
                            mv[url_off[i]:url_off[i] + url_len[i]]
                        ).decode()
                    except UnicodeDecodeError:
                        s = None
                tu_idx[i] = _extra(s)
            for i in np.nonzero(needs_py)[0]:
                row = registry_decode_py(
                    _row_bytes(mv, offsets, int(i), False), urls)
                tu_idx[i] = _extra(row[0])
                st_idx[i] = 0 if row[1] == "ok" else 1
                amt[i], pid[i], yes[i], tout[i] = row[2:]

            tu_dict = pa.array(url_consts + list(extras),
                               type=pa.string())
            tu = pa.DictionaryArray.from_arrays(
                pa.array(np.where(tu_idx < 0, None, tu_idx),
                         type=pa.int64(), from_pandas=True),
                tu_dict).cast(pa.string())
            st = pa.DictionaryArray.from_arrays(
                pa.array(st_idx, type=pa.int64()),
                pa.array(["ok", "Unknown message type"],
                         type=pa.string())).cast(pa.string())
            yield pa.RecordBatch.from_arrays(
                [tu, st, pa.array(amt), pa.array(pid), pa.array(yes),
                 pa.array(tout)],
                names=_COLS,
            )

    return _fn

