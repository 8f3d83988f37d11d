"""Native registry kernel (functions/native_walk.c) — bit-equality
with the Python walker on canonical, mutated and random bytes, the
flagged-row fallback contract, and operator-level agreement.  The
kernel is the r10 default VOLUME shape for #187 / #23c, so these are
the local gates behind the driver's oracle rows."""

from __future__ import annotations

import random

import pandas as pd
import pytest

from zigchain_indexer_clickhouse_spark.functions.native_registry import (
    decode_batch,
    native_available,
)
from zigchain_indexer_clickhouse_spark.functions.protobuf_py import (
    registry_decode_py,
)
from zigchain_indexer_clickhouse_spark.plans import registry
from zigchain_indexer_clickhouse_spark.sources.tx_decode import (
    _REGISTRY_URL_KEYS,
)

URLS = dict(_REGISTRY_URL_KEYS)
SF = "/root/testdata/sf0.001"

pytestmark = pytest.mark.skipif(
    not native_available(), reason="no C toolchain in this environment")


def _ld(fno: int, payload: bytes) -> bytes:
    assert len(payload) < 128
    return bytes([(fno << 3) | 2, len(payload)]) + payload


def _check(blobs: list[bytes]) -> None:
    got = decode_batch(pd.Series([b.hex().upper() for b in blobs]), URLS)
    for i, b in enumerate(blobs):
        exp = registry_decode_py(b, URLS)
        assert tuple(got.iloc[i]) == exp, (i, b.hex(), exp)


def test_kernel_equals_walker_on_synthesis(spark, grid_hexes):
    _check([bytes.fromhex(h) for h in grid_hexes])


def test_kernel_equals_walker_on_mutations_and_soup(grid_hexes):
    rng = random.Random(23)
    cases: list[bytes] = []
    for h in grid_hexes[:60]:
        b = bytes.fromhex(h)
        cases.append(b[:len(b) - rng.randrange(1, 9)])
        i = rng.randrange(len(b))
        cases.append(b[:i] + bytes([b[i] ^ (1 << rng.randrange(8))])
                     + b[i + 1:])
        cases.append(b + bytes([rng.randrange(256)]))
    for _ in range(400):
        cases.append(bytes(rng.randrange(256)
                           for _ in range(rng.randrange(0, 80))))
    _check(cases)


def test_kernel_edges_fall_back_identically():
    """The flagged-row contract: non-canonical wasm JSON, 19-digit
    amounts (int64-boundary), negative amounts, multi-coin sums near
    the int64 edge — every one re-decodes through the Python walker
    and must equal it."""
    send = URLS["send"].encode()

    def coin(denom: bytes, amount: bytes) -> bytes:
        return _ld(1, denom) + _ld(2, amount)

    def send_blob(*coins: bytes) -> bytes:
        body = _ld(1, b"zig1ua") + _ld(2, b"zig1cb")
        for c in coins:
            body += _ld(3, c)
        return _ld(1, send) + _ld(2, body)

    weird_json = (_ld(1, URLS["exec"].encode())
                  + _ld(2, _ld(1, b"a") + _ld(2, b"w")
                        + _ld(3, b'{ "transfer": {"amount": "+7"} }')))
    cases = [
        weird_json,
        send_blob(coin(b"u", b"9223372036854775807")),   # int64 max
        send_blob(coin(b"u", b"9223372036854775808")),   # out of range
        send_blob(coin(b"u", b"-9223372036854775808")),  # int64 min
        send_blob(coin(b"u", b"-9223372036854775809")),  # out of range
        send_blob(coin(b"u", b"-0")),
        send_blob(coin(b"u", b"007")),
        send_blob(coin(b"u", b"1_0")),                   # non-canonical
        # 2-coin sum landing EXACTLY on int64 max — the C overflow
        # guard must not fire one early (a sum PAST int64 is flagged
        # to Python, where the unbounded int then fails pandas' int64
        # column exactly like the pure-Python path would)
        send_blob(coin(b"u", b"4611686018427387903"),
                  coin(b"v", b"4611686018427387904")),
    ]
    _check(cases)


def test_native_operator_matches_arrow_operator(spark, monkeypatch):
    """#187 under native (the default) ≡ the Arrow-Python shape a host
    without a C toolchain runs."""
    from zigchain_indexer_clickhouse_spark.functions import native_registry

    qs = registry.queries()
    native = sorted(tuple(r) for r in
                    qs["msg_registry_decode"](spark, SF).collect())
    monkeypatch.setattr(native_registry, "native_available", lambda: False)
    arrow = sorted(tuple(r) for r in
                   qs["msg_registry_decode"](spark, SF).collect())
    assert native == arrow
    assert len(native) == 68


def test_so_cache_is_user_private_and_rejects_tampering():
    """The compiled kernel must live under a 0o700 uid-keyed dir and
    never be CDLL'd with group/other write bits (r10 ADVICE: a
    predictable world-writable path lets another account pre-plant a
    library at the computable name)."""
    import os

    from zigchain_indexer_clickhouse_spark.functions import (
        native_registry as nr,
    )

    d = nr._cache_dir()
    st = os.lstat(d)
    assert st.st_uid == os.getuid()
    assert not (st.st_mode & 0o077), oct(st.st_mode)
    assert f"-{os.getuid()}" in os.path.basename(d)

    # the CURRENT-source kernel passes the trust gate (target the
    # live tag explicitly: stale tags of older sources — or a planted
    # world-writable sibling awaiting the loader's sweep — may also
    # sit in the dir, and an arbitrary listing entry proved flaky)
    import hashlib

    tag = hashlib.md5(open(nr._SRC, "rb").read()).hexdigest()[:12]
    so = os.path.join(d, f"native_{tag}.so")
    assert os.path.isfile(so), "kernel not cached in the private dir"
    assert nr._safe_to_load(so)

    # tampered perms (the closest simulation of a foreign plant that a
    # single-uid test can stage): loader must refuse + rebuild; a
    # tampered SIBLING (planted at another tag's name) must be swept
    planted = os.path.join(d, "native_000000000000.so")
    with open(planted, "w") as f:
        f.write("not a library")
    os.chmod(planted, 0o777)
    os.chmod(so, 0o777)
    assert not nr._safe_to_load(so)
    nr._LIB = None
    nr._LIB_TRIED = False
    try:
        assert nr._load() is not None
        assert nr._safe_to_load(so)  # rebuilt with safe bits
        assert not os.path.lexists(planted)  # sibling swept
    finally:
        nr._LIB = None
        nr._LIB_TRIED = False


def test_fallback_batch_explicit_schema():
    """Degenerate fallback batches (all-None type_url, empty) must
    carry the declared Arrow schema, not inferred null types (r10
    ADVICE: from_pandas inference fails at the mapInArrow boundary)."""
    import pyarrow as pa

    from zigchain_indexer_clickhouse_spark.functions.native_registry import (
        _ARROW_SCHEMA,
        make_native_arrow_fn,
    )

    fn = make_native_arrow_fn(URLS)
    # slice → offset != 0 forces the fallback branch; b"" decodes to a
    # None type_url, the worst case for dtype inference
    arr = pa.array([b"\x00", b"", b""], type=pa.large_binary())
    batch = pa.RecordBatch.from_arrays([arr.slice(1)], ["blob_bin"])
    (out,) = list(fn([batch]))
    assert out.schema == _ARROW_SCHEMA
    assert out.column(0).to_pylist() == [None, None]

    empty = pa.RecordBatch.from_arrays([arr.slice(3)], ["blob_bin"])
    (out,) = list(fn([empty]))
    assert out.schema == _ARROW_SCHEMA and out.num_rows == 0


def test_malformed_hex_raises_clear_error(spark):
    """registry_decoded_df_native on non-hex input must raise the
    clear per-row error, not an obscure whole-batch TypeError from a
    NULL reaching the Arrow fallback (r10 ADVICE)."""
    from zigchain_indexer_clickhouse_spark.sources.tx_decode import (
        registry_decoded_df_native,
    )

    df = spark.createDataFrame([("ZZ-not-hex",)], "blob_hex string")
    with pytest.raises(Exception, match="non-hexadecimal blob_hex"):
        registry_decoded_df_native(df).collect()


@pytest.fixture(scope="module")
def grid_hexes(spark):
    from zigchain_indexer_clickhouse_spark.sources.tx_decode import (
        registry_blob_hex_df,
    )

    gen = registry_blob_hex_df(spark.createDataFrame(
        [(e, u, v / 7.0) for e in range(80)
         for u, v in [(e * 13 % 9999, e * 31 % 997), (3, 0.0),
                      (9998, 54321.0)]],
        "event_id long, user_id long, value double",
    )).select("blob_hex")
    return [r["blob_hex"] for r in gen.collect()]
