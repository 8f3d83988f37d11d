"""The registry conformance wire, frozen: the sha256 of every event's
``blob_hex`` from ``tx_decode.registry_blob_hex_df`` at sf0.001 and
sf0.01, and the protobuf writer primitives it is built from.

The digests were taken from the earlier Column-expression synthesis,
so they pin the wire byte for byte: a one-byte change to any kind's
body changes the blobs of that kind's events, and every dataset holds
events of all 72 kinds."""

from __future__ import annotations

import hashlib
import os

import pytest

from zigchain_indexer_clickhouse_spark.catalog import load
from zigchain_indexer_clickhouse_spark.functions.protobuf_py import (
    enc_ld_field,
    enc_str_field,
    enc_varint,
    enc_varint_field,
    walk,
)
from zigchain_indexer_clickhouse_spark.sources.tx_decode import (
    _REGISTRY_MOD,
    registry_blob_hex_df,
)

# dataset -> (events, sha256 of "".join(f"{event_id}:{blob_hex}\n"))
_DIGESTS = {
    "sf0.001": (1000, "2a373de4faa03604a4c606a7f5d63db4"
                      "086e115ad14c20819e8264f1e9935d52"),
    "sf0.01": (10000, "512f58f608cc2e46d21bda3fd6a2d376"
                      "bc862744b8b05a1a1010797521188d97"),
}


@pytest.mark.parametrize("name", sorted(_DIGESTS))
def test_registry_wire_digest_is_frozen(spark, sf_dir, name):
    d = os.path.join(os.path.dirname(sf_dir), name)
    if not os.path.isdir(d):
        pytest.skip(f"no {name} test data beside {sf_dir}")
    rows = registry_blob_hex_df(
        load(spark, d, "events").select("event_id", "user_id", "value")
    ).select("event_id", "blob_hex").collect()
    pairs = sorted((r["event_id"], r["blob_hex"]) for r in rows)
    assert {e % _REGISTRY_MOD for e, _ in pairs} == set(range(_REGISTRY_MOD))
    digest = hashlib.sha256(
        "".join(f"{e}:{b}\n" for e, b in pairs).encode()).hexdigest()
    assert (len(pairs), digest) == _DIGESTS[name]


def test_varint_writer_round_trips_and_fails_loud():
    for n in [0, 1, 127, 128, 16383, 16384, 3_000_009_999,
              1_600_000_000_000_009_999, (1 << 63) - 1]:
        ok, _ld, vi = walk(enc_varint_field(1, n), 1)
        assert ok and vi == {1: n}, n
    assert len(enc_varint((1 << 63) - 1)) == 9
    with pytest.raises(ValueError, match="negative"):
        enc_varint(-1)
    with pytest.raises(ValueError, match="single-byte tag"):
        enc_str_field(16, "x")


def test_length_delimited_fields_round_trip():
    payload = b"\x00" * 200   # a 2-byte length varint
    data = enc_ld_field(3, payload) + enc_str_field(12, "zig1u7")
    ok, ld, _vi = walk(data, 2)
    assert ok and ld == {3: [payload], 12: [b"zig1u7"]}
