"""Pure-expression protobuf Any walker (functions/protobuf.py) — the
decoder.js typeUrl surface without a protobuf runtime."""

from __future__ import annotations

from pyspark.sql import functions as F

from zigchain_indexer_clickhouse_spark.functions.protobuf import (
    any_type_url,
    encode_any,
)

import pytest


def _roundtrip(spark, urls):
    df = spark.createDataFrame([(u,) for u in urls], "url string")
    out = df.select(
        "url", any_type_url(encode_any(F.col("url"))).alias("decoded")
    ).collect()
    return {r["url"]: r["decoded"] for r in out}


def test_roundtrip_cosmos_urls(spark):
    urls = [
        "/cosmos.bank.v1beta1.MsgSend",
        "/zigchain.click.MsgExec",
        "/ibc.core.channel.v1.MsgRecvPacket",
        "x",  # 1-char edge
    ]
    assert _roundtrip(spark, urls) == {u: u for u in urls}


def test_two_byte_varint_length(spark):
    """typeUrl ≥ 128 bytes takes a 2-byte varint; build the wire bytes
    by hand (little-endian 7-bit groups) and decode them."""
    url = "/long." + "a" * 194  # 200 bytes: varint C8 01
    wire = bytes([0x0A, 0xC8, 0x01]) + url.encode()
    df = spark.createDataFrame([(bytearray(wire),)], "blob binary")
    got = df.select(any_type_url(F.col("blob")).alias("u")).collect()[0]["u"]
    assert got == url


def test_non_any_blob_decodes_null(spark):
    """Blobs not starting with the Any field-1 tag → NULL (the
    reference's unknown-type fallback, decoder.js catch branch)."""
    df = spark.createDataFrame(
        [(bytearray(b"\x12\x03abc"),)], "blob binary"
    )
    assert (
        df.select(any_type_url(F.col("blob")).alias("u")).collect()[0]["u"]
        is None
    )


def test_msg_send_body_roundtrip_real_wire_bytes(spark):
    """Decode a MsgSend body from HAND-ENCODED wire bytes (built with
    raw tag/length arithmetic, independent of the Spark-side encoder),
    and check the Spark encoder reproduces those bytes exactly."""
    from zigchain_indexer_clickhouse_spark.functions.protobuf import (
        any_value,
        encode_any_msg,
        encode_msg_send,
        msg_send_fields,
    )

    def ld(tag, b):
        return bytes([tag, len(b)]) + b

    coin = ld(0x0A, b"uzig") + ld(0x12, b"123456")
    msg = ld(0x0A, b"zig1ufrom77") + ld(0x12, b"zig1cto88") + ld(0x1A, coin)
    wire = ld(0x0A, b"/cosmos.bank.v1beta1.MsgSend") + ld(0x12, msg)

    df = spark.createDataFrame([(bytearray(wire),)], "blob binary")
    row = (
        df.select(msg_send_fields(any_value(F.col("blob"))).alias("m"))
        .select("m.*")
        .collect()[0]
    )
    assert (
        row.from_address,
        row.to_address,
        row.denom,
        row.amount,
    ) == ("zig1ufrom77", "zig1cto88", "uzig", "123456")

    enc = spark.range(1).select(
        encode_any_msg(
            F.lit("/cosmos.bank.v1beta1.MsgSend"),
            encode_msg_send(
                F.lit("zig1ufrom77"),
                F.lit("zig1cto88"),
                F.lit("uzig"),
                F.lit("123456"),
            ),
        ).alias("b")
    ).collect()[0]["b"]
    assert bytes(enc) == wire


def test_msg_send_body_malformed_decodes_null(spark):
    """A body whose second field tag is wrong → NULL struct (the
    registry-decode catch branch, never a shifted misread)."""
    from zigchain_indexer_clickhouse_spark.functions.protobuf import (
        msg_send_fields,
    )

    def ld(tag, b):
        return bytes([tag, len(b)]) + b

    bad = ld(0x0A, b"zig1ufrom77") + ld(0x2A, b"zig1cto88")
    df = spark.createDataFrame([(bytearray(bad),)], "blob binary")
    assert (
        df.select(msg_send_fields(F.col("blob")).alias("m")).collect()[0]["m"]
        is None
    )


def test_msg_send_roundtrip_multibyte_and_big_any_value(spark):
    """Length prefixes are UTF-8 BYTE counts, and the Any VALUE length
    takes a 2-byte varint when the message tops 127 bytes: a multibyte
    denom plus a 90-byte address must round-trip exactly (both were
    silent-corruption modes when lengths were char counts capped at one
    byte)."""
    from zigchain_indexer_clickhouse_spark.functions.protobuf import (
        any_value,
        encode_any_msg,
        encode_msg_send,
        msg_send_fields,
    )

    frm = "zig1" + "q" * 86            # 90 bytes — bech32 max; <128 per field
    to = "zig1" + "w" * 81             # 85 bytes — pushes the msg over 127
    denom = "µzig"                      # 5 UTF-8 bytes, 4 chars
    df = spark.range(1).select(
        encode_any_msg(
            F.lit("/cosmos.bank.v1beta1.MsgSend"),
            encode_msg_send(
                F.lit(frm), F.lit(to), F.lit(denom), F.lit("7")
            ),
        ).alias("blob")
    )
    row = (
        df.select(msg_send_fields(any_value(F.col("blob"))).alias("m"))
        .select("m.*")
        .collect()[0]
    )
    assert (row.from_address, row.to_address, row.denom, row.amount) == (
        frm, to, denom, "7",
    )

    # cross-check against Python reference encoding (real varint rules);
    # the message is 90+9+12+overhead > 127 B, so the Any value length
    # must be the 2-byte little-endian varint
    def ld(tag, b):
        n = len(b)
        if n < 128:
            return bytes([tag, n]) + b
        return bytes([tag, n % 128 + 128, n // 128]) + b

    coin = ld(0x0A, denom.encode()) + ld(0x12, b"7")
    msg = ld(0x0A, frm.encode()) + ld(0x12, to.encode()) + ld(0x1A, coin)
    assert len(msg) > 127
    wire = ld(0x0A, b"/cosmos.bank.v1beta1.MsgSend") + ld(0x12, msg)
    assert bytes(df.collect()[0]["blob"]) == wire


def test_msg_send_oversize_field_decodes_null_not_shifted(spark):
    """A field the encoder wrote with a 2-byte varint (>=128 B) is
    outside the field decoder's fast path — it must come back NULL (the
    unknown-type fallback), never a silently shifted misread."""
    from zigchain_indexer_clickhouse_spark.functions.protobuf import (
        msg_send_fields,
    )

    def ld(tag, b):
        n = len(b)
        if n < 128:
            return bytes([tag, n]) + b
        return bytes([tag, n % 128 + 128, n // 128]) + b

    coin = ld(0x0A, b"uzig") + ld(0x12, b"7")
    big = ld(0x0A, b"x" * 200) + ld(0x12, b"zig1cto88") + ld(0x1A, coin)
    df = spark.createDataFrame([(bytearray(big),)], "blob binary")
    assert (
        df.select(msg_send_fields(F.col("blob")).alias("m")).collect()[0]["m"]
        is None
    )


def test_msg_send_roundtrip_property(spark):
    """Property: for ANY printable-ASCII fields under the documented
    128-byte bound, Spark-encoded wire bytes match the independent
    Python encoder byte-for-byte AND decode back exactly. One batched
    Spark job over all hypothesis-style cases (deterministic corpus —
    random case generation would break replayability)."""
    import hashlib as _hl

    from zigchain_indexer_clickhouse_spark.functions.protobuf import (
        any_value,
        encode_any_msg,
        encode_msg_send,
        msg_send_fields,
    )

    def ld(tag, b):
        n = len(b)
        if n < 128:
            return bytes([tag, n]) + b
        return bytes([tag, n % 128 + 128, n // 128]) + b

    printable = "".join(chr(c) for c in range(0x21, 0x7F))
    cases = []
    for i in range(60):
        h = _hl.md5(f"pb:{i}".encode()).hexdigest()
        ln = lambda k, lo, hi: lo + int(h[k * 4:k * 4 + 4], 16) % (hi - lo)
        frm = "".join(printable[int(h[j % 32], 16) * (j + 1) % len(printable)]
                      for j in range(ln(0, 1, 120)))
        to = "".join(printable[int(h[(j + 7) % 32], 16) * (j + 3) % len(printable)]
                     for j in range(ln(1, 1, 120)))
        denom = "".join(printable[int(h[(j + 13) % 32], 16) * (j + 5) % len(printable)]
                        for j in range(ln(2, 1, 60)))
        amount = str(int(h[:12], 16))
        cases.append((i, frm, to, denom, amount))

    df = spark.createDataFrame(
        cases, "i long, frm string, to string, denom string, amount string"
    )
    enc = df.select(
        "i", "frm", "to", "denom", "amount",
        encode_any_msg(
            F.lit("/cosmos.bank.v1beta1.MsgSend"),
            encode_msg_send(F.col("frm"), F.col("to"),
                            F.col("denom"), F.col("amount")),
        ).alias("blob"),
    )
    rows = enc.select(
        "i", "frm", "to", "denom", "amount", "blob",
        msg_send_fields(any_value(F.col("blob"))).alias("m"),
    ).collect()
    assert len(rows) == 60
    for r in rows:
        coin = ld(0x0A, r.denom.encode()) + ld(0x12, r.amount.encode())
        msg = (ld(0x0A, r.frm.encode()) + ld(0x12, r.to.encode())
               + ld(0x1A, coin))
        wire = ld(0x0A, b"/cosmos.bank.v1beta1.MsgSend") + ld(0x12, msg)
        assert bytes(r.blob) == wire, r.i
        assert (r.m.from_address, r.m.to_address, r.m.denom, r.m.amount) == (
            r.frm, r.to, r.denom, r.amount), r.i


def test_any_walkers_fail_closed_on_three_byte_varint(spark):
    """A value (or url) length needing a 3-byte varint (>= 16 KiB) must
    decode NULL, never a mis-sliced blob."""
    from zigchain_indexer_clickhouse_spark.functions.protobuf import (
        any_value,
    )

    big = b"v" * 20000
    n = len(big)
    wire = (
        bytes([0x0A, 0x03]) + b"/xx"
        + bytes([0x12, n % 128 + 128, (n // 128) % 128 + 128, n // 16384])
        + big
    )
    df = spark.createDataFrame([(bytearray(wire),)], "blob binary")
    assert (
        df.select(any_value(F.col("blob")).alias("v")).collect()[0]["v"]
        is None
    )


def test_encode_any_multibyte_and_long_urls(spark):
    """encode_any carries byte-count varint lengths: a multibyte url and
    a 130-char url must round-trip through any_type_url exactly (both
    were silent-corruption modes under char-count + raw single byte)."""
    urls = ["/µnicode.MsgÄ", "/long." + "b" * 124]  # 2nd: 130 ASCII bytes
    assert _roundtrip(spark, urls) == {u: u for u in urls}


# ---------------------------------------------------------------------------
# TxRaw envelope (round 5): encode_tx_raw / tx_raw_body / tx_body_messages
# ---------------------------------------------------------------------------
def test_tx_raw_roundtrip_multi_message(spark):
    """Full envelope round-trip on REAL wire bytes: N Any messages →
    TxRaw (with a trailing auth_info field the decoder must skip) →
    body → message list → per-message typeUrl."""
    from zigchain_indexer_clickhouse_spark.functions.protobuf import (
        encode_any,
        encode_tx_raw,
        tx_body_messages,
        tx_raw_body,
    )

    urls = [
        ["/cosmos.bank.v1beta1.MsgSend"],
        ["/zigchain.click.MsgExec", "/cosmos.bank.v1beta1.MsgSend"],
        ["/a.B", "/c.D", "/e.F", "/g.H"],
        [],  # empty body: zero messages
    ]
    df = spark.createDataFrame([(u,) for u in urls], "urls array<string>")
    tx = encode_tx_raw(
        F.transform(F.col("urls"), encode_any),
        auth_info=F.lit("auth").cast("binary"),
    )
    out = df.select(
        "urls",
        F.transform(
            tx_body_messages(tx_raw_body(tx)), any_type_url
        ).alias("decoded"),
    ).collect()
    for r in out:
        assert r["decoded"] == r["urls"]


def test_tx_raw_body_two_byte_varint(spark):
    """A body > 127 bytes forces the 2-byte varint path at the TxRaw
    level — the case the 1-byte fast path would mis-slice."""
    from zigchain_indexer_clickhouse_spark.functions.protobuf import (
        encode_any,
        encode_tx_raw,
        tx_body_messages,
        tx_raw_body,
    )

    long_url = "/x." + "m" * 150  # one Any ≈ 156 bytes → body > 127
    df = spark.createDataFrame([(long_url,)], "url string")
    tx = encode_tx_raw(F.array(encode_any(F.col("url"))))
    got = df.select(
        F.transform(
            tx_body_messages(tx_raw_body(tx)), any_type_url
        ).alias("d")
    ).collect()[0]["d"]
    assert got == [long_url]


def test_tx_body_messages_stops_at_non_message_field(spark):
    """cosmjs writes TxBody fields in order: messages first, then memo
    (field 2, tag 0x12). The walker must stop at the memo, not misread
    it as a message."""
    from zigchain_indexer_clickhouse_spark.functions.protobuf import (
        tx_body_messages,
    )

    any1 = bytes([0x0A, 0x04]) + b"/a.B"
    body = (
        bytes([0x0A, len(any1)]) + any1
        + bytes([0x12, 0x04]) + b"memo"
    )
    df = spark.createDataFrame([(bytearray(body),)], "body binary")
    got = df.select(tx_body_messages(F.col("body")).alias("m")).collect()[0]["m"]
    assert [bytes(x) for x in got] == [any1]


def test_msg_execute_roundtrip_and_unknown_fallback(spark):
    """MsgExecuteContract body round-trip, and the decoder.js:20-24
    unknown-type fallback: an unregistered typeUrl yields NULL from the
    typed decoders (→ the fallback row) while the raw value bytes stay
    recoverable via any_value."""
    from zigchain_indexer_clickhouse_spark.functions.protobuf import (
        any_type_url,
        any_value,
        encode_any_msg,
        encode_msg_execute,
        msg_execute_fields,
        msg_send_fields,
    )

    df = spark.createDataFrame(
        [("zig1sender", "zig1contract", '{"k":"v"}')],
        "s string, c string, j string",
    )
    # materialize the encoded bytes BEFORE decoding: composing several
    # decoders over an in-plan encoder inlines the encoder tree into
    # every positional reference — a tree the optimizer takes minutes
    # to walk (the same reason the engine operators persist their blob
    # stage before field-decoding)
    exec_any = encode_any_msg(
        F.lit("/cosmwasm.wasm.v1.MsgExecuteContract"),
        encode_msg_execute(F.col("s"), F.col("c"), F.col("j")),
    )
    exec_bytes = df.select(exec_any.alias("b")).collect()[0]["b"]
    bdf = spark.createDataFrame([(bytearray(exec_bytes),)], "b binary")
    row = bdf.select(
        msg_execute_fields(any_value(F.col("b"))).alias("m")
    ).select("m.*").collect()[0]
    assert (row["sender"], row["contract"], row["msg_json"]) == (
        "zig1sender", "zig1contract", '{"k":"v"}'
    )

    unk = encode_any_msg(
        F.lit("/zigchain.custom.v1.MsgCustom"),
        F.lit("opaque-payload").cast("binary"),
    )
    unk_bytes = df.select(unk.alias("b")).collect()[0]["b"]
    udf_ = spark.createDataFrame([(bytearray(unk_bytes),)], "b binary")
    blob = F.col("b")
    r = udf_.select(
        any_type_url(blob).alias("u"),
        msg_send_fields(any_value(blob)).alias("send"),
        msg_execute_fields(any_value(blob)).alias("exec"),
        any_value(blob).cast("string").alias("raw"),
    ).collect()[0]
    assert r["u"] == "/zigchain.custom.v1.MsgCustom"
    assert r["send"] is None and r["exec"] is None
    assert r["raw"] == "opaque-payload"


def test_tx_raw_roundtrip_property(spark):
    """Property: for ANY deterministic corpus of message lists (0-6
    messages, urls 1-160 bytes so both varint paths fire at Any AND
    TxRaw level), the Spark-encoded TxRaw matches an independent
    Python encoder byte-for-byte and splits back into exactly the
    input messages. One batched Spark job over all cases."""
    from zigchain_indexer_clickhouse_spark.functions.protobuf import (
        encode_any,
        encode_tx_raw,
        tx_body_messages,
        tx_raw_body,
    )

    def ld(tag, b):
        n = len(b)
        if n < 128:
            return bytes([tag, n]) + b
        return bytes([tag, n % 128 + 128, n // 128]) + b

    def py_any(url):
        return ld(0x0A, url.encode())

    def py_tx_raw(urls, auth=b"au"):
        body = b"".join(ld(0x0A, py_any(u)) for u in urls)
        return ld(0x0A, body) + ld(0x12, auth)

    # deterministic corpus: message-count × url-length grid
    cases = []
    for n in range(7):
        for base_len in (1, 5, 30, 120, 160):
            urls = [
                "/" + chr(ord("a") + i) * (base_len + i) for i in range(n)
            ]
            cases.append(urls)

    df = spark.createDataFrame([(u,) for u in cases], "urls array<string>")
    tx = encode_tx_raw(
        F.transform(F.col("urls"), encode_any),
        auth_info=F.lit("au").cast("binary"),
    )
    rows = df.select(
        "urls",
        tx.alias("wire"),
        F.transform(
            tx_body_messages(tx_raw_body(tx)), any_type_url
        ).alias("decoded"),
    ).collect()
    assert len(rows) == len(cases)
    for r in rows:
        assert bytes(r["wire"]) == py_tx_raw(r["urls"]), r["urls"]
        assert r["decoded"] == r["urls"]


def test_decoders_fail_closed_on_truncated_frames(spark):
    """Every walker must return NULL — never a silently shortened
    slice — when a frame is cut mid-payload: the declared varint
    length overruns the available bytes (the 'fails closed, never
    mis-slices' contract, now enforced against truncation too).
    Wire bytes are materialized FIRST and decoded as bound literals —
    composing decode(encode(...)) in one tree is the documented
    codegen-blowup mode."""
    from zigchain_indexer_clickhouse_spark.functions.protobuf import (
        any_value,
        encode_any_msg,
        encode_msg_execute,
        encode_msg_send,
        encode_tx_raw,
        msg_execute_fields,
        msg_send_fields,
        tx_body_messages,
        tx_raw_body,
    )

    wire = spark.range(1).select(
        encode_msg_send(
            F.lit("zig1from"), F.lit("zig1to"), F.lit("uzig"), F.lit("123456")
        ).alias("send"),
        encode_any(F.lit("/a.VeryLongMsgName")).alias("anyurl"),
        encode_msg_execute(
            F.lit("zig1s"), F.lit("zig1w"),
            F.lit('{"transfer":{"amount":"7"}}'),
        ).alias("exc"),
    ).collect()[0]
    blob = spark.range(1).select(
        encode_any_msg(
            F.lit("/cosmos.bank.v1beta1.MsgSend"),
            F.lit(bytes(wire.send)),
        ).alias("blob")
    ).collect()[0].blob
    tx = spark.range(1).select(
        encode_tx_raw(
            F.array(F.lit(bytes(blob))),
            auth_info=F.lit("auth").cast("binary"),
        ).alias("tx")
    ).collect()[0].tx
    body = spark.range(1).select(
        tx_raw_body(F.lit(bytes(tx))).alias("b")
    ).collect()[0].b

    cut = lambda b: F.lit(bytes(b)[:-1])  # noqa: E731 — drop last byte
    row = spark.range(1).select(
        any_type_url(cut(wire.anyurl)).alias("u"),
        any_value(cut(blob)).alias("v"),
        tx_raw_body(F.lit(bytes(tx)[:12])).alias("b"),
        tx_body_messages(cut(body)).alias("m"),
        msg_send_fields(cut(wire.send)).alias("s"),
        msg_execute_fields(cut(wire.exc)).alias("e"),
    ).collect()[0]
    assert row.u is None
    assert row.v is None
    assert row.b is None
    assert row.m is None
    assert row.s is None
    assert row.e is None

    # and the untruncated bytes still decode (guards are not lossy)
    ok = spark.range(1).select(
        any_value(F.lit(bytes(blob))).alias("v"),
        tx_body_messages(F.lit(bytes(body))).alias("m"),
        msg_send_fields(F.lit(bytes(wire.send))).alias("s"),
        msg_execute_fields(F.lit(bytes(wire.exc))).alias("e"),
    ).collect()[0]
    assert ok.v is not None and len(ok.m) == 1
    assert ok.s.amount == "123456" and ok.e.sender == "zig1s"


def test_msg_withdraw_reward_roundtrip_and_fail_closed(spark):
    """MsgWithdrawDelegatorReward: the encoder's coin-less two-string
    body walks back to its fields with the Python walker, a truncated
    body fails the walk closed, and the Any-wrapped body decodes 'ok'
    in the registry dispatch."""
    from zigchain_indexer_clickhouse_spark.functions.protobuf import (
        encode_any_msg,
        encode_msg_withdraw_reward,
    )
    from zigchain_indexer_clickhouse_spark.functions.protobuf_py import (
        registry_decode_py,
        walk,
    )
    from zigchain_indexer_clickhouse_spark.sources.tx_decode import (
        _REGISTRY_URL_KEYS,
    )

    url = _REGISTRY_URL_KEYS["withdraw"]
    body = encode_msg_withdraw_reward(F.lit("zig1w"), F.lit("zigvaloper7"))
    row = spark.range(1).select(
        body.alias("b"), encode_any_msg(F.lit(url), body).alias("a"),
    ).collect()[0]
    ok, ld, vi = walk(bytes(row["b"]), 8)
    assert ok and vi == {}
    assert ld == {1: [b"zig1w"], 2: [b"zigvaloper7"]}
    assert walk(bytes(row["b"])[:-1], 8)[0] is False  # truncated
    assert registry_decode_py(bytes(row["a"]), dict(_REGISTRY_URL_KEYS)) \
        == (url, "ok", 0, 0, 0, 0)


def test_msg_redelegate_roundtrip_and_fail_closed(spark):
    """MsgBeginRedelegate: the encoder's four-field body (3 strings +
    Coin at field 4) walks back to its fields and coin, and a
    truncated body fails the walk closed."""
    from zigchain_indexer_clickhouse_spark.functions.protobuf import (
        encode_msg_redelegate,
    )
    from zigchain_indexer_clickhouse_spark.functions.protobuf_py import walk

    blob = bytes(spark.range(1).select(
        encode_msg_redelegate(
            F.lit("zig1r"), F.lit("zigvaloper1"), F.lit("zigvaloper2"),
            F.lit("uzig"), F.lit("777"),
        ).alias("b")
    ).collect()[0]["b"])
    ok, ld, _ = walk(blob, 8)
    assert ok
    assert (ld[1], ld[2], ld[3]) == (
        [b"zig1r"], [b"zigvaloper1"], [b"zigvaloper2"])
    c_ok, c_ld, _ = walk(ld[4][0], 2)
    assert c_ok and c_ld == {1: [b"uzig"], 2: [b"777"]}
    assert walk(blob[:-1], 8)[0] is False
