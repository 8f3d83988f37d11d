"""Minimal protobuf field walker as pure column expressions.

The reference decodes tx messages with a cosmjs Registry
(src/utils/decoder.js decodeTxMessages: each message is a protobuf
``Any`` whose field 1 is the typeUrl string). No protobuf runtime
exists in this container — and none is needed for the typeUrl: an
``Any``'s wire form starts with

    0x0A                    field 1, wire type 2 (length-delimited)
    varint length L         1 byte when L < 128, 2 bytes when L < 16384
    L bytes of UTF-8        the typeUrl itself

``any_type_url`` decodes exactly that with builtin string/convert
expressions over the hex form of the bytes — JVM-side, whole-stage
codegen, zero Python row UDFs. Handles the 1- and 2-byte varint cases
(typeUrls are far below 16 KiB); returns NULL when the blob doesn't
start with an Any field-1 tag, matching the reference's unknown-type
fallback path (decoder.js catch branch).
"""

from __future__ import annotations

from pyspark.sql import Column
from pyspark.sql import functions as F


def encode_any(type_url: Column) -> Column:
    """Build the wire bytes of ``Any{type_url}`` (value field omitted) —
    the test harness's encoder, so decode checks run on REAL protobuf
    bytes. Length prefix is the UTF-8 BYTE count as a real 1- or 2-byte
    varint (char-count + raw single byte silently corrupted multibyte
    or 128+-byte urls — the encode_msg_send fix, applied here too)."""
    url_hex = F.hex(type_url.cast("binary"))
    return F.unhex(
        F.concat(F.lit("0A"), _varint_hex(F.octet_length(type_url)), url_hex)
    )


def any_type_url(blob: Column) -> Column:
    """Extract ``Any.type_url`` (field 1) from raw protobuf bytes with a
    varint/tag scan in pure expressions: hex the blob, check the 0x0A
    tag, decode the 1- or 2-byte varint length, slice that many bytes,
    UTF-8 decode. NULL for blobs not starting with field 1, and NULL
    (never a mis-slice) when the length needs a 3+-byte varint (second
    byte carries a continuation bit — urls that long don't exist)."""
    h = F.hex(blob)
    tag_ok = F.substring(h, 1, 2) == "0A"
    b0 = F.conv(F.substring(h, 3, 2), 16, 10).cast("int")
    b1 = F.conv(F.substring(h, 5, 2), 16, 10).cast("int")
    # varint: low 7 bits per byte, little-endian groups; high bit set
    # on b0 means a second byte follows
    one_byte = b0 < 128
    length = F.when(one_byte, b0).otherwise((b0 - 128) + b1 * 128)
    start = F.when(one_byte, F.lit(5)).otherwise(F.lit(7))
    url_hex = F.substring(h, start, length * 2)
    # declared length must fit inside the blob: a truncated frame fails
    # closed to NULL instead of returning a silently shortened url
    fits = start + length * 2 - 1 <= F.length(h)
    valid = tag_ok & (one_byte | (b1 < 128)) & fits
    return F.when(valid, F.decode(F.unhex(url_hex), "UTF-8")).otherwise(
        F.lit(None).cast("string")
    )


def _byte_at(h: Column, pos) -> Column:
    """Byte value at 1-indexed HEX position ``pos`` (2 hex chars)."""
    return F.conv(F.substr(h, pos if isinstance(pos, Column) else F.lit(pos),
                           F.lit(2)), 16, 10).cast("int")


def _varint_hex(n: Column) -> Column:
    """Protobuf varint of ``n`` as hex — 1 byte below 128, 2 bytes
    (little-endian 7-bit groups, continuation bit on the first) up to
    16383. This is the POSITIONAL-ENCODER writer: those encoders copy
    every subtree into 2^fields positions of the expression tree, so
    it must stay tiny (the r9 wide writer inlined here took one
    round-trip test from seconds to 510 s and OOM'd the suite's JVM).
    Their synthesis domain never exceeds 2 bytes; beyond it, fail LOUD
    (never silently truncated bytes). The full-range writer is
    :func:`_varint_hex_wide`, used where parts are lambda-bound."""
    lo = F.lpad(F.hex(F.pmod(n, 128) + 128), 2, "0")
    hi = F.lpad(F.hex(F.floor(n / 128).cast("int")), 2, "0")
    return (
        F.when(n < 128, F.lpad(F.hex(n), 2, "0"))
        .when(n < 16384, F.concat(lo, hi))
        # LOUD failure, not a NULL that concat would swallow into a
        # silently-dropped row
        .otherwise(F.raise_error(F.lit("protobuf length exceeds 2-byte varint")))
    )


def _varint_hex_wide(n: Column) -> Column:
    """Protobuf varint of ``n`` as hex — little-endian 7-bit groups,
    continuation bit on every group but the last, 1..9 bytes covering
    the full non-negative int64 range (real-chain heights, sequence
    numbers and nanosecond timeouts need 5-9 bytes; the 2-byte cap
    through round 8 was the #2 fidelity gap in VERDICT r8). ~40 nodes,
    so callers must reference it through a lambda binding (the
    proto_encode_hex fold does — its parts are lambda variables), NOT
    from the positional encoders whose trees copy subtrees 2^fields
    times. Negative values would need the 10-byte two's-complement
    form this writer does not produce — fail LOUD, never silently
    truncated bytes a decoder would misparse."""
    nn = n.cast("bigint")
    parts = []
    for i in range(9):
        # 7-bit group i, low-to-high; continuation bit set iff a higher
        # group follows (n >= 128^(i+1)); group emitted at all iff it is
        # the low group or n reaches it (n >= 128^i)
        # bit shifts, not division: double-precision /-then-floor loses
        # low bits above 2^53, exactly the 8-9 byte range this exists for
        group = F.shiftright(nn, 7 * i).bitwiseAND(F.lit(127).cast("bigint"))
        # group 8 is the last representable one for int64 (128^9 = 2^63
        # exceeds the type), so it can never carry a continuation bit
        cont = F.lit(False) if i == 8 else (nn >= 128 ** (i + 1))
        byte = group + F.when(cont, F.lit(128)).otherwise(0)
        parts.append(
            F.when(F.lit(i == 0) | (nn >= 128 ** i),
                   F.lpad(F.hex(byte), 2, "0")).otherwise(F.lit(""))
        )
    return F.when(
        nn >= 0, F.concat(*parts)
    ).otherwise(
        F.raise_error(F.lit("protobuf varint writer: negative value"))
    )


def _ld_field(tag_hex: str, payload_hex: Column, nbytes: Column) -> Column:
    """Length-delimited field as hex: tag byte + varint length (1 or 2
    bytes) + payload."""
    return F.concat(F.lit(tag_hex), _varint_hex(nbytes), payload_hex)


def encode_msg_send(from_addr: Column, to_addr: Column,
                    denom: Column, amount: Column) -> Column:
    """Wire bytes of ``cosmos.bank.v1beta1.MsgSend`` (the commonest
    body the reference's registry decodes — decoder.js:11-29
    registry.decode(msg)): field 1 from_address (string), field 2
    to_address (string), field 3 amount (repeated Coin; one coin here),
    Coin = field 1 denom (string) + field 2 amount (DECIMAL STRING per
    the proto, not an int). Pure hex-concat expressions; length
    prefixes are UTF-8 BYTE counts (octet_length), not char counts."""
    coin_hex = F.concat(
        _ld_field("0A", F.hex(denom.cast("binary")), F.octet_length(denom)),
        _ld_field("12", F.hex(amount.cast("binary")), F.octet_length(amount)),
    )
    msg_hex = F.concat(
        _ld_field("0A", F.hex(from_addr.cast("binary")), F.octet_length(from_addr)),
        _ld_field("12", F.hex(to_addr.cast("binary")), F.octet_length(to_addr)),
        _ld_field("1A", coin_hex, (F.length(coin_hex) / 2).cast("int")),
    )
    return F.unhex(msg_hex)


def encode_any_msg(type_url: Column, value: Column) -> Column:
    """``Any{type_url, value}`` wire bytes — the full form of
    ``encode_any`` with the value field present (field 2,
    length-delimited). Varint lengths up to 16383 bytes per part."""
    return F.unhex(F.concat(
        _ld_field("0A", F.hex(type_url.cast("binary")), F.octet_length(type_url)),
        _ld_field("12", F.hex(value), F.length(value)),
    ))


def any_value(blob: Column) -> Column:
    """Extract ``Any.value`` (field 2) as binary: skip field 1 (1- or
    2-byte varint length, same cases as ``any_type_url``), check the
    0x12 tag, decode its varint length, slice. NULL when the layout
    doesn't match — the registry-decode catch branch."""
    h = F.hex(blob)
    tag_ok = F.substring(h, 1, 2) == "0A"
    b0 = _byte_at(h, 3)
    b1 = _byte_at(h, 5)
    one = b0 < 128
    l1 = F.when(one, b0).otherwise((b0 - 128) + b1 * 128)
    p2 = F.when(one, F.lit(5)).otherwise(F.lit(7)) + l1 * 2
    tag2_ok = F.substr(h, p2, F.lit(2)) == "12"
    c0 = _byte_at(h, p2 + 2)
    c1 = _byte_at(h, p2 + 4)
    one2 = c0 < 128
    l2 = F.when(one2, c0).otherwise((c0 - 128) + c1 * 128)
    vstart = p2 + F.when(one2, F.lit(4)).otherwise(F.lit(6))
    # continuation-bit guards: a length needing a 3+-byte varint
    # (>= 16 KiB) fails closed to NULL instead of mis-slicing; the
    # declared value length must also fit inside the blob (truncated
    # frames fail closed, never return a shortened value)
    valid = (
        tag_ok & tag2_ok & (one | (b1 < 128)) & (one2 | (c1 < 128))
        & (vstart + l2 * 2 - 1 <= F.length(h))
    )
    return F.when(
        valid, F.unhex(F.substr(h, vstart, l2 * 2))
    ).otherwise(F.lit(None).cast("binary"))


def encode_tx_raw(msgs: Column, auth_info: Column | None = None) -> Column:
    """Wire bytes of ``cosmos.tx.v1beta1.TxRaw`` from an array of Any
    message blobs — the OUTER envelope the reference decodes first
    (src/utils/decoder.js:12 ``decodeTxRaw(fromBase64(tx))`` before
    walking ``decoded.body.messages``). Layout:

        TxRaw.field1 (0x0A)  body_bytes   = serialized TxBody
        TxRaw.field2 (0x12)  auth_info_bytes (opaque here)
        TxBody.field1 (0x0A, repeated)    = each message as Any bytes

    The body is assembled with a runtime fold (``F.aggregate``) over
    the message array, so the expression tree stays constant-size no
    matter how many messages a tx carries."""
    body_hex = F.aggregate(
        msgs,
        F.lit(""),
        lambda acc, m: F.concat(
            acc, F.lit("0A"), _varint_hex(F.length(m)), F.hex(m)
        ),
    )
    parts = _ld_field("0A", body_hex, (F.length(body_hex) / 2).cast("int"))
    if auth_info is not None:
        parts = F.concat(
            parts, _ld_field("12", F.hex(auth_info), F.length(auth_info))
        )
    return F.unhex(parts)


def tx_raw_body(blob: Column) -> Column:
    """Extract ``TxRaw.body_bytes`` (field 1) as binary — 1- or 2-byte
    varint length (tx bodies routinely exceed 127 bytes). Trailing
    fields (auth_info, signatures) are ignored, exactly like
    ``decodeTxRaw``'s field-selective read. NULL when the blob doesn't
    start with field 1 or the length needs a 3+-byte varint (≥ 16 KiB
    bodies are out of scope for the synthetic corpus; fails closed,
    never mis-slices)."""
    h = F.hex(blob)
    tag_ok = F.substring(h, 1, 2) == "0A"
    b0 = _byte_at(h, 3)
    b1 = _byte_at(h, 5)
    one = b0 < 128
    ln = F.when(one, b0).otherwise((b0 - 128) + b1 * 128)
    start = F.when(one, F.lit(5)).otherwise(F.lit(7))
    # the declared body length must fit inside the blob — a frame cut
    # mid-body fails closed instead of yielding a truncated TxBody
    valid = (
        tag_ok & (one | (b1 < 128)) & (start + ln * 2 - 1 <= F.length(h))
    )
    return F.when(valid, F.unhex(F.substr(h, start, ln * 2))).otherwise(
        F.lit(None).cast("binary")
    )


def tx_body_messages(body: Column, max_msgs: int = 16) -> Column:
    """Split ``TxBody.messages`` (repeated field 1) into an
    ``array<binary>`` of Any blobs — the expression-land
    ``decoded.body.messages`` (decoder.js:13). A runtime fold over a
    constant sequence advances a cursor through the hex form: at each
    step, if the cursor sits on a field-1 tag, slice that message
    (1- or 2-byte varint length) and advance; the scan stops at the
    first non-message tag (cosmjs writes TxBody fields in order, so
    memo/timeout_height always FOLLOW the message block) or at end of
    bytes. ``F.aggregate`` evaluates the lambda per element at runtime
    — the codegen unit stays constant-size regardless of ``max_msgs``
    (contrast msg_send_fields' positional-tree note). Returns NULL on a
    malformed varint (continuation bit in the second length byte)
    instead of a shifted misread; txs with more than ``max_msgs``
    messages return the first ``max_msgs`` (document the cap at call
    sites — the synthetic corpus tops out at 2)."""
    h = F.hex(body)
    n = F.length(h)
    init = F.struct(
        F.lit(1).alias("pos"),
        F.array().cast("array<string>").alias("msgs"),
        F.lit(True).alias("ok"),
    )

    def step(acc: Column, _elem: Column) -> Column:
        pos = acc["pos"]
        at_msg = (pos + 1 < n) & (F.substr(h, pos, F.lit(2)) == "0A")
        b0 = _byte_at(h, pos + 2)
        b1 = _byte_at(h, pos + 4)
        one = b0 < 128
        ln = F.when(one, b0).otherwise((b0 - 128) + b1 * 128)
        hdr = F.when(one, F.lit(4)).otherwise(F.lit(6))
        # malformed: 3+-byte varint, or a declared length overrunning
        # the body (truncated final message) — both fail the whole scan
        bad = (~one & (b1 >= 128)) | (pos + hdr + ln * 2 - 1 > n)
        msg_hex = F.substr(h, pos + hdr, ln * 2)
        return F.when(
            ~at_msg, acc  # past end or at a non-message field: halt
        ).otherwise(
            F.when(
                bad,
                F.struct(
                    (n + F.lit(2)).alias("pos"),
                    acc["msgs"].alias("msgs"),
                    F.lit(False).alias("ok"),
                ),
            ).otherwise(
                F.struct(
                    (pos + hdr + ln * 2).alias("pos"),
                    F.array_append(acc["msgs"], msg_hex).alias("msgs"),
                    acc["ok"].alias("ok"),
                )
            )
        )

    return F.aggregate(
        F.sequence(F.lit(1), F.lit(max_msgs)),
        init,
        step,
        lambda st: F.when(
            st["ok"], F.transform(st["msgs"], lambda m: F.unhex(m))
        ).otherwise(F.lit(None).cast("array<binary>")),
    )


_MSG_SEND_STRUCT = (
    "struct<from_address:string,to_address:string,denom:string,amount:string>"
)


def msg_send_fields(blob: Column) -> Column:
    """Decode a ``MsgSend`` body (the ``Any.value`` bytes) into a
    struct(from_address, to_address, denom, amount) with a sequential
    tag/length scan in pure expressions — the expression-land analog of
    ``registry.decode`` for the reference's commonest message type.

    Per-field lengths use the 1-byte varint fast path: the Cosmos SDK
    bounds every MsgSend component under 128 bytes (bech32 addresses
    ≤ 90, denoms ≤ 128 chars in practice ASCII ≤ 127 here, amounts ≤ 40
    digits). A field the encoder wrote with a 2-byte varint shifts the
    following tag out of place, so the validity conjunction fails and
    the struct comes back NULL (the unknown-type fallback) — a loud
    miss, never a silently shifted misread. Generalizing every length
    read to 2-byte varints was measured to blow the expression tree to
    a 6.4 MiB codegen unit (positions compose as TREES, duplicating
    subexpressions multiplicatively), defeating the scan-speed point.
    The Any-level walkers (any_type_url / any_value) DO handle 2-byte
    varints — the Any value is the one length that routinely exceeds
    127 bytes."""
    h = F.hex(blob)
    ok1 = F.substring(h, 1, 2) == "0A"
    l1 = _byte_at(h, 3)
    frm = F.decode(F.unhex(F.substr(h, F.lit(5), l1 * 2)), "UTF-8")
    p2 = l1 * 2 + 5
    ok2 = F.substr(h, p2, F.lit(2)) == "12"
    l2 = _byte_at(h, p2 + 2)
    to = F.decode(F.unhex(F.substr(h, p2 + 4, l2 * 2)), "UTF-8")
    p3 = p2 + 4 + l2 * 2
    ok3 = F.substr(h, p3, F.lit(2)) == "1A"
    l3 = _byte_at(h, p3 + 2)
    coin = F.substr(h, p3 + 4, l3 * 2)
    okc1 = F.substring(coin, 1, 2) == "0A"
    ld = _byte_at(coin, 3)
    denom = F.decode(F.unhex(F.substr(coin, F.lit(5), ld * 2)), "UTF-8")
    pc = ld * 2 + 5
    okc2 = F.substr(coin, pc, F.lit(2)) == "12"
    la = _byte_at(coin, pc + 2)
    amount = F.decode(F.unhex(F.substr(coin, pc + 4, la * 2)), "UTF-8")
    st = F.struct(
        frm.alias("from_address"),
        to.alias("to_address"),
        denom.alias("denom"),
        amount.alias("amount"),
    )
    # explicit 1-byte-varint guards: a continuation bit in any length
    # byte fails the decode outright instead of shifting the scan
    short = (l1 < 128) & (l2 < 128) & (l3 < 128) & (ld < 128) & (la < 128)
    # the declared coin/amount lengths must land exactly on their
    # containers' ends (the coin is the last field, the amount the
    # coin's) — a body cut mid-amount fails closed, never a short read
    exact = (p3 + 4 + l3 * 2 - 1 == F.length(h)) & (
        pc + 4 + la * 2 - 1 == F.length(coin)
    )
    return F.when(ok1 & ok2 & ok3 & okc1 & okc2 & short & exact, st).otherwise(
        F.lit(None).cast(_MSG_SEND_STRUCT)
    )


def encode_msg_vote(proposal_id: Column, voter: Column,
                    option: Column) -> Column:
    """Wire bytes of ``cosmos.gov.v1beta1.MsgVote``: field 1
    proposal_id (uint64 VARINT — wire type 0, tag 0x08: the first
    scalar-varint field in this registry, everything else is
    length-delimited), field 2 voter (string, 0x12), field 3 option
    (enum varint, 0x18). proposal_id supports the 2-byte varint range
    (< 16384) like every other length in this module; beyond that
    _varint_hex raises rather than truncating."""
    return F.unhex(F.concat(
        F.lit("08"), _varint_hex(proposal_id),
        _ld_field("12", F.hex(voter.cast("binary")), F.octet_length(voter)),
        F.lit("18"), _varint_hex(option),
    ))


_MSG_EXECUTE_STRUCT = (
    "struct<sender:string,contract:string,msg_json:string>"
)


def encode_msg_execute(sender: Column, contract: Column,
                       msg_json: Column) -> Column:
    """Wire bytes of ``cosmwasm.wasm.v1.MsgExecuteContract`` — the
    message type the reference routes to its wasm tables
    (src/utils/decoder.js registers all defaultRegistryTypes; the
    worker's type_wasm routing keys on this family): field 1 sender
    (string), field 2 contract (string), field 3 msg (bytes — the JSON
    payload). Funds (field 5) omitted, matching the common no-funds
    execute. Same pure hex-concat discipline as encode_msg_send."""
    return F.unhex(F.concat(
        _ld_field("0A", F.hex(sender.cast("binary")), F.octet_length(sender)),
        _ld_field("12", F.hex(contract.cast("binary")), F.octet_length(contract)),
        _ld_field("1A", F.hex(msg_json.cast("binary")), F.octet_length(msg_json)),
    ))


def msg_execute_fields(blob: Column) -> Column:
    """Decode a ``MsgExecuteContract`` body into struct(sender,
    contract, msg_json) with the same sequential tag/length scan as
    ``msg_send_fields``. 1-byte varint fast path per field (bech32
    addresses ≤ 90 bytes; the synthetic exec payloads are short JSON);
    any continuation bit fails the whole struct to NULL — the
    unknown-type fallback — never a shifted misread."""
    h = F.hex(blob)
    ok1 = F.substring(h, 1, 2) == "0A"
    l1 = _byte_at(h, 3)
    sender = F.decode(F.unhex(F.substr(h, F.lit(5), l1 * 2)), "UTF-8")
    p2 = l1 * 2 + 5
    ok2 = F.substr(h, p2, F.lit(2)) == "12"
    l2 = _byte_at(h, p2 + 2)
    contract = F.decode(F.unhex(F.substr(h, p2 + 4, l2 * 2)), "UTF-8")
    p3 = p2 + 4 + l2 * 2
    ok3 = F.substr(h, p3, F.lit(2)) == "1A"
    l3 = _byte_at(h, p3 + 2)
    msg_json = F.decode(F.unhex(F.substr(h, p3 + 4, l3 * 2)), "UTF-8")
    st = F.struct(
        sender.alias("sender"),
        contract.alias("contract"),
        msg_json.alias("msg_json"),
    )
    short = (l1 < 128) & (l2 < 128) & (l3 < 128)
    # msg (field 3) is the last field: its declared length must land
    # exactly on the body's end — a truncated payload fails closed
    exact = p3 + 4 + l3 * 2 - 1 == F.length(h)
    return F.when(ok1 & ok2 & ok3 & short & exact, st).otherwise(
        F.lit(None).cast(_MSG_EXECUTE_STRUCT)
    )


def encode_msg_withdraw_reward(delegator: Column, validator: Column) -> Column:
    """Wire bytes of
    ``cosmos.distribution.v1beta1.MsgWithdrawDelegatorReward``: the
    registry's first COIN-LESS body — field 1 delegator (string),
    field 2 validator (string), nothing else (the reward amount is an
    event output, not a message field)."""
    return F.unhex(F.concat(
        _ld_field("0A", F.hex(delegator.cast("binary")),
                  F.octet_length(delegator)),
        _ld_field("12", F.hex(validator.cast("binary")),
                  F.octet_length(validator)),
    ))


def encode_msg_redelegate(delegator: Column, src: Column, dst: Column,
                          denom: Column, amount: Column) -> Column:
    """Wire bytes of ``cosmos.staking.v1beta1.MsgBeginRedelegate``:
    field 1 delegator, field 2 validator_src, field 3 validator_dst
    (strings), field 4 a Coin (tag 0x22) — the first FOUR-field body
    in this registry."""
    coin_hex = F.concat(
        _ld_field("0A", F.hex(denom.cast("binary")), F.octet_length(denom)),
        _ld_field("12", F.hex(amount.cast("binary")), F.octet_length(amount)),
    )
    return F.unhex(F.concat(
        _ld_field("0A", F.hex(delegator.cast("binary")),
                  F.octet_length(delegator)),
        _ld_field("12", F.hex(src.cast("binary")), F.octet_length(src)),
        _ld_field("1A", F.hex(dst.cast("binary")), F.octet_length(dst)),
        _ld_field("22", coin_hex, (F.length(coin_hex) / 2).cast("int")),
    ))


# --------------------------------------------------------------------------
# Generic wire walker + generic encoder — the constant-size registry path
# --------------------------------------------------------------------------
#
# The per-type positional scanners above (msg_send_fields,
# msg_execute_fields) compose field POSITIONS as expression trees: every
# later field's offset embeds every earlier field's length subtree, so
# tree size grows ~2^fields and a 10-type union costs minutes of
# Catalyst analysis + Janino compile per invocation while touching
# almost no rows (round-6 profile:
# ~55 s analysis + ~100 s compile for 10k rows at sf0.01). The walker
# below is the other point in the design space — the tx_body_messages
# pattern generalized: ONE constant-size fold expression walks every
# top-level field into (field_no → payload) maps, so plan size is
# independent of both message complexity and registry breadth. The fold
# evaluates interpreted (higher-order functions are CodegenFallback),
# trading bounded per-row eval cost for the unbounded per-invocation
# compile cost — measured in PLANS.md; the scan is a few hundred ns/row
# on 100-byte bodies, while the compile cost the old shape pays again
# on EVERY invocation already exceeds the fold's total row work by
# orders of magnitude at any realistic per-query data volume.

def proto_scan_hex(h: Column, max_fields: int = 8) -> Column:
    """Walk ALL top-level fields of a protobuf message given as a HEX
    string. Returns ``struct(ok boolean, ld map<int,array<string>>,
    vi map<int,bigint>)``: length-delimited payloads (as hex) keyed by
    field number in ``ld`` — REPEATED occurrences append in wire order
    (multi-coin amounts, MsgMultiSend inputs/outputs, MsgExec msgs:
    the cosmjs shapes that fail-closed through round 8, VERDICT r8
    missing #1) — and scalar values in ``vi``, where a repeated
    occurrence takes the LAST value (proto3 merge semantics for
    singular scalars). ``ok`` is true only for a clean walk:

    - tags of 1-2 bytes (fields 1..2047 — every field number a Cosmos
      message uses); 3-byte tags and field 0 fail closed;
    - wire types 0 (varint, 1-9 bytes ≤ int64 max — a 10-byte varint,
      i.e. a uint64 with bit 63 set, fails closed), 2 (len-delimited,
      any length that fits the blob), 5 (fixed32 → ``vi``, little-
      endian) and 1 (fixed64 → ``vi``; top-bit-set values exceed
      signed int64 and fail closed);
    - every declared length inside the blob, and the cursor landing
      EXACTLY on the end.

    Anything else fails the whole scan closed (``ok=false``) — the
    reference's unknown-type fallback (src/utils/decoder.js:20-24),
    never a shifted misread.

    One fold over ``sequence(1, max_fields)`` — each wire field
    (repeats included) consumes one step, and message shapes with more
    fields than ``max_fields`` fail closed (the cursor can't reach the
    end), they are never silently truncated.

    The input ``h`` is BOUND ONCE as a lambda variable (a one-element
    ``transform``) before the fold references it ~10×: without the
    binding, every nesting level — and the registry's two-deep Any
    unwraps nest three scans — multiplies the caller's subtree ~10×
    into the plan, which is exponential tree growth the driver pays
    for in analysis heap (a measured OOM at two levels), not just
    eval time. With it, composition is additive."""
    return F.element_at(
        F.transform(F.array(h), lambda hh: _proto_scan_hex_bound(hh, max_fields)),
        1,
    )


def ld1(ld_map: Column, fno) -> Column:
    """First payload of field ``fno`` in a scan's ``ld`` map — the
    accessor for SINGULAR message/string fields (standard encoders
    emit them once; on a malformed repeat the first occurrence is as
    good an anchor as any; ``ld_map[fno]`` keeps every occurrence).
    NULL-safe: missing field → NULL."""
    return F.element_at(ld_map[fno], 1)


def _proto_scan_hex_bound(h: Column, max_fields: int) -> Column:
    """The walk itself, over an already-bound ``h`` (see above)."""
    n = F.length(h)
    empty_ld = F.map_from_arrays(
        F.array().cast("array<int>"), F.array().cast("array<array<string>>")
    )
    empty_vi = F.map_from_arrays(
        F.array().cast("array<int>"), F.array().cast("array<bigint>")
    )
    init = F.struct(
        F.lit(1).alias("pos"),
        empty_ld.alias("ld"),
        empty_vi.alias("vi"),
        F.lit(True).alias("ok"),
    )

    def step(acc: Column, _elem: Column) -> Column:
        pos = acc["pos"]
        done = pos > n
        # 1- or 2-byte TAG varint (fields ≤ 2047 — covers every proto
        # field number a Cosmos message uses; 3-byte tags fail closed
        # below via tv >= 16384, which is exactly "t1 carries a
        # continuation bit"). t0/t1 NULL (reads past the blob) poison
        # tv to NULL, which the coalesced bad-check turns into a fail.
        t0 = _byte_at(h, pos)
        t1 = _byte_at(h, pos + 2)
        tv_expr = F.when(t0 < 128, t0).otherwise((t0 - 128) + t1 * 128)
        tl_expr = F.when(t0 < 128, F.lit(2)).otherwise(F.lit(4))
        # Expressions are TREES, not DAGs: every Python-level reference
        # below would copy its subtree into the plan, and the body
        # references the bytes ~30×, nb ~15× and v ~6× — unbound, that
        # multiplies to a >250 MiB task binary once the registry nests
        # 14 of these scans (measured OOM, and a second driver OOM at
        # ~3× r8 tree size from the stream's one-tree plan). Bind the
        # tag value/length and the nine post-tag bytes as ONE struct,
        # then nb, then v, each as a lambda variable (the
        # proto_scan_hex one-element-transform discipline) so the step
        # stays a few hundred nodes regardless of reference count.
        bytes_struct = F.struct(
            tv_expr.alias("tv"),
            tl_expr.alias("tl"),
            *[_byte_at(h, pos + tl_expr + 2 * i).alias(f"b{i}")
              for i in range(9)],
        )

        def with_bytes(bs: Column) -> Column:
            vb = [bs[f"b{i}"] for i in range(9)]
            # nb = index of the first byte WITHOUT a continuation bit,
            # +1 (bytes 0..nb-2 all carry it); NULL if none of the 9 do
            nb_expr = F.lit(None).cast("int")
            cont_prefix = F.lit(True)
            for i in range(9):
                nb_expr = F.coalesce(nb_expr,
                                     F.when(cont_prefix & (vb[i] < 128),
                                            F.lit(i + 1)))
                cont_prefix = cont_prefix & (vb[i] >= 128)
            return F.element_at(
                F.transform(F.array(nb_expr),
                            lambda nb: _with_nb(bs, nb)), 1)

        def _with_nb(bs: Column, nb: Column) -> Column:
            vb = [bs[f"b{i}"] for i in range(9)]
            # general varint after the tag (the scalar value for wt=0,
            # the length for wt=2): 1-9 little-endian 7-bit groups.
            # Bytes past the blob read as NULL/garbage; the nb NULL-
            # check + the bounds check in the body fail those closed
            # before the value is ever trusted.
            v_expr = F.lit(0).cast("bigint")
            for i in range(9):
                v_expr = v_expr + F.when(
                    F.lit(i) < nb,
                    F.shiftleft((vb[i] % 128).cast("bigint"), 7 * i),
                ).otherwise(F.lit(0).cast("bigint"))

            tl = bs["tl"]
            fno = F.floor(bs["tv"] / 8).cast("int")
            wt = bs["tv"] % 8

            def with_v(v: Column) -> Column:
                hdr = tl + nb * 2       # tag + varint, hex chars
                end0 = pos + hdr        # first hex pos AFTER a wt=0 field
                # Clamp the declared wt=2 length BEFORE any arithmetic
                # touches it: a 9-byte varint can declare up to 2^63-1
                # bytes, and v*2 overflows bigint — under ANSI (this
                # session's default) that throws and kills the whole
                # query instead of failing the scan closed; with ANSI
                # off it wraps and a crafted blob could land the
                # wrapped cursor exactly on the end (ok=true misparse).
                # A length > n/2 already overruns the blob, so
                # least(v, n+1) preserves the overrun verdict (the
                # explicit v > n term below makes it unconditional)
                # while keeping end2/payload arithmetic in range.
                vc = F.least(v, (n + 1).cast("bigint"))
                end2 = pos + hdr + vc * 2  # ... AFTER a wt=2 field
                payload = F.substr(h, pos + hdr, vc * 2)
                # fixed-width fields reuse the bound post-tag bytes
                # (little-endian); f64 top bit exceeds signed int64 —
                # fail closed below
                v32 = sum(
                    (F.shiftleft(vb[i].cast("bigint"), 8 * i)
                     for i in range(1, 4)),
                    vb[0].cast("bigint"),
                )
                v64 = sum(
                    (F.shiftleft(vb[i].cast("bigint"), 8 * i)
                     for i in range(1, 8)),
                    vb[0].cast("bigint"),
                )
                # NULL-safe: any unreadable byte makes a comparison
                # NULL, and a NULL `bad` must mean bad
                bad = F.coalesce(
                    (pos + tl + 1 > n)         # tag + at least one byte
                    | (bs["tv"] >= 16384)      # 3-byte tag (field > 2047)
                    | (fno < 1)                # field 0 is not legal wire
                    | ~wt.isin(0, 1, 2, 5)     # unsupported wire type
                    | (wt.isin(0, 2)
                       & (nb.isNull() | (pos + tl - 1 + 2 * nb > n)))
                    | ((wt == 2) & (v > n))        # length can't fit even pre-clamp
                    | ((wt == 2) & (end2 - 1 > n))  # payload overrun
                    | ((wt == 5) & (pos + tl + 7 > n))
                    | ((wt == 1) & ((pos + tl + 15 > n) | (vb[7] >= 128))),
                    F.lit(True),
                )
                appended = F.concat(
                    F.coalesce(acc["ld"][fno],
                               F.array().cast("array<string>")),
                    F.array(payload),
                )
                new_ld = F.when(
                    wt == 2,
                    F.map_concat(
                        F.map_filter(acc["ld"], lambda k, _: k != fno),
                        F.map_from_arrays(F.array(fno), F.array(appended)),
                    ),
                ).otherwise(acc["ld"])
                scalar = (F.when(wt == 0, v).when(wt == 5, v32)
                          .otherwise(v64))
                new_vi = F.when(
                    wt != 2,
                    F.map_concat(
                        F.map_filter(acc["vi"], lambda k, _: k != fno),
                        F.map_from_arrays(F.array(fno), F.array(scalar)),
                    ),
                ).otherwise(acc["vi"])
                new_pos = (
                    F.when(wt == 0, end0)
                    .when(wt == 2, end2)
                    .when(wt == 5, pos + tl + 8)
                    .otherwise(pos + tl + 16)
                    .cast("int")
                )
                return F.when(
                    bad,
                    F.struct(
                        F.coalesce(n + 2, F.lit(2)).cast("int").alias("pos"),
                        acc["ld"].alias("ld"),
                        acc["vi"].alias("vi"),
                        F.lit(False).alias("ok"),
                    ),
                ).otherwise(
                    F.struct(
                        new_pos.alias("pos"),
                        new_ld.alias("ld"),
                        new_vi.alias("vi"),
                        acc["ok"].alias("ok"),
                    )
                )

            return F.element_at(F.transform(F.array(v_expr), with_v), 1)

        advanced = F.element_at(
            F.transform(F.array(bytes_struct), with_bytes), 1)
        return F.when(
            F.coalesce(done, F.lit(False)) | ~acc["ok"], acc
        ).otherwise(advanced)

    return F.aggregate(
        F.sequence(F.lit(1), F.lit(max_fields)),
        init,
        step,
        lambda st: F.struct(
            F.coalesce(st["ok"] & (st["pos"] == n + 1), F.lit(False)).alias("ok"),
            st["ld"].alias("ld"),
            st["vi"].alias("vi"),
        ),
    )


def pf_str(fno: int, s: Column) -> Column:
    """Encoder part: length-delimited UTF-8 string field."""
    return pf_ld(fno, F.hex(s.cast("binary")))


def pf_ld(fno: int, payload_hex: Column) -> Column:
    """Encoder part: length-delimited field from an already-hex payload
    (nested message / bytes)."""
    return F.struct(
        F.lit(fno).cast("int").alias("fno"),
        F.lit(2).cast("int").alias("wt"),
        F.lit(None).cast("bigint").alias("vi"),
        payload_hex.alias("ld"),
    )


def pf_varint(fno: int, v: Column) -> Column:
    """Encoder part: scalar varint field (wire type 0)."""
    return F.struct(
        F.lit(fno).cast("int").alias("fno"),
        F.lit(0).cast("int").alias("wt"),
        v.cast("bigint").alias("vi"),
        F.lit(None).cast("string").alias("ld"),
    )


def proto_encode_hex(*parts: Column) -> Column:
    """Encode a protobuf message as a HEX string from ``pf_str`` /
    ``pf_ld`` / ``pf_varint`` parts — the generic-encoder twin of
    ``proto_scan_hex``, one constant-size fold regardless of field
    count (vs the per-type hex-concat encoders whose trees the
    registry's union multiplied into minutes of compile). Fields are
    written in the order given; callers pass them in field-number
    order, matching cosmjs' ordered writers.

    Field numbers above 15 need a multi-byte tag this single-byte
    writer does not produce — fail LOUD (the ``_varint_hex`` policy),
    never an ``lpad``-truncated tag that decoders would misparse."""
    arr = F.array(*parts)
    return F.aggregate(
        arr,
        F.lit(""),
        lambda acc, p: F.concat(
            acc,
            F.when(
                p["fno"] * 8 + p["wt"] < 128,
                F.lpad(F.hex(p["fno"] * 8 + p["wt"]), 2, "0"),
            ).otherwise(
                F.raise_error(
                    F.lit("protobuf field number exceeds single-byte tag")
                )
            ),
            F.when(p["wt"] == 0, _varint_hex_wide(p["vi"])).otherwise(
                F.concat(
                    _varint_hex_wide((F.length(p["ld"]) / 2).cast("int")),
                    p["ld"],
                )
            ),
        ),
    )

