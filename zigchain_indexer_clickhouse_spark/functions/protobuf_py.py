"""Arrow-batched Python protobuf walker and registry dispatch — the
executable specification of the registry decode, which the C kernel
(functions/native_walk.c) ports line for line, and its fallback where
no C toolchain exists.

The generic walker (functions/protobuf.py proto_scan_hex) is a
higher-order-function fold: constant plan size at any registry breadth,
but CodegenFallback — interpreted per-row eval measured at tens of µs
per message (PLANS.md r8/r9 rows). That is the right trade for the
bounded-range reads and ≤37-group streaming state it was built for,
and the WRONG one for a full-chain at-rest scan (10¹¹ messages ≈ 10⁵
core-hours interpreted — VERDICT r8 "What's wrong" #2). This module is
the other point in the design space the brief names explicitly: when
built-in operators genuinely can't express the semantics efficiently,
drop to an Arrow-batched Python map (mapInPandas) — a tight Python
byte-walk at ~1-2 µs/row, vectorized transfer, zero JVM codegen.

The walker's semantics are the expression walker's, bit for bit —
same fail-closed rules (single-byte tags, wire types 0/1/2/5, 1-9 byte
varints, exact cursor landing, max_fields budgets), same
repeated-field arrays, same proto3 last-wins scalars — enforced by a
hypothesis property that drives both walkers over random wire bytes
(tests/test_protobuf_py.py); the C kernel is held to this module by
the property tests of tests/test_native_registry.py, and the registry
operators run against the same DuckDB oracle.

Reference anchor: src/utils/decoder.js:12-29 — cosmjs decodeTxRaw +
registry.decode with the unknown-type fallback at decoder.js:20-24.
"""

from __future__ import annotations

import json
import re

_INT64_MAX = (1 << 63) - 1


# --- wire encoder -----------------------------------------------------------
# The writer side of the walker: the byte-level twin of the Column
# encoders in functions/protobuf.py (pf_str / pf_ld / pf_varint folded
# by proto_encode_hex), with the same loud failures.

def enc_varint(n: int) -> bytes:
    """Protobuf varint of ``n``: little-endian 7-bit groups, the
    continuation bit on every group but the last. A negative value
    would need the 10-byte two's-complement form — raise, like the
    Column writer, rather than emit bytes a decoder would misparse."""
    if n < 0:
        raise ValueError("protobuf varint writer: negative value")
    out = bytearray()
    while n >= 128:
        out.append(n & 127 | 128)
        n >>= 7
    out.append(n)
    return bytes(out)


def _enc_tag(fno: int, wt: int) -> bytes:
    tag = fno << 3 | wt
    if tag >= 128:
        raise ValueError("protobuf field number exceeds single-byte tag")
    return bytes((tag,))


def enc_varint_field(fno: int, v: int) -> bytes:
    """Scalar varint field (wire type 0)."""
    return _enc_tag(fno, 0) + enc_varint(v)


def enc_ld_field(fno: int, payload: bytes) -> bytes:
    """Length-delimited field (wire type 2): nested message or bytes."""
    return _enc_tag(fno, 2) + enc_varint(len(payload)) + payload


def enc_str_field(fno: int, s: str) -> bytes:
    """Length-delimited UTF-8 string field."""
    return enc_ld_field(fno, s.encode())


def walk(data: bytes, max_fields: int = 8):
    """Walk every top-level protobuf field of ``data``. Returns
    ``(ok, ld, vi)`` where ``ld`` maps field_no → [payload bytes, ...]
    (repeats in wire order) and ``vi`` maps field_no → int (last
    occurrence wins; fixed32/fixed64 little-endian land here too).
    ``ok`` is False — and the maps are whatever was parsed before the
    failure, exactly like the expression walker's fail-closed struct —
    on: a 3-byte tag (field > 2047) or field 0, wire types 3/4, a
    varint past 9 bytes or overrunning the blob, a fixed64 with the
    top bit set, a declared length outside the blob, more fields than
    ``max_fields``, or a cursor that misses the exact end."""
    ld: dict[int, list[bytes]] = {}
    vi: dict[int, int] = {}
    pos, n = 0, len(data)
    steps = 0
    while pos < n:
        steps += 1
        if steps > max_fields:
            return False, ld, vi
        # 1- or 2-byte tag varint (fields 1..2047)
        t0 = data[pos]
        if t0 < 128:
            tag = t0
            pos += 1
        else:
            if pos + 2 > n:
                return False, ld, vi
            t1 = data[pos + 1]
            if t1 >= 128:  # 3-byte tag: field > 2047
                return False, ld, vi
            tag = (t0 & 0x7F) | (t1 << 7)
            pos += 2
        if pos >= n:  # tag with no field bytes
            return False, ld, vi
        fno, wt = tag >> 3, tag & 7
        if fno < 1:
            return False, ld, vi
        if wt in (0, 2):
            v, shift, i = 0, 0, pos
            while True:
                if i >= n or i - pos >= 9:
                    return False, ld, vi
                b = data[i]
                v |= (b & 0x7F) << shift
                shift += 7
                i += 1
                if b < 128:
                    break
            if v > _INT64_MAX:
                return False, ld, vi
            if wt == 0:
                vi[fno] = v
                pos = i
            else:
                if i + v > n:
                    return False, ld, vi
                ld.setdefault(fno, []).append(data[i:i + v])
                pos = i + v
        elif wt == 5:
            if pos + 4 > n:
                return False, ld, vi
            vi[fno] = int.from_bytes(data[pos:pos + 4], "little")
            pos += 4
        elif wt == 1:
            if pos + 8 > n or data[pos + 7] >= 128:
                return False, ld, vi
            vi[fno] = int.from_bytes(data[pos:pos + 8], "little")
            pos += 8
        else:
            return False, ld, vi
    return pos == n, ld, vi


# --- registry dispatch ------------------------------------------------------

_AMT_RE = re.compile(r"-?[0-9]+")


def _coin_amt(payload: bytes):
    """Coin{denom=1, amount=2} → int(amount), None on any miss.

    The parse is gated on canonical digits (bare ``int(str)`` accepts
    underscores, '+', and surrounding whitespace) and on the int64
    range: every non-canonical or overflowing amount is NULL."""
    ok, ld, _vi = walk(payload, 2)
    if not ok or 2 not in ld:
        return None
    try:
        s = ld[2][0].decode()
    except UnicodeDecodeError:
        return None
    if not _AMT_RE.fullmatch(s):
        return None
    v = int(s)
    return v if -(1 << 63) <= v < (1 << 63) else None


def _coin_amt_sum(payloads):
    """Sum of a repeated Coin field; None poisons the whole sum."""
    if payloads is None:
        return None
    total = 0
    for p in payloads:
        a = _coin_amt(p)
        if a is None:
            return None
        total += a
    return total


def registry_decode_py(blob: bytes, urls: dict) -> tuple:
    """Decode one Any-wrapped registry message into the (type_url,
    status, amt, pid, yes, timeout) tuple; ``status`` keys on the
    decode outcome.  ``urls`` carries the type-url constants (passed in
    to keep this module import-light on executors)."""
    # the Any unwrap consumes whatever fields the scan CAPTURED (the
    # walker's fail-closed result keeps the partial maps, and the
    # dispatch never gates on the outer ok — a missing field 2 simply
    # makes the body scan fail)
    _ok_any, a_ld, _ = walk(blob, 2)
    url_b = a_ld.get(1, [None])[0]
    body = a_ld.get(2, [None])[0]
    try:
        u = url_b.decode() if url_b is not None else None
    except UnicodeDecodeError:
        u = None
    s_ok, ld, vi = walk(body, 8) if body is not None else (False, {}, {})

    def l1(k):
        return ld[k][0] if k in ld else None

    def has_ld(*ks):
        return all(k in ld for k in ks)

    def has_vi(*ks):
        return all(k in vi for k in ks)

    amt = pid = yes = timeout = None
    shape_ok = False
    needs_amt = False
    U = urls

    if u in (U["send"], U["delegate"], U["undelegate"], U["transfer"],
             U["deposit"], U["vesting"], U["perm_locked"],
             U["gov_v1_deposit"]):
        amt = _coin_amt_sum(ld.get(3))
    elif u == U["redelegate"]:
        amt = _coin_amt(l1(4)) if l1(4) is not None else None
    elif u == U["create_val"]:
        amt = _coin_amt(l1(7)) if l1(7) is not None else None
    elif u == U["exec"]:
        try:
            amt_s = json.loads(l1(3).decode())["transfer"]["amount"]
            amt = int(amt_s)
        except Exception:  # noqa: BLE001 — bad JSON amount fails closed
            amt = None
    elif u == U["authz_exec"]:
        a2_ok, a2_ld, _ = walk(l1(2) or b"\xff", 2)
        if a2_ok and a2_ld.get(1, [b""])[0].decode(
                "utf-8", "replace") == U["send"]:
            i_ok, i_ld, _ = walk(a2_ld.get(2, [b""])[0], 4)
            if i_ok:
                amt = _coin_amt_sum(i_ld.get(3))
    elif u == U["grant_allow"]:
        a3_ok, a3_ld, _ = walk(l1(3) or b"\xff", 2)
        if a3_ok and a3_ld.get(1, [b""])[0].decode(
                "utf-8", "replace") == U["basic_allowance"]:
            b_ok, b_ld, _ = walk(a3_ld.get(2, [b""])[0], 2)
            if b_ok:
                amt = _coin_amt_sum(b_ld.get(1))
    elif u in (U["cancel_unbond"], U["fund_pool"]):
        src = l1(1) if u == U["fund_pool"] else l1(3)
        amt = _coin_amt(src) if src is not None else None
    elif u == U["multisend"]:
        total = 0
        for o in ld.get(2, []) or [None]:
            if o is None:
                total = None
                break
            o_ok, o_ld, _ = walk(o, 4)
            part = _coin_amt_sum(o_ld.get(2)) if o_ok else None
            if part is None:
                total = None
                break
            total += part
        amt = total if ld.get(2) else None
    elif u == U["submit_proposal"]:
        amt = _coin_amt_sum(ld.get(2))
    elif u == U["periodic_vest"]:
        p_ok, p_ld, _ = walk(l1(4) or b"\xff", 2)
        if p_ok:
            amt = _coin_amt_sum(p_ld.get(2))
    elif u == U["instantiate"]:
        amt = _coin_amt_sum(ld.get(6))
    elif u == U["gov_v1_submit"]:
        total = 0
        for m in ld.get(1, []) or [None]:
            if m is None:
                total = None
                break
            m_ok, m_ld, _ = walk(m, 2)
            part = None
            if m_ok and m_ld.get(1, [b""])[0].decode(
                    "utf-8", "replace") == U["send"]:
                b_ok, b_ld, _ = walk(m_ld.get(2, [b""])[0], 8)
                if b_ok:
                    part = _coin_amt_sum(b_ld.get(3))
            if part is None:
                total = None
                break
            total += part
        dep = _coin_amt_sum(ld.get(2))
        amt = (total + dep) if (total is not None and dep is not None) \
            else None
    elif u == U["submit_evidence"]:
        a2_ok, a2_ld, _ = walk(l1(2) or b"\xff", 2)
        if a2_ok and a2_ld.get(1, [b""])[0].decode(
                "utf-8", "replace") == U["equivocation"]:
            e_ok, _e_ld, e_vi = walk(a2_ld.get(2, [b""])[0], 4)
            if e_ok:
                amt = e_vi.get(3)   # Equivocation.power
    elif u == U["group_submit"]:
        # repeated-Any messages (field 4): the gov v1 submit shape,
        # without the initial-deposit coins
        total = 0
        for m in ld.get(4, []) or [None]:
            if m is None:
                total = None
                break
            m_ok, m_ld, _ = walk(m, 2)
            part = None
            if m_ok and m_ld.get(1, [b""])[0].decode(
                    "utf-8", "replace") == U["send"]:
                b_ok, b_ld, _ = walk(m_ld.get(2, [b""])[0], 8)
                if b_ok:
                    part = _coin_amt_sum(b_ld.get(3))
            if part is None:
                total = None
                break
            total += part
        amt = total if ld.get(4) else None

    if u in (U["vote"], U["deposit"], U["vote_weighted"], U["gov_v1_vote"],
             U["gov_v1_deposit"], U["group_withdraw"], U["group_vote"],
             U["group_exec"], U["gov_v1_vote_weighted"]):
        pid = vi.get(1)
    elif u in (U["group_upd_members"], U["group_upd_admin"],
               U["group_upd_metadata"], U["group_create_policy"],
               U["group_leave"]):
        pid = vi.get(2)   # group_id
    if u in (U["vote"], U["gov_v1_vote"], U["group_vote"]):
        yes = 1 if vi.get(3) == 1 else (0 if 3 in vi else None)
    elif u in (U["vote_weighted"], U["gov_v1_vote_weighted"]):
        w_ok, _w_ld, w_vi = walk(l1(3) or b"\xff", 2)
        if w_ok:
            yes = 1 if w_vi.get(1) == 1 else (0 if 1 in w_vi else None)
    elif u == U["group_create_with_policy"]:
        yes = 1 if vi.get(5) == 1 else (0 if 5 in vi else None)
    elif u == U["chan_open_init"]:
        # Channel.state enum at field 2
        c_ok, _c_ld, c_vi = walk(l1(2) or b"\xff", 4)
        if c_ok:
            yes = 1 if c_vi.get(1) == 1 else (0 if 1 in c_vi else None)
    elif u == U["chan_open_try"]:
        # Channel.state enum at field 3
        c_ok, _c_ld, c_vi = walk(l1(3) or b"\xff", 4)
        if c_ok:
            yes = 1 if c_vi.get(1) == 1 else (0 if 1 in c_vi else None)

    pkt_ok, pkt_ld, pkt_vi = walk(l1(1) or b"\xff", 8)
    if u == U["transfer"]:
        timeout = vi.get(7)
    elif u in (U["vesting"], U["cancel_unbond"]):
        timeout = vi.get(4)
    elif u in (U["recv_packet"], U["ack"], U["timeout"]):
        timeout = pkt_vi.get(8) if pkt_ok else None
    elif u == U["periodic_vest"]:
        timeout = vi.get(3)
    elif u == U["submit_evidence"]:
        a2_ok, a2_ld, _ = walk(l1(2) or b"\xff", 2)
        if a2_ok and a2_ld.get(1, [b""])[0].decode(
                "utf-8", "replace") == U["equivocation"]:
            e_ok, _e_ld, e_vi = walk(a2_ld.get(2, [b""])[0], 4)
            if e_ok:
                timeout = e_vi.get(1)   # Equivocation.height
    # r12 IBC handshakes: delay_period varints, proof-Height
    # revision_height, and the MsgTimeoutOnClose packet timeout
    elif u == U["conn_open_init"]:
        timeout = vi.get(4)
    elif u == U["conn_open_try"]:
        timeout = vi.get(5)
    elif u == U["conn_open_confirm"]:
        h_ok, _h_ld, h_vi = walk(l1(3) or b"\xff", 2)
        if h_ok:
            timeout = h_vi.get(2)
    elif u in (U["chan_open_try"], U["chan_open_ack"]):
        h_ok, _h_ld, h_vi = walk(l1(6) or b"\xff", 2)
        if h_ok:
            timeout = h_vi.get(2)
    elif u in (U["chan_open_confirm"], U["chan_close_confirm"]):
        h_ok, _h_ld, h_vi = walk(l1(4) or b"\xff", 2)
        if h_ok:
            timeout = h_vi.get(2)
    elif u == U["timeout_on_close"]:
        timeout = pkt_vi.get(8) if pkt_ok else None

    # shape checks — one arm per type, mirroring the expression dispatch
    if u in (U["send"], U["delegate"], U["undelegate"], U["exec"]):
        shape_ok = has_ld(1, 2, 3)
    elif u == U["vote"]:
        shape_ok = has_vi(1, 3) and has_ld(2)
    elif u == U["transfer"]:
        shape_ok = has_ld(1, 2, 3, 4, 5) and has_vi(7)
    elif u in (U["withdraw"], U["set_withdraw"], U["revoke_allow"]):
        shape_ok = has_ld(1, 2)
    elif u == U["redelegate"]:
        shape_ok = has_ld(1, 2, 3, 4)
    elif u == U["deposit"]:
        shape_ok = has_vi(1) and has_ld(2, 3)
    elif u == U["grant"]:
        g_ok, g_ld, _ = walk(l1(3) or b"\xff", 2)
        ga_ok, ga_ld, _ = (walk(g_ld.get(1, [b"\xff"])[0], 2)
                           if g_ok else (False, {}, {}))
        shape_ok = (has_ld(1, 2, 3) and g_ok and ga_ok
                    and ga_ld.get(1, [b""])[0].decode("utf-8", "replace")
                    == U["stake_auth"])
    elif u in (U["authz_exec"], U["grant_allow"]):
        shape_ok = has_ld(1, 2)
    elif u == U["revoke"]:
        shape_ok = has_ld(1, 2, 3)
    elif u == U["unjail"]:
        shape_ok = has_ld(1)
    elif u == U["create_val"]:
        d_ok, d_ld, _ = walk(l1(1) or b"\xff", 2)
        shape_ok = has_ld(1, 3, 4, 5, 7) and d_ok and 1 in d_ld
    elif u == U["edit_val"]:
        d_ok, d_ld, _ = walk(l1(1) or b"\xff", 2)
        shape_ok = has_ld(1, 2, 3, 4) and d_ok and 1 in d_ld
    elif u == U["vesting"]:
        shape_ok = has_ld(1, 2, 3) and has_vi(4)
    elif u == U["multisend"]:
        o_ok, o_ld, _ = walk(l1(2) or b"\xff", 2)
        shape_ok = has_ld(1, 2) and o_ok and 1 in o_ld
    elif u == U["cancel_unbond"]:
        shape_ok = has_ld(1, 2, 3) and has_vi(4)
    elif u == U["fund_pool"]:
        shape_ok = has_ld(1, 2)
    elif u == U["withdraw_comm"]:
        shape_ok = has_ld(1)
    elif u == U["vote_weighted"]:
        w_ok, w_ld, _ = walk(l1(3) or b"\xff", 2)
        shape_ok = has_vi(1) and has_ld(2, 3) and w_ok and 2 in w_ld
    elif u == U["submit_proposal"]:
        p_ok, p_ld, _ = walk(l1(1) or b"\xff", 2)
        shape_ok = (has_ld(1, 2, 3) and p_ok
                    and p_ld.get(1, [b""])[0].decode("utf-8", "replace")
                    == U["text_proposal"])
    elif u == U["update_client"]:
        a2_ok, a2_ld, _ = walk(l1(2) or b"\xff", 2)
        shape_ok = (has_ld(1, 2) and a2_ok
                    and a2_ld.get(1, [b""])[0].decode("utf-8", "replace")
                    == U["tm_header"])
    elif u == U["recv_packet"]:
        g_ok, _g_ld, _g_vi = walk(l1(3) or b"\xff", 2)
        shape_ok = (has_ld(1, 2, 3, 4) and pkt_ok and g_ok
                    and 8 in pkt_vi)
    elif u == U["perm_locked"]:
        shape_ok = has_ld(1, 2, 3)
    elif u == U["periodic_vest"]:
        p_ok, _p_ld, _ = walk(l1(4) or b"\xff", 2)
        shape_ok = has_ld(1, 2, 4) and has_vi(3) and p_ok
    elif u == U["instantiate"]:
        shape_ok = has_ld(1, 2, 4, 5, 6) and has_vi(3)
    elif u == U["verify_invariant"]:
        shape_ok = has_ld(1, 2, 3)
    elif u == U["gov_v1_vote"]:
        shape_ok = has_vi(1, 3) and has_ld(2, 4)
    elif u == U["gov_v1_deposit"]:
        shape_ok = has_vi(1) and has_ld(2, 3)
    elif u == U["gov_v1_submit"]:
        shape_ok = has_ld(1, 2, 3)
    elif u == U["ack"]:
        h_ok, _h_ld, _h_vi = walk(l1(4) or b"\xff", 2)
        shape_ok = (has_ld(1, 2, 3, 4, 5) and pkt_ok and h_ok
                    and 8 in pkt_vi)
    elif u == U["timeout"]:
        g_ok, _g_ld, _g_vi = walk(l1(3) or b"\xff", 2)
        shape_ok = (has_ld(1, 2, 3, 5) and has_vi(4) and pkt_ok and g_ok
                    and 8 in pkt_vi)
    elif u == U["submit_evidence"]:
        a2_ok, a2_ld, _ = walk(l1(2) or b"\xff", 2)
        e_ok, _e_ld, e_vi = (walk(a2_ld.get(2, [b""])[0], 4)
                             if a2_ok else (False, {}, {}))
        shape_ok = (has_ld(1, 2) and a2_ok
                    and a2_ld.get(1, [b""])[0].decode("utf-8", "replace")
                    == U["equivocation"]
                    and e_ok and 1 in e_vi and 3 in e_vi)
    elif u == U["exec_legacy"]:
        p_ok, p_ld, _ = walk(l1(1) or b"\xff", 2)
        shape_ok = (has_ld(1, 2) and p_ok
                    and p_ld.get(1, [b""])[0].decode("utf-8", "replace")
                    == U["text_proposal"])
    elif u == U["group_create"]:
        m_ok, m_ld, _ = walk(l1(2) or b"\xff", 4)
        shape_ok = has_ld(1, 2, 3) and m_ok and 1 in m_ld and 2 in m_ld
    elif u == U["group_upd_members"]:
        m_ok, m_ld, _ = walk(l1(3) or b"\xff", 4)
        shape_ok = has_ld(1, 3) and has_vi(2) and m_ok and 1 in m_ld
    elif u in (U["group_upd_admin"], U["group_upd_metadata"]):
        shape_ok = has_ld(1, 3) and has_vi(2)
    elif u == U["group_create_policy"]:
        a4_ok, a4_ld, _ = walk(l1(4) or b"\xff", 2)
        shape_ok = (has_ld(1, 3, 4) and has_vi(2) and a4_ok
                    and a4_ld.get(1, [b""])[0].decode("utf-8", "replace")
                    == U["threshold_policy"])
    elif u == U["group_create_with_policy"]:
        m_ok, m_ld, _ = walk(l1(2) or b"\xff", 4)
        a6_ok, a6_ld, _ = walk(l1(6) or b"\xff", 2)
        shape_ok = (has_ld(1, 2, 3, 4, 6) and has_vi(5)
                    and m_ok and 1 in m_ld and a6_ok
                    and a6_ld.get(1, [b""])[0].decode("utf-8", "replace")
                    == U["threshold_policy"])
    elif u in (U["group_policy_admin"], U["group_policy_metadata"]):
        shape_ok = has_ld(1, 2, 3)
    elif u == U["group_policy_decision"]:
        a3_ok, a3_ld, _ = walk(l1(3) or b"\xff", 2)
        shape_ok = (has_ld(1, 2, 3) and a3_ok
                    and a3_ld.get(1, [b""])[0].decode("utf-8", "replace")
                    == U["threshold_policy"])
    elif u == U["group_submit"]:
        shape_ok = has_ld(1, 2, 3, 4) and has_vi(5)
    elif u in (U["group_withdraw"], U["group_exec"]):
        shape_ok = has_vi(1) and has_ld(2)
    elif u == U["group_vote"]:
        shape_ok = has_vi(1, 3, 5) and has_ld(2, 4)
    elif u == U["group_leave"]:
        shape_ok = has_ld(1) and has_vi(2)
    # ---- r12: gov v1 vote-weighted + IBC handshakes ------------------
    elif u == U["gov_v1_vote_weighted"]:
        w_ok, w_ld, _ = walk(l1(3) or b"\xff", 2)
        shape_ok = has_vi(1) and has_ld(2, 3, 4) and w_ok and 2 in w_ld
    elif u == U["create_client"]:
        a1_ok, a1_ld, _ = walk(l1(1) or b"\xff", 2)
        a2_ok, a2_ld, _ = walk(l1(2) or b"\xff", 2)
        shape_ok = (has_ld(1, 2, 3) and a1_ok and a2_ok
                    and a1_ld.get(1, [b""])[0].decode("utf-8", "replace")
                    == U["client_state"]
                    and a2_ld.get(1, [b""])[0].decode("utf-8", "replace")
                    == U["consensus_state"])
    elif u == U["upgrade_client"]:
        a2_ok, a2_ld, _ = walk(l1(2) or b"\xff", 2)
        a3_ok, a3_ld, _ = walk(l1(3) or b"\xff", 2)
        shape_ok = (has_ld(1, 2, 3, 4, 5, 6) and a2_ok and a3_ok
                    and a2_ld.get(1, [b""])[0].decode("utf-8", "replace")
                    == U["client_state"]
                    and a3_ld.get(1, [b""])[0].decode("utf-8", "replace")
                    == U["consensus_state"])
    elif u == U["submit_misbehaviour"]:
        a2_ok, a2_ld, _ = walk(l1(2) or b"\xff", 2)
        shape_ok = (has_ld(1, 2, 3) and a2_ok
                    and a2_ld.get(1, [b""])[0].decode("utf-8", "replace")
                    == U["misbehaviour"])
    elif u == U["conn_open_init"]:
        c_ok, c_ld, _ = walk(l1(2) or b"\xff", 2)
        shape_ok = (has_ld(1, 2, 3, 5) and has_vi(4) and c_ok
                    and 1 in c_ld)
    elif u == U["conn_open_try"]:
        a3_ok, a3_ld, _ = walk(l1(3) or b"\xff", 2)
        c_ok, _c_ld, _ = walk(l1(4) or b"\xff", 2)
        shape_ok = (has_ld(1, 3, 4, 7, 8, 12) and has_vi(5)
                    and a3_ok and c_ok
                    and a3_ld.get(1, [b""])[0].decode("utf-8", "replace")
                    == U["client_state"])
    elif u == U["conn_open_ack"]:
        a4_ok, a4_ld, _ = walk(l1(4) or b"\xff", 2)
        shape_ok = (has_ld(1, 2, 3, 4, 5, 6, 10) and a4_ok
                    and a4_ld.get(1, [b""])[0].decode("utf-8", "replace")
                    == U["client_state"])
    elif u == U["conn_open_confirm"]:
        h_ok, _h_ld, h_vi = walk(l1(3) or b"\xff", 2)
        shape_ok = has_ld(1, 2, 3, 4) and h_ok and 2 in h_vi
    elif u == U["chan_open_init"]:
        c_ok, _c_ld, c_vi = walk(l1(2) or b"\xff", 4)
        shape_ok = has_ld(1, 2, 3) and c_ok and 1 in c_vi
    elif u == U["chan_open_try"]:
        c_ok, _c_ld, c_vi = walk(l1(3) or b"\xff", 4)
        h_ok, _h_ld, h_vi = walk(l1(6) or b"\xff", 2)
        shape_ok = (has_ld(1, 3, 4, 5, 6, 7) and c_ok and 1 in c_vi
                    and h_ok and 2 in h_vi)
    elif u == U["chan_open_ack"]:
        h_ok, _h_ld, h_vi = walk(l1(6) or b"\xff", 2)
        shape_ok = has_ld(1, 2, 3, 4, 5, 6, 7) and h_ok and 2 in h_vi
    elif u in (U["chan_open_confirm"], U["chan_close_confirm"]):
        h_ok, _h_ld, h_vi = walk(l1(4) or b"\xff", 2)
        shape_ok = has_ld(1, 2, 3, 4, 5) and h_ok and 2 in h_vi
    elif u == U["chan_close_init"]:
        shape_ok = has_ld(1, 2, 3)
    elif u == U["timeout_on_close"]:
        h_ok, _h_ld, _h_vi = walk(l1(4) or b"\xff", 2)
        shape_ok = (has_ld(1, 2, 3, 4, 6) and has_vi(5) and pkt_ok
                    and h_ok and 8 in pkt_vi)

    needs_amt = u in (
        U["send"], U["exec"], U["delegate"], U["transfer"],
        U["undelegate"], U["redelegate"], U["deposit"], U["authz_exec"],
        U["grant_allow"], U["create_val"], U["vesting"], U["multisend"],
        U["cancel_unbond"], U["fund_pool"], U["submit_proposal"],
        U["perm_locked"], U["periodic_vest"], U["instantiate"],
        U["gov_v1_deposit"], U["gov_v1_submit"], U["submit_evidence"],
        U["group_submit"],
    )
    decode_ok = s_ok and shape_ok and (not needs_amt or amt is not None)
    status = "ok" if decode_ok else "Unknown message type"
    return (u, status, amt or 0, pid or 0, yes or 0, timeout or 0)
