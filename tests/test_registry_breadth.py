"""MsgVote encoding (functions/protobuf.py) and the 67-type registry
dispatch (sources/tx_decode.py msg_registry_decode) — the reference
registers ALL defaultRegistryTypes (src/utils/decoder.js:9); each type
here shrinks the unknown-type fallback envelope to decoded fields."""

from __future__ import annotations

from pyspark.sql import functions as F

from zigchain_indexer_clickhouse_spark.functions.protobuf import (
    encode_msg_vote,
)
from zigchain_indexer_clickhouse_spark.functions.protobuf_py import walk

SF = "/root/testdata/sf0.001"


def test_msg_vote_roundtrip_including_two_byte_varint_pid(spark):
    """MsgVote carries the registry's first SCALAR varint field: check
    a 1-byte pid, a 2-byte pid (little-endian 7-bit groups, built by
    hand), and all four vote options."""
    cases = [(5, "zig1voterA", 1), (300, "zig1voterB", 4)]
    for pid, voter, option in cases:
        pid_varint = (
            bytes([pid]) if pid < 128
            else bytes([(pid % 128) + 128, pid // 128])
        )
        wire = (
            bytes([0x08]) + pid_varint
            + bytes([0x12, len(voter)]) + voter.encode()
            + bytes([0x18, option])
        )
        df = spark.createDataFrame(
            [(pid, voter, option)], "p long, v string, o int"
        )
        enc = df.select(
            encode_msg_vote(F.col("p"), F.col("v"), F.col("o")).alias("b")
        ).collect()[0]["b"]
        assert bytes(enc) == wire, (pid, voter, option)
        ok, ld, vi = walk(wire, 8)
        assert ok
        assert ld == {2: [voter.encode()]}
        assert vi == {1: pid, 3: option}


def test_registry_decode_populations_and_outcome_dispatch(spark):
    """msg_registry_decode at sf0.001: sixty-eight (type_url, status)
    rows (sixty-seven registered types + fallback); only the
    unregistered custom type takes the fallback; decoded aggregates are all
    non-trivial (amounts from repeated-Coin sums — 2-coin MsgSend,
    2-output MsgMultiSend, gov v1 deposits, the repeated-Any messages
    of gov v1 MsgSubmitProposal — the TWO-deep Any unwraps inside
    authz MsgExec and feegrant MsgGrantAllowance,
    MsgCreateValidator's field-7 self-delegation, plus the wasm JSON
    amount; varint proposal ids from four vote/deposit types; enum
    yes-votes; 5- and 9-byte wide-varint timeouts from IBC transfer,
    recv/ack/timeout packets and vesting; the coin-less bodies decode
    ok with zero amount by design)."""
    from zigchain_indexer_clickhouse_spark.plans import registry

    rows = {
        r["type_url"]: r
        for r in registry.queries()["msg_registry_decode"](spark, SF).collect()
    }
    assert len(rows) == 68
    assert rows["/zigchain.custom.v1.MsgCustom"]["status"] == (
        "Unknown message type"
    )
    amt_urls = (
        "/cosmos.bank.v1beta1.MsgSend",
        "/cosmwasm.wasm.v1.MsgExecuteContract",
        "/cosmos.staking.v1beta1.MsgDelegate",
        "/cosmos.staking.v1beta1.MsgUndelegate",
        "/ibc.applications.transfer.v1.MsgTransfer",
        "/cosmos.staking.v1beta1.MsgBeginRedelegate",
        "/cosmos.gov.v1beta1.MsgDeposit",
        "/cosmos.authz.v1beta1.MsgExec",
        "/cosmos.feegrant.v1beta1.MsgGrantAllowance",
        "/cosmos.staking.v1beta1.MsgCreateValidator",
        "/cosmos.vesting.v1beta1.MsgCreateVestingAccount",
        "/cosmos.bank.v1beta1.MsgMultiSend",
        "/cosmos.staking.v1beta1.MsgCancelUnbondingDelegation",
        "/cosmos.distribution.v1beta1.MsgFundCommunityPool",
        "/cosmos.gov.v1beta1.MsgSubmitProposal",
        "/cosmos.vesting.v1beta1.MsgCreatePermanentLockedAccount",
        "/cosmos.vesting.v1beta1.MsgCreatePeriodicVestingAccount",
        "/cosmwasm.wasm.v1.MsgInstantiateContract",
        "/cosmos.gov.v1.MsgDeposit",
        "/cosmos.gov.v1.MsgSubmitProposal",
        "/cosmos.evidence.v1beta1.MsgSubmitEvidence",
        "/cosmos.group.v1.MsgSubmitProposal",
    )
    for url in amt_urls:
        assert rows[url]["status"] == "ok"
        assert rows[url]["total_amt"] > 0
    coinless = (
        "/cosmos.distribution.v1beta1.MsgWithdrawDelegatorReward",
        "/cosmos.distribution.v1beta1.MsgSetWithdrawAddress",
        "/cosmos.authz.v1beta1.MsgGrant",
        "/cosmos.authz.v1beta1.MsgRevoke",
        "/cosmos.feegrant.v1beta1.MsgRevokeAllowance",
        "/cosmos.slashing.v1beta1.MsgUnjail",
        "/cosmos.staking.v1beta1.MsgEditValidator",
        "/cosmos.distribution.v1beta1.MsgWithdrawValidatorCommission",
        "/cosmos.gov.v1beta1.MsgVoteWeighted",
        "/ibc.core.client.v1.MsgUpdateClient",
        "/ibc.core.channel.v1.MsgRecvPacket",
        "/cosmos.crisis.v1beta1.MsgVerifyInvariant",
        "/cosmos.gov.v1.MsgVote",
        "/ibc.core.channel.v1.MsgAcknowledgement",
        "/ibc.core.channel.v1.MsgTimeout",
        "/cosmos.gov.v1.MsgExecLegacyContent",
        "/cosmos.group.v1.MsgCreateGroup",
        "/cosmos.group.v1.MsgUpdateGroupMembers",
        "/cosmos.group.v1.MsgUpdateGroupAdmin",
        "/cosmos.group.v1.MsgUpdateGroupMetadata",
        "/cosmos.group.v1.MsgCreateGroupPolicy",
        "/cosmos.group.v1.MsgCreateGroupWithPolicy",
        "/cosmos.group.v1.MsgUpdateGroupPolicyAdmin",
        "/cosmos.group.v1.MsgUpdateGroupPolicyDecisionPolicy",
        "/cosmos.group.v1.MsgUpdateGroupPolicyMetadata",
        "/cosmos.group.v1.MsgWithdrawProposal",
        "/cosmos.group.v1.MsgVote",
        "/cosmos.group.v1.MsgExec",
        "/cosmos.group.v1.MsgLeaveGroup",
        # r12 closure: gov v1 vote-weighted + the IBC handshake set
        "/cosmos.gov.v1.MsgVoteWeighted",
        "/ibc.core.client.v1.MsgCreateClient",
        "/ibc.core.client.v1.MsgUpgradeClient",
        "/ibc.core.client.v1.MsgSubmitMisbehaviour",
        "/ibc.core.connection.v1.MsgConnectionOpenInit",
        "/ibc.core.connection.v1.MsgConnectionOpenTry",
        "/ibc.core.connection.v1.MsgConnectionOpenAck",
        "/ibc.core.connection.v1.MsgConnectionOpenConfirm",
        "/ibc.core.channel.v1.MsgChannelOpenInit",
        "/ibc.core.channel.v1.MsgChannelOpenTry",
        "/ibc.core.channel.v1.MsgChannelOpenAck",
        "/ibc.core.channel.v1.MsgChannelOpenConfirm",
        "/ibc.core.channel.v1.MsgChannelCloseInit",
        "/ibc.core.channel.v1.MsgChannelCloseConfirm",
        "/ibc.core.channel.v1.MsgTimeoutOnClose",
    )
    for url in coinless:
        assert rows[url]["status"] == "ok"
        assert rows[url]["total_amt"] == 0  # coin-less body: outcome only
    assert rows["/cosmos.gov.v1beta1.MsgDeposit"]["sum_pid"] > 0
    vote = rows["/cosmos.gov.v1beta1.MsgVote"]
    assert vote["status"] == "ok"
    assert vote["sum_pid"] > 0
    assert 0 < vote["n_yes"] < vote["n_msgs"]
    xfer = rows["/ibc.applications.transfer.v1.MsgTransfer"]
    assert xfer["sum_timeout"] > 0
    vest = rows["/cosmos.vesting.v1beta1.MsgCreateVestingAccount"]
    assert vest["sum_timeout"] > 0
    vw = rows["/cosmos.gov.v1beta1.MsgVoteWeighted"]
    assert vw["sum_pid"] > 0 and 0 < vw["n_yes"] < vw["n_msgs"]
    cu = rows["/cosmos.staking.v1beta1.MsgCancelUnbondingDelegation"]
    assert cu["sum_timeout"] > 0  # decoded creation_height varints
    rp = rows["/ibc.core.channel.v1.MsgRecvPacket"]
    assert rp["sum_timeout"] > 0  # timeout recovered from NESTED Packet
    pv = rows["/cosmos.vesting.v1beta1.MsgCreatePeriodicVestingAccount"]
    assert pv["sum_timeout"] > 0  # start_time varints
    v1v = rows["/cosmos.gov.v1.MsgVote"]
    assert v1v["sum_pid"] > 0 and 0 < v1v["n_yes"] < v1v["n_msgs"]
    assert rows["/cosmos.gov.v1.MsgDeposit"]["sum_pid"] > 0
    for u in ("/ibc.core.channel.v1.MsgAcknowledgement",
              "/ibc.core.channel.v1.MsgTimeout"):
        assert rows[u]["sum_timeout"] > 0  # 9-byte packet timeouts
    # r11 closure: evidence height/power, group ids and votes decoded
    ev = rows["/cosmos.evidence.v1beta1.MsgSubmitEvidence"]
    assert ev["total_amt"] > 0 and ev["sum_timeout"] > 0
    gv = rows["/cosmos.group.v1.MsgVote"]
    assert gv["sum_pid"] > 0 and 0 < gv["n_yes"] < gv["n_msgs"]
    gs = rows["/cosmos.group.v1.MsgSubmitProposal"]
    assert gs["total_amt"] > 0  # embedded 2-coin MsgSend unwrapped
    # r12 closure: gov v1 weighted votes, handshake delay periods,
    # proof-Height revision heights, TimeoutOnClose packet timeouts,
    # Channel.state enums
    vw1 = rows["/cosmos.gov.v1.MsgVoteWeighted"]
    assert vw1["sum_pid"] > 0 and 0 < vw1["n_yes"] < vw1["n_msgs"]
    for u in ("/ibc.core.connection.v1.MsgConnectionOpenInit",
              "/ibc.core.connection.v1.MsgConnectionOpenTry",
              "/ibc.core.connection.v1.MsgConnectionOpenConfirm",
              "/ibc.core.channel.v1.MsgChannelOpenTry",
              "/ibc.core.channel.v1.MsgChannelOpenAck",
              "/ibc.core.channel.v1.MsgChannelOpenConfirm",
              "/ibc.core.channel.v1.MsgChannelCloseConfirm",
              "/ibc.core.channel.v1.MsgTimeoutOnClose"):
        assert rows[u]["sum_timeout"] > 0
    for u in ("/ibc.core.channel.v1.MsgChannelOpenInit",
              "/ibc.core.channel.v1.MsgChannelOpenTry"):
        assert 0 < rows[u]["n_yes"] < rows[u]["n_msgs"]
    for u in ("/cosmos.group.v1.MsgUpdateGroupAdmin",
              "/cosmos.group.v1.MsgCreateGroupPolicy",
              "/cosmos.group.v1.MsgWithdrawProposal",
              "/cosmos.group.v1.MsgExec",
              "/cosmos.group.v1.MsgLeaveGroup"):
        assert rows[u]["sum_pid"] > 0  # group/proposal id varints
    gcwp = rows["/cosmos.group.v1.MsgCreateGroupWithPolicy"]
    assert gcwp["n_yes"] == gcwp["n_msgs"]  # as-admin flag always set
