"""Central query registry.

Every operator from SURVEY.md §2 registers itself here with

    @register("name", oracle="SELECT ... AS same_alias ...")
    def name(spark, sf_dir) -> DataFrame: ...

``oracle`` is the DuckDB-runnable ANSI SQL the driver compares against
(tables pre-registered as views). Omit it for non-SQL-expressible ops —
the driver then records a rows-only check.

Column-name discipline: the driver sorts columns by NAME before hashing
values, so every computed column must carry the same alias in the Spark
plan and the oracle SQL. Float aggregates are ROUND()ed identically on
both sides to dodge summation-order ulp drift.
"""

from __future__ import annotations

from collections.abc import Callable
from importlib import import_module

from pyspark.sql import DataFrame, SparkSession

QueryFn = Callable[[SparkSession, str], DataFrame]

_QUERIES: dict[str, QueryFn] = {}
_ORACLES: dict[str, str] = {}

# Modules that register queries on import. Order = SURVEY.md §2 order.
_MODULES = (
    "zigchain_indexer_clickhouse_spark.operators.indexer_core",
    "zigchain_indexer_clickhouse_spark.operators.queue_analytics",
    "zigchain_indexer_clickhouse_spark.operators.olap",
    "zigchain_indexer_clickhouse_spark.operators.similarity",
    "zigchain_indexer_clickhouse_spark.operators.text_analysis",
    "zigchain_indexer_clickhouse_spark.operators.multimodal",
    "zigchain_indexer_clickhouse_spark.operators.curation",
    "zigchain_indexer_clickhouse_spark.operators.data_mix",
    "zigchain_indexer_clickhouse_spark.operators.engine_modifiers",
    "zigchain_indexer_clickhouse_spark.operators.ch_idioms",
    "zigchain_indexer_clickhouse_spark.operators.ch_aggregates",
    "zigchain_indexer_clickhouse_spark.operators.statistics",
    "zigchain_indexer_clickhouse_spark.operators.timeseries",
    "zigchain_indexer_clickhouse_spark.operators.segments",
    "zigchain_indexer_clickhouse_spark.operators.corpus_prep",
    "zigchain_indexer_clickhouse_spark.operators.corpus_transform",
    "zigchain_indexer_clickhouse_spark.operators.matviews",
    "zigchain_indexer_clickhouse_spark.operators.funnel",
    "zigchain_indexer_clickhouse_spark.operators.olap_extra",
    "zigchain_indexer_clickhouse_spark.operators.olap_shapes",
    "zigchain_indexer_clickhouse_spark.operators.orchestration",
    "zigchain_indexer_clickhouse_spark.sources.rpc_json",
    "zigchain_indexer_clickhouse_spark.sources.tx_decode",
    "zigchain_indexer_clickhouse_spark.sources.rpc_fetch",
    "zigchain_indexer_clickhouse_spark.sources.landing",
    "zigchain_indexer_clickhouse_spark.sources.partitioned_write",
    "zigchain_indexer_clickhouse_spark.sources.bucketed",
    "zigchain_indexer_clickhouse_spark.streaming.event_stream",
)

_loaded = False

# Queries measured ≥2s at sf0.01 (gate profile, round 2): table writes,
# streaming drains, multi-stage decodes. Deferred within their tier so
# a time-capped gate verifies the most entries per second.
_EXPENSIVE = frozenset({
    "tx_hash_bucketed_lookup", "partitioned_write_readback",
    "ingest_pipeline_full", "bucketed_colocated_join",
    "multimodal_pipeline", "ann_ivf_coarse",
    "stream_event_counts", "stream_dedup", "stream_type_route",
    "stream_mv_daily", "stream_user_state", "stream_sessionize",
    "stream_static_enrich", "stream_block_ingest", "landing_ingest",
    "stream_agg_states", "stream_heavy_hitters", "stream_attribution",
    "ingest_blocks", "overlapping_ranges", "tfidf_top_terms",
    "semdedup", "embedding_near_dup", "tx_hash", "schema_evolution_read",
    "tx_envelope_decode",  # two persisted stages + envelope assembly
    "mad_outlier_bounds",  # two exact-median passes + bounds re-scan
    "winnowing_fingerprint",  # gram hashing + fp pair join
    "curation_funnel",  # doc-keyed 2-gram agg dominates
    "registry_decode_at_rest",  # one-time partitioned dataset write
    "compaction_binpack",  # two table writes + read-back audit
    "stream_gap_detection",  # streaming drain
})


_verified_cache: dict[str, int] | None = None


def _reverify_after() -> dict[str, int]:
    """Per-query re-verification cutoffs from the oracle snapshot —
    the single source of truth for semantics-change policy (this
    replaced the r1-r6 hardcoded frozensets, VERDICT r8 item 8).
    ``oracle_snapshot.py --update`` stamps a changed oracle with the
    round whose artifacts predate it; a driver row only counts as
    verification when its round is GREATER."""
    import json
    from pathlib import Path

    snap = (Path(__file__).resolve().parents[2]
            / "tools" / "oracle_snapshot.json")
    try:
        raw = json.loads(snap.read_text())
    except (OSError, ValueError):
        return {}
    return {
        n: (v.get("reverify_after", 0) if isinstance(v, dict) else 0)
        for n, v in raw.items()
    }


def _row_is_green(v: dict) -> bool:
    """A CORRECTNESS row counts as green iff all three matches passed,
    or it is a rows-only (no-oracle) row that produced rows."""
    if v.get("rows_match") and v.get("schema_match") and v.get("hash_match"):
        return True
    return v.get("err") == "no_oracle" and bool(v.get("spark_rows"))


def _verified_rounds() -> dict[str, int]:
    """name → latest green driver round, for every query whose LATEST
    CORRECTNESS_r*.json row is green (per-query latest: each query's
    most recent round wins — a hash-failed row keeps the query in the
    never-verified tier until a LATER round records it green, even if
    that round's capped sample skipped it) AND whose round is past the
    oracle snapshot's ``reverify_after`` cutoff — a query whose oracle
    semantics changed since its last driver row drops back into the
    never-verified-first tier until the driver re-draws it.  The round
    value drives STALENESS ROTATION (VERDICT r11 next #2): the
    verified tier is ordered oldest-stamp-first, so every driver
    sample re-draws the longest-unsampled cohort and no query's latest
    driver check can age indefinitely."""
    global _verified_cache
    if _verified_cache is not None:
        return _verified_cache
    import json
    import re
    from pathlib import Path

    root = Path(__file__).resolve().parents[2]
    # per-query (round, green) — keep the highest round seen
    latest_row: dict[str, tuple[int, bool]] = {}
    for f in sorted(root.glob("CORRECTNESS_r*.json")):
        m = re.search(r"r(\d+)", f.name)
        rnd = int(m.group(1)) if m else 0
        try:
            data = json.loads(f.read_text())
        except (OSError, ValueError):
            continue
        if not isinstance(data, dict):
            continue
        for k, v in data.items():
            if not isinstance(v, dict):
                continue
            prev = latest_row.get(k)
            if prev is None or rnd >= prev[0]:
                latest_row[k] = (rnd, _row_is_green(v))
    cutoff = _reverify_after()
    _verified_cache = {
        k: rnd for k, (rnd, green) in latest_row.items()
        if green and rnd > cutoff.get(k, 0)
    }
    return _verified_cache


def _priority_order(names) -> list[str]:
    """Never-driver-verified names first (registration order within
    each tier, cheap before expensive), previously-verified names
    after, OLDEST driver stamp first — the capped driver sample reads
    the head of this order, so rotation keeps every query's latest
    driver check fresh instead of letting the r1-r2 cohort age
    forever (VERDICT r11 next #2)."""
    verified = _verified_rounds()

    def tier(n: str) -> tuple[bool, int, bool]:
        return (n in verified, verified.get(n, 0), n in _EXPENSIVE)

    return sorted(names, key=lambda n: tier(n))


def register(name: str, oracle: str | None = None) -> Callable[[QueryFn], QueryFn]:
    def deco(fn: QueryFn) -> QueryFn:
        if name in _QUERIES:
            raise ValueError(f"duplicate query name {name!r}")
        _QUERIES[name] = fn
        if oracle is not None:
            _ORACLES[name] = oracle
        return fn

    return deco


def _ensure_loaded() -> None:
    global _loaded
    if _loaded:
        return
    for mod in _MODULES:
        import_module(mod)
    _loaded = True


def queries() -> dict[str, QueryFn]:
    _ensure_loaded()
    return {n: _QUERIES[n] for n in _priority_order(_QUERIES)}


def oracles() -> dict[str, str]:
    _ensure_loaded()
    return {n: _ORACLES[n] for n in _priority_order(_ORACLES)}
