"""Physical-plan shape assertions (SURVEY.md §4): the properties that
make these plans survive a 100x scale-up, checked against the actual
executed plan strings so regressions in plan quality fail CI, not just
slow down prod.
"""

from __future__ import annotations

import pytest

from zigchain_indexer_clickhouse_spark.plans import registry

_QUERIES = registry.queries()


def _plan(spark, sf_dir, name: str) -> str:
    df = _QUERIES[name](spark, sf_dir)
    return df._jdf.queryExecution().explainString(
        spark._jvm.org.apache.spark.sql.execution.ExplainMode.fromString("formatted")
    )


def test_q1_filter_pushdown_and_pruning(spark, sf_dir):
    plan = _plan(spark, sf_dir, "q1_pricing_summary")
    assert "PushedFilters: [IsNotNull(l_shipdate), LessThanOrEqual(l_shipdate" in plan
    # projection pruning: never reads the 11-column row, only what Q1 needs
    assert "l_orderkey" not in plan.split("ReadSchema")[1].split("\n")[0]


def test_q5_all_dims_broadcast(spark, sf_dir):
    plan = _plan(spark, sf_dir, "q5_local_volume")
    # formatted mode prints each node in the tree and the detail section
    assert plan.count("BroadcastHashJoin") >= 5
    assert "SortMergeJoin" not in plan
    assert "CartesianProduct" not in plan


def test_overlap_join_is_equijoin_not_cartesian(spark, sf_dir):
    plan = _plan(spark, sf_dir, "overlapping_ranges")
    assert "CartesianProduct" not in plan
    assert "BroadcastNestedLoopJoin" not in plan


def test_q18_aggregates_below_join(spark, sf_dir):
    plan = _plan(spark, sf_dir, "q18_large_orders")
    # the lineitem pre-agg must appear under the join, not above it
    join_pos = plan.find("BroadcastHashJoin")
    assert join_pos > 0
    assert "HashAggregate" in plan


def test_topn_runs_as_take_ordered(spark, sf_dir):
    plan = _plan(spark, sf_dir, "q3_top_unshipped")
    assert "TakeOrderedAndProject" in plan


def test_partitioned_write_prunes(spark, sf_dir):
    # run the query once (writes the layout), then check the read side
    df = _QUERIES["partitioned_write_readback"](spark, sf_dir)
    df.collect()
    plan = df._jdf.queryExecution().explainString(
        spark._jvm.org.apache.spark.sql.execution.ExplainMode.fromString("formatted")
    )
    assert "PartitionFilters" in plan and "height_bucket" in plan


def test_blob_decode_at_rest_proves_both_prunings(spark, sf_dir):
    """The at-rest decode must reach storage with BOTH prunings: the
    height-range predicate resolved entirely by PartitionFilters (the
    range aligns with bucket boundaries, so no row-level DataFilter
    survives) and ReadSchema carrying ONLY the blob column — the five
    decoy columns written beside it never leave the parquet footer."""
    df = _QUERIES["blob_decode_at_rest"](spark, sf_dir)
    df.collect()  # materializes the at-rest layout on first run
    plan = df._jdf.queryExecution().executedPlan().toString()
    scan = next(l for l in plan.splitlines() if "FileScan parquet" in l)
    assert "PartitionFilters: [isnotnull(height_bucket" in scan
    assert "(height_bucket" in scan and ">= 2" in scan and "< 5" in scan
    assert "DataFilters: []" in scan
    assert "ReadSchema: struct<blob_hex:string>" in scan


def test_registry_at_rest_proves_both_prunings(spark, sf_dir, monkeypatch):
    """#23c: the full-registry at-rest decode reaches storage with the
    same two prunings as #23b — PartitionFilters resolve the whole
    height predicate, ReadSchema is the blob column alone — under the
    default (native-kernel) shape AND under the Python-walker shape a
    host without a C toolchain runs."""
    from zigchain_indexer_clickhouse_spark.functions import native_registry

    def scan_line() -> str:
        df = _QUERIES["registry_decode_at_rest"](spark, sf_dir)
        df.collect()
        plan = df._jdf.queryExecution().executedPlan().toString()
        return next(l for l in plan.splitlines() if "FileScan parquet" in l)

    for python_only in (False, True):
        if python_only:
            monkeypatch.setattr(native_registry, "native_available",
                                lambda: False)
        scan = scan_line()
        assert "PartitionFilters: [isnotnull(height_bucket" in scan
        assert "DataFilters: []" in scan
        assert "ReadSchema: struct<blob_hex:string>" in scan


def test_range_split_matches_reference_formula(spark, sf_dir):
    """splitRange parity (orchestrator.js:78-92): parts are contiguous,
    cover [s,e] exactly, and sizes differ by at most 1 with remainder
    on the first parts."""
    rows = _QUERIES["range_split"](spark, sf_dir).collect()
    by_work = {}
    for r in rows:
        by_work.setdefault(r["work_id"], []).append(r)
    assert by_work
    for work_id, parts in by_work.items():
        parts.sort(key=lambda r: r["part_idx"])
        sizes = [p["part_end"] - p["part_start"] + 1 for p in parts]
        assert max(sizes) - min(sizes) <= 1
        assert sizes == sorted(sizes, reverse=True)  # remainder goes first
        for a, b in zip(parts, parts[1:]):
            assert b["part_start"] == a["part_end"] + 1


@pytest.mark.parametrize(
    "name",
    [
        "embedding_near_dup",
        "contamination_check",
        "semdedup",
    ],
)
def test_near_dup_candidates_via_equijoin(spark, sf_dir, name):
    """Every near-dup/contamination operator must generate candidates
    with an equi-join, never an all-pairs product."""
    plan = _plan(spark, sf_dir, name)
    assert "CartesianProduct" not in plan
    assert "BroadcastNestedLoopJoin" not in plan


def test_bucketed_join_has_no_prejoin_exchange(spark, sf_dir):
    """bucketed_colocated_join: both facts written bucketBy(orderkey),
    so the SMJ consumes bucket files directly — the ONLY exchange in
    the executed plan is the final 3-row agg's. A second exchange means
    bucketing was not picked up and the 100 TB co-location story is
    broken."""
    plan = _plan(spark, sf_dir, "bucketed_colocated_join")
    assert plan.count(") SortMergeJoin") == 1
    assert _exchanges(plan) == 1


def test_salted_join_keys_include_salt(spark, sf_dir):
    """salted_skew_join: the shuffle join must key on (key, salt) —
    salt missing from the join keys means the hot key still lands on
    one reducer and the whole pattern is a no-op."""
    plan = _plan(spark, sf_dir, "salted_skew_join")
    assert plan.count(") SortMergeJoin") == 1
    smj_detail = plan.split(") SortMergeJoin")[1].split("\n\n")[0]
    assert "salt" in smj_detail


def test_q21_collapses_exists_pair_to_one_agg(spark, sf_dir):
    """q21's EXISTS + NOT EXISTS pair must run as ONE aggregate over the
    joined fact — a plan with 3+ SortMergeJoins means the correlated
    subqueries came back as self-joins."""
    plan = _plan(spark, sf_dir, "q21_sole_failing_supplier")
    assert plan.count("SortMergeJoin") + plan.count("ShuffledHashJoin") <= 1


def test_q9_dims_broadcast_single_agg(spark, sf_dir):
    """q9: part/supplier/nation all broadcast; only orders shuffles."""
    plan = _plan(spark, sf_dir, "q9_product_profit")
    assert plan.count("BroadcastHashJoin") >= 3
    assert plan.count("SortMergeJoin") + plan.count("ShuffledHashJoin") <= 1


def _exchanges(plan: str) -> int:
    import re

    return len(re.findall(r"^\(\d+\) Exchange", plan, re.M))


def test_funnel_ops_single_shuffle(spark, sf_dir):
    """windowFunnel/sequenceMatch run as ONE shuffle + expression fold
    — the property that makes them viable at 100 TB."""
    for name in ("window_funnel", "sequence_match"):
        plan = _plan(spark, sf_dir, name)
        assert _exchanges(plan) == 1, name
        assert "SortMergeJoin" not in plan and "CartesianProduct" not in plan


def test_asof_join_no_range_join(spark, sf_dir):
    """As-of must be the union+window formulation: no join node at all
    (a range join would appear as BNLJ/cartesian), ≤2 exchanges
    (snapshot dedup + the window's key shuffle)."""
    plan = _plan(spark, sf_dir, "asof_join")
    assert "Join" not in plan
    assert _exchanges(plan) <= 2


def test_mv_tx_stats_broadcasts_blocks(spark, sf_dir):
    plan = _plan(spark, sf_dir, "mv_daily_tx_stats")
    assert "BroadcastHashJoin" in plan
    assert "SortMergeJoin" not in plan


def test_skew_safe_distinct_avoids_hot_key_shuffle(spark, sf_dir):
    """First exchange must hash the WIDE (event_type, user_id) key;
    a plan whose first shuffle keys on event_type alone has the skew
    funnel back."""
    plan = _plan(spark, sf_dir, "distinct_users_skew_safe")
    # detail sections are ordered by node id, so the first
    # hashpartitioning(...) printed belongs to the innermost Exchange
    first_exchange = plan.split("hashpartitioning(")[1]
    assert "user_id" in first_exchange.split(")")[0]


# BNLJ is allowed ONLY where the build side is a deliberate tiny
# broadcast: the 5-query brute-force ANN baseline and the 1-row cutoff
# aggregates of the trailing-window checks. Everything else: forbidden.
# ops where the BNLJ build side is a single scalar row (broadcast
# scalar — constant cost at any scale), audited individually
_BNLJ_ALLOWED = {
    "ann_cosine_topk",
    "ann_pq_adc",  # 5-query broadcast probed against the PQ code table
    "recent_activity",
    "monitor_health_report",
    "gap_detection",  # 1-row (mh, n_present) broadcast into cand/result (r13)
    "tfidf_top_terms",
    "q11_value_concentration",
    "gap_backfill_window",  # 1-row capacity + window gate scalars
    "queue_cleanup",  # 1-row bounds + caps scalars into the drop filter
    "orchestrator_tick",  # 1-row counts x 1-row heights policy join
    "lttb_downsample",  # 1-row series-bounds broadcast crossed in
    "heavy_hitters_topk",  # 1-row token-total broadcast for the HAVING
    "heavy_hitters_weighted",  # 1-row weight-total broadcast, same shape
    "fk_orphan_check",  # four 1-row count x 1-row orphan-count unions
    "ngram_novelty_decay",  # 1-row doc-count bound broadcast
    "token_pmi_pairs",  # 1-row token-total broadcast
    "welch_ttest_by_type",  # |types|-row summary inequality self-join
    "point_in_range_join",  # 1-row domain-bound broadcast
    "sequence_next_node",  # 1-row matched-user total for the share ppm
    "cramers_v_assoc",  # 1-row N-total broadcast crossed into the cells
    "mann_whitney_u_pairs",  # |types|²-row pair-key broadcast fan-out
    "ks_test_pairs",  # same tiny pair-key broadcast as #208
    "roc_auc_doc_length",  # 1-row corpus-total broadcast
    "domain_temperature_mix",  # 1-row total + 1-row Σ√n fold broadcasts
    "cohort_transition_matrix",  # 1-row transition-total broadcast
    "lang_id_confusion",  # |langs|-row OR-fan over the contingency cells
    "vocab_mass_spectrum",  # 1-row mass/vocab-total broadcast
}


def test_global_plan_hygiene(spark, sf_dir):
    """Sweep EVERY registered batch query: no CartesianProduct, no
    row-at-a-time Python (BatchEvalPython), and BroadcastNestedLoopJoin
    only on the explicit allowlist. New operators inherit this gate
    automatically — a forbidden shape fails CI, not prod."""
    offenders = {}
    for name, fn in sorted(_QUERIES.items()):
        if name.startswith("stream_"):
            continue  # streaming queries execute eagerly on build
        plan = _plan(spark, sf_dir, name)
        flags = []
        if "CartesianProduct" in plan:
            flags.append("cartesian")
        if "BatchEvalPython" in plan:
            flags.append("row-python")
        if "BroadcastNestedLoopJoin" in plan and name not in _BNLJ_ALLOWED:
            flags.append("bnlj")
        if flags:
            offenders[name] = flags
    assert not offenders, offenders


def test_semdedup_pairwise_join_keys_on_capped_cluster(spark, sf_dir):
    """ADVICE r3 (high): the semdedup pairwise join must key on the
    capped cluster key (ckey), not the raw label — otherwise one
    mega-cluster is O(cluster^2) and the engine diverges from the
    oracle's split semantics. Lock the join key in the plan."""
    plan = _plan(spark, sf_dir, "semdedup")
    assert "ckey" in plan, "pairwise join must consume capped keys"
