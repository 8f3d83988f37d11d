"""Partition-layout invariance: results must not depend on shuffle
partition count or core count. Float-aggregate queries that feed an
EQUALITY or THRESHOLD compare are the risk class — a summation-order
ulp under one layout and not another flips whole rows (the q2/q15/q11
bug class fixed in round 2 by integer-exact compares).

This runs the once-fragile queries (plus two representative money
aggregates) under a deliberately awkward layout — 7 shuffle
partitions — and asserts row-identical results with the default-layout
run in the same session. A full-gate variant (all 150 queries, 5
cores × 7 partitions vs DuckDB) is run per round out-of-band; this is
the fast permanent guard.
"""

from __future__ import annotations

import pytest

from zigchain_indexer_clickhouse_spark.plans import registry

_PROBED = [
    "q2_min_cost_supplier",
    "q15_top_supplier",
    "q11_value_concentration",
    "q1_pricing_summary",
    "q9_product_profit",
    "embedding_centroids",
    # window/ordering class: row_number & carry-forward must tie-break
    # deterministically regardless of layout
    "sessionize",
    "asof_join",
    "time_fill_interpolate",
    "limit_by",
    # sketch-candidate class: the Misra-Gries candidate pass sees
    # different streams under different layouts; the exact verify pass
    # must erase that
    "heavy_hitters_topk",
    "heavy_hitters_weighted",
    "bpe_pair_stats",
    # ordered-float-fold class: chi2 is a left fold over sorted cells,
    # so layout must not perturb the quantized ppm output
    "cramers_v_assoc",
    # integer-geometry argmax: the per-bucket row_number pick must not
    # depend on which executor saw the bucket
    "lttb_downsample",
    # round-6 window/threshold class: interpolated-quantile boundaries
    # feed a per-row bin compare; a sorted window pass decides
    # first/last touch under ties
    "histogram_equal_depth",
    "conversion_attribution",
    "max_intersections_daily",
    # doubled-rank statistics class: tie-averaged ranks and shared-IEEE
    # normalizations must not see layout (all inputs are exact BIGINTs)
    "mann_whitney_u_pairs",
    "spearman_rank_corr",
    # round-6 late window/threshold class: exact-median cum windows,
    # sweep-line islands, lag-window means, LSH bucket caps, and the
    # ten-branch decode dispatch must all be layout-blind
    "funnel_time_to_convert",
    "interval_length_sum",
    "block_time_drift",
    "cohort_transition_matrix",
]


@pytest.mark.parametrize("name", _PROBED)
def test_result_invariant_to_shuffle_partitions(spark, sf_dir, name):
    fn = registry.queries()[name]
    default_rows = sorted(map(tuple, fn(spark, sf_dir).collect()))
    prev = spark.conf.get("spark.sql.shuffle.partitions")
    spark.conf.set("spark.sql.shuffle.partitions", "7")
    try:
        odd_rows = sorted(map(tuple, fn(spark, sf_dir).collect()))
    finally:
        spark.conf.set("spark.sql.shuffle.partitions", prev)
    assert default_rows == odd_rows
