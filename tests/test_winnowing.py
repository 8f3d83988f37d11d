"""Winnowing fingerprints (#174): full Python recompute of the
Schleimer local-min sketch and the pairing stage, plus the coverage
guarantee that motivates the algorithm."""

from __future__ import annotations

import hashlib
from collections import Counter, defaultdict

import pyspark.sql.functions as F

from zigchain_indexer_clickhouse_spark.catalog import load
from zigchain_indexer_clickhouse_spark.operators.text_analysis import (
    WIN_DF_CAP,
    WIN_K,
    WIN_MIN_SHARED,
    WIN_W,
    winnowing_fingerprint,
)


def _phash(s: str) -> int:
    return int(hashlib.md5(s.encode()).hexdigest()[:15], 16)


def _doc_fps(toks: list[str]) -> set[int]:
    if len(toks) < WIN_K + WIN_W - 1:
        return set()
    hs = [
        _phash(" ".join(toks[i:i + WIN_K]))
        for i in range(len(toks) - WIN_K + 1)
    ]
    return {min(hs[p:p + WIN_W]) for p in range(len(hs) - WIN_W + 1)}


def test_winnowing_pairs_match_recompute(spark, sf_dir):
    docs = {
        r.doc_id: r.text.strip().split(" ")
        for r in load(spark, sf_dir, "documents").collect()
    }
    fps = {d: _doc_fps(t) for d, t in docs.items()}
    df = Counter(fp for s in fps.values() for fp in s)
    ok = {fp for fp, c in df.items() if 2 <= c <= WIN_DF_CAP}
    shared: dict = defaultdict(int)
    by_fp = defaultdict(list)
    for d, s in fps.items():
        for fp in s & ok:
            by_fp[fp].append(d)
    for fp, ds in by_fp.items():
        ds.sort()
        for i, a in enumerate(ds):
            for b in ds[i + 1:]:
                shared[(a, b)] += 1
    expected = {k: v for k, v in shared.items() if v >= WIN_MIN_SHARED}
    rows = {
        (r.doc_a, r.doc_b): r.n_shared
        for r in winnowing_fingerprint(spark, sf_dir).collect()
    }
    assert rows == expected


def test_winnowing_coverage_guarantee():
    """Any shared run of WIN_K + WIN_W - 1 words yields >= 1 shared
    fingerprint even when the run sits at different positions inside
    otherwise different documents — the property stride sampling
    lacks."""
    run = ["alpha", "beta", "gamma", "delta", "epsilon", "zeta"]
    assert len(run) == WIN_K + WIN_W - 1
    doc_a = ["x%d" % i for i in range(7)] + run + ["y%d" % i for i in range(5)]
    doc_b = ["z%d" % i for i in range(11)] + run
    assert _doc_fps(doc_a) & _doc_fps(doc_b)


def test_span_coverage_consistent_with_pairs(spark, sf_dir):
    """#231 must classify exactly the #174 pair set, with coverages
    recomputed from per-doc fingerprint counts."""
    from collections import Counter

    from zigchain_indexer_clickhouse_spark.catalog import _shared_stage
    from zigchain_indexer_clickhouse_spark.operators.text_analysis import (
        COV_FULL_PPM,
        COV_PARTIAL_PPM,
        _winnow_fps,
        dup_span_coverage,
        winnowing_fingerprint,
    )

    pairs = {
        (r.doc_a, r.doc_b): r.n_shared
        for r in winnowing_fingerprint(spark, sf_dir).collect()
    }
    fps = _shared_stage(
        "winnow_fps", spark, sf_dir, lambda: _winnow_fps(spark, sf_dir)
    )
    nf = Counter()
    for r in fps.groupBy("doc_id").count().collect():
        nf[r.doc_id] = r["count"]
    got = {(r.doc_a, r.doc_b): r for r in dup_span_coverage(spark, sf_dir).collect()}
    assert set(got) == set(pairs)
    for (a, b), row in got.items():
        assert row.n_shared == pairs[(a, b)]
        assert row.cov_a_ppm == row.n_shared * 1_000_000 // nf[a]
        assert row.cov_b_ppm == row.n_shared * 1_000_000 // nf[b]
        mn = min(row.cov_a_ppm, row.cov_b_ppm)
        want = (
            "full_dup" if mn >= COV_FULL_PPM
            else "partial" if mn >= COV_PARTIAL_PPM
            else "spurious"
        )
        assert row.overlap_class == want
    # the near-dup corpus must actually contain both regimes
    classes = {r.overlap_class for r in got.values()}
    assert "full_dup" in classes or "partial" in classes
