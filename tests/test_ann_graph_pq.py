"""k-NN graph (#160) and PQ/ADC ANN (#161): structural invariants and
the planted-twin recall gate for the graph's bucketed candidate
generation (random-vector recall is not a meaningful bar — LSH recall
guarantees apply to genuinely-near pairs, so the gate plants them)."""

from __future__ import annotations

import hashlib

import numpy as np
import pyarrow.parquet as pq
import pyspark.sql.functions as F

from zigchain_indexer_clickhouse_spark.operators.similarity import (
    PQ_K,
    PQ_M,
    PQ_SCALE,
    PQ_SUBDIM,
    TOPK,
    _hyperplanes,
    _pq_codebook,
    ann_pq_adc,
    knn_graph_bucketed,
    knn_graph_core,
)

TWIN_OFFSET = 100000
TWIN_RECALL_BAR = 0.8


def test_knn_graph_structure(spark, sf_dir):
    """Every node appears as a source; ranks are 1..n with cosine
    non-increasing and no self-edges or duplicate edges."""
    rows = knn_graph_bucketed(spark, sf_dir).collect()
    by_src: dict[int, list] = {}
    for r in rows:
        assert r.src_id != r.dst_id
        by_src.setdefault(r.src_id, []).append(r)
    n_nodes = pq.read_table(f"{sf_dir}/embeddings.parquet").num_rows
    assert len(by_src) == n_nodes  # multiprobe guarantees candidates
    for src, es in by_src.items():
        es.sort(key=lambda e: e.rnk)
        assert [e.rnk for e in es] == list(range(1, len(es) + 1))
        assert len(es) <= TOPK
        cosines = [e.cosine for e in es]
        assert cosines == sorted(cosines, reverse=True)
        assert len({e.dst_id for e in es}) == len(es)


def test_knn_graph_planted_twin_recall(spark, sf_dir):
    """Plant a near-twin (tiny deterministic perturbation, cosine
    ~0.999) for every vector; the graph must list the twin among the
    node's top-{TOPK} for >= {TWIN_RECALL_BAR:.0%} of nodes — the
    bucketed candidate generation finding what is actually near."""
    e = spark.read.parquet(f"{sf_dir}/embeddings.parquet").select(
        "vec_id",
        F.transform("embedding", lambda x: x.cast("double")).alias("v"),
    )
    noise = F.transform(
        "v",
        lambda x, i: x
        + (
            F.conv(F.substring(F.md5(F.concat(F.col("vec_id"), F.lit(":"), i)), 1, 4), 16, 10).cast("long")
            % 21
            - 10
        )
        / 2000.0,
    )
    twins = e.select(
        (F.col("vec_id") + TWIN_OFFSET).alias("vec_id"), noise.alias("v")
    )
    rows = knn_graph_core(e.unionAll(twins)).collect()
    neighbors: dict[int, set] = {}
    for r in rows:
        neighbors.setdefault(r.src_id, set()).add(r.dst_id)
    originals = [r.src_id for r in rows if r.src_id < TWIN_OFFSET]
    hits = sum(
        1
        for src in set(originals)
        if src + TWIN_OFFSET in neighbors.get(src, set())
    )
    recall = hits / len(set(originals))
    assert recall >= TWIN_RECALL_BAR, f"planted-twin recall {recall:.3f}"


def test_pq_adc_matches_numpy_recomputation(spark, sf_dir):
    """Recompute every reported ADC distance from the codebook and the
    floor-quantized vectors in numpy — all must match exactly, and
    per-query ranks must order by (adc_dist, neighbor_id)."""
    t = pq.read_table(f"{sf_dir}/embeddings.parquet")
    ids = t["vec_id"].to_pylist()
    V = np.array(t["embedding"].to_pylist(), dtype=np.float64)
    Q = np.floor(V * PQ_SCALE).astype(np.int64)
    cb = np.array(_pq_codebook(), dtype=np.int64)  # [m][k][subdim]

    codes = {}
    for n, vid in enumerate(ids):
        cs = []
        for j in range(PQ_M):
            sub = Q[n, j * PQ_SUBDIM : (j + 1) * PQ_SUBDIM]
            d = ((cb[j] - sub) ** 2).sum(axis=1)
            cs.append(int(d.argmin()))  # first min, 0-based
        codes[vid] = cs

    def adc(q_vid, n_vid):
        tot = 0
        qi = ids.index(q_vid)
        for j in range(PQ_M):
            sub = Q[qi, j * PQ_SUBDIM : (j + 1) * PQ_SUBDIM]
            cw = cb[j][codes[n_vid][j]]
            tot += int(((sub - cw) ** 2).sum())
        return tot

    rows = ann_pq_adc(spark, sf_dir).collect()
    assert rows
    by_q: dict[int, list] = {}
    for r in rows:
        assert r.adc_dist == adc(r.query_id, r.neighbor_id)
        by_q.setdefault(r.query_id, []).append(r)
    for q, es in by_q.items():
        es.sort(key=lambda e: e.rnk)
        keys = [(e.adc_dist, e.neighbor_id) for e in es]
        assert keys == sorted(keys)
        assert len(es) == min(TOPK, len(ids) - 1)


def test_pq_codebook_is_deterministic_and_bounded():
    cb = _pq_codebook()
    assert len(cb) == PQ_M and all(len(j) == PQ_K for j in cb)
    flat = [x for j in cb for k in j for x in k]
    assert all(-PQ_SCALE <= x <= PQ_SCALE for x in flat)
    # spot-pin one value so a silent derivation change can't slip by
    h = int(hashlib.md5(b"pq:0:0:0").hexdigest()[:15], 16)
    assert cb[0][0][0] == h % (2 * PQ_SCALE + 1) - PQ_SCALE


def test_knn_graph_duplicate_collapse_is_exact(spark, sf_dir):
    """The round-5 exact-duplicate collapse must be invisible in the
    OUTPUT: a corpus where every vector appears 3x (distinct ids) must
    yield, per node, exactly the brute-force per-node top-k — co-copies
    at the self-cosine, external neighbors expanded per copy, ranks
    re-tied on (cosine desc, dst_id)."""
    import math
    from collections import defaultdict

    base = (
        spark.read.parquet(f"{sf_dir}/embeddings.parquet")
        .limit(40)
        .select(
            "vec_id",
            F.transform("embedding", lambda x: x.cast("double")).alias("v"),
        )
    )
    copies = base
    for off in (10_000, 20_000):
        copies = copies.unionAll(
            base.select((F.col("vec_id") + off).alias("vec_id"), "v")
        )
    rows = knn_graph_core(copies).collect()

    # brute force in Python over the same multiset
    vecs = {r.vec_id: list(r.v) for r in copies.collect()}
    planes = _hyperplanes()

    def bucket(v):
        b = 0
        for j, p in enumerate(planes):
            if round(sum(a * c for a, c in zip(v, p)), 6) > 0:
                b |= 1 << j
        return b

    def cos(u, w):
        d = sum(a * c for a, c in zip(u, w))
        return round(
            d / (math.sqrt(sum(a * a for a in u)) * math.sqrt(sum(c * c for c in w))),
            6,
        )

    probes = {
        i: {bucket(v)} | {bucket(v) ^ (1 << j) for j in range(len(planes))}
        for i, v in vecs.items()
    }
    buckets = {i: bucket(v) for i, v in vecs.items()}
    expected = defaultdict(list)
    for i, v in vecs.items():
        cands = [
            (cos(v, vecs[j]), j)
            for j in vecs
            if j != i and buckets[j] in probes[i]
        ]
        cands.sort(key=lambda t: (-t[0], t[1]))
        expected[i] = cands[:TOPK]

    got = defaultdict(list)
    for r in sorted(rows, key=lambda r: (r.src_id, r.rnk)):
        got[r.src_id].append((r.cosine, r.dst_id))
    assert dict(got) == {k: v for k, v in expected.items() if v}
