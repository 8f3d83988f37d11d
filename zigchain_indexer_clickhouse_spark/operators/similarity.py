"""Similarity-search operators over embeddings
(SURVEY.md §2.3 #37-39): brute-force cosine top-k, LSH-bucketed ANN,
and embedding-based near-duplicate detection.

Vectors stay as array columns; dot products run as builtin
zip_with + aggregate folds (JVM-side, no Python). Floats are cast to
double BEFORE multiplication on both engines, and cosines are rounded
identically, so the DuckDB oracle hash-matches.

Scale design: brute-force is the correctness baseline (broadcast the
query set, scan candidates once); the LSH variant is the 100 TB path —
bucket by random-hyperplane sign bits, equi-join on the bucket, and
only score within buckets.
"""

from __future__ import annotations

import hashlib

from pyspark.sql import DataFrame, SparkSession, Window
from pyspark.sql import functions as F

from zigchain_indexer_clickhouse_spark.catalog import load
from zigchain_indexer_clickhouse_spark.plans.registry import register

TOPK = 5
N_QUERIES = 5  # vec_id < 5 are the query vectors
LSH_PLANES = 8
DIM = 64
NEAR_DUP_COS = 0.999


def _hyperplanes() -> list[list[float]]:
    """Deterministic pseudo-random hyperplanes derived from md5 — inlined
    as literals into BOTH the Spark plan and the oracle SQL, so no RNG
    state is involved anywhere."""
    planes = []
    for j in range(LSH_PLANES):
        row = []
        for i in range(DIM):
            h = int(hashlib.md5(f"hp:{j}:{i}".encode()).hexdigest()[:15], 16)
            row.append((h % 2001 - 1000) / 1000.0)
        planes.append(row)
    return planes


def _vec_double(col: str = "embedding"):
    return F.transform(F.col(col), lambda x: x.cast("double"))


def _dot(a, b):
    return F.aggregate(
        F.zip_with(a, b, lambda x, y: x * y), F.lit(0.0), lambda acc, x: acc + x
    )


# --------------------------------------------------------------------------
# 37. ann_cosine_topk — brute-force cosine top-k (baseline)
# --------------------------------------------------------------------------
@register(
    "ann_cosine_topk",
    oracle=f"""
    WITH e AS (SELECT vec_id, embedding::DOUBLE[] AS v FROM embeddings),
    q AS (SELECT vec_id AS q_id, v AS qv FROM e WHERE vec_id < {N_QUERIES}),
    scored AS (
      SELECT q.q_id AS query_id, e.vec_id AS neighbor_id,
             ROUND(list_dot_product(q.qv, e.v)
                   / (sqrt(list_dot_product(q.qv, q.qv))
                      * sqrt(list_dot_product(e.v, e.v))), 6) AS cosine
      FROM q JOIN e ON e.vec_id <> q.q_id
    )
    SELECT query_id, neighbor_id, cosine, CAST(rnk AS INT) AS rnk FROM (
      SELECT *, row_number() OVER (PARTITION BY query_id
                                   ORDER BY cosine DESC, neighbor_id) AS rnk
      FROM scored
    ) WHERE rnk <= {TOPK}
    """,
)
def ann_cosine_topk(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Brute-force cosine top-k: broadcast the (small) query set against
    the full embedding scan; one pass, one window on query_id for the
    top-k. The exact-recall baseline every ANN variant is judged
    against."""
    e = load(spark, sf_dir, "embeddings").select("vec_id", _vec_double().alias("v"))
    q = e.filter(F.col("vec_id") < N_QUERIES).select(
        F.col("vec_id").alias("q_id"), F.col("v").alias("qv")
    )
    scored = (
        e.join(F.broadcast(q), F.col("vec_id") != F.col("q_id"))
        .select(
            F.col("q_id").alias("query_id"),
            F.col("vec_id").alias("neighbor_id"),
            F.round(
                _dot(F.col("qv"), F.col("v"))
                / (F.sqrt(_dot(F.col("qv"), F.col("qv"))) * F.sqrt(_dot(F.col("v"), F.col("v")))),
                6,
            ).alias("cosine"),
        )
    )
    w = Window.partitionBy("query_id").orderBy(F.col("cosine").desc(), "neighbor_id")
    return (
        scored.withColumn("rnk", F.row_number().over(w).cast("int"))
        .filter(F.col("rnk") <= TOPK)
    )


# --------------------------------------------------------------------------
# 38. ann_lsh_bucketed — random-hyperplane LSH ANN (scale path)
# --------------------------------------------------------------------------
def _bucket_terms_sql(vcol: str = "v") -> str:
    """DuckDB SQL for the {LSH_PLANES}-sign-bit bucket id — the single
    source the ANN oracle and the near-dup oracle share with the Spark
    side's ``_bucket_col``."""
    planes = _hyperplanes()
    return " + ".join(
        f"(CASE WHEN ROUND(list_dot_product({vcol}, "
        f"[{', '.join(repr(x) for x in planes[j])}]::DOUBLE[]), 6) > 0 "
        f"THEN {1 << j} ELSE 0 END)"
        for j in range(LSH_PLANES)
    )


def _bucket_col():
    """Spark twin of :func:`_bucket_terms_sql` over column ``v``."""
    planes = _hyperplanes()
    bucket = None
    for j in range(LSH_PLANES):
        lit_plane = F.array(*[F.lit(x) for x in planes[j]])
        bit = F.when(
            F.round(_dot(F.col("v"), lit_plane), 6) > 0, F.lit(1 << j)
        ).otherwise(0)
        bucket = bit if bucket is None else bucket + bit
    return bucket.cast("long")


def _lsh_oracle() -> str:
    bucket_terms = _bucket_terms_sql()
    return f"""
    WITH e AS (SELECT vec_id, embedding::DOUBLE[] AS v FROM embeddings),
    bucketed AS (SELECT vec_id, v, CAST({bucket_terms} AS BIGINT) AS bucket FROM e),
    q AS (SELECT vec_id AS q_id, v AS qv, bucket FROM bucketed WHERE vec_id < {N_QUERIES}),
    probes AS (
      SELECT q_id, qv,
             CASE WHEN p.p = 0 THEN bucket
                  ELSE xor(bucket, (1::BIGINT << (p.p - 1))) END AS pb
      FROM q, generate_series(0, {LSH_PLANES}) p(p)
    ),
    scored AS (
      SELECT pr.q_id AS query_id, b.vec_id AS neighbor_id, b.bucket,
             ROUND(list_dot_product(pr.qv, b.v)
                   / (sqrt(list_dot_product(pr.qv, pr.qv))
                      * sqrt(list_dot_product(b.v, b.v))), 6) AS cosine
      FROM probes pr JOIN bucketed b ON b.bucket = pr.pb AND b.vec_id <> pr.q_id
    )
    SELECT query_id, neighbor_id, bucket, cosine, CAST(rnk AS INT) AS rnk FROM (
      SELECT *, row_number() OVER (PARTITION BY query_id
                                   ORDER BY cosine DESC, neighbor_id) AS rnk
      FROM scored
    ) WHERE rnk <= {TOPK}
    """


@register("ann_lsh_bucketed", oracle=_lsh_oracle())
def ann_lsh_bucketed(spark: SparkSession, sf_dir: str) -> DataFrame:
    """LSH-bucketed ANN with multi-probe: {LSH_PLANES} deterministic
    random hyperplanes → sign-bit bucket id → each query probes its own
    bucket PLUS the {LSH_PLANES} buckets one bit-flip away (the
    standard multi-probe recall fix — a near neighbor that lands just
    across one hyperplane is still found) → equi-join on the probe
    bucket → cosine top-k.

    This is the 100 TB path: the bucket equi-join replaces the
    brute-force cross join — probes×(n/2^planes) candidates per query
    instead of n — while the hyperplane projection stays a narrow
    per-row fold. Recall vs the `ann_cosine_topk` ground truth is
    gated in tests/test_dedup_recall.py; the dial is probe count
    (add 2-bit flips) or hash tables (union several plane sets).
    The sign-bit dot is rounded to 6 digits before the compare so a
    near-zero projection can't land a vector in different buckets on
    the two engines."""
    e = load(spark, sf_dir, "embeddings").select("vec_id", _vec_double().alias("v"))
    return lsh_multiprobe_topk(e, F.col("vec_id") < N_QUERIES)


def lsh_multiprobe_topk(corpus: DataFrame, is_query) -> DataFrame:
    """The reusable multi-probe LSH core: ``corpus`` is (vec_id, v:
    array<double>), ``is_query`` a Column predicate selecting the query
    rows. Buckets everything by {LSH_PLANES} sign bits, probes each
    query's bucket plus every 1-bit-flip neighbor bucket, scores
    cosines inside probed buckets, and returns the per-query top-{TOPK}
    (query_id, neighbor_id, bucket, cosine, rnk). Shared by the
    `ann_lsh_bucketed` operator and the recall gate in
    tests/test_dedup_recall.py (planted near-neighbor corpus)."""
    b = corpus.withColumn("bucket", _bucket_col())
    probes = F.array(
        F.col("bucket"),
        *[
            F.expr(f"cast(bucket ^ {1 << j} as bigint)")
            for j in range(LSH_PLANES)
        ],
    )
    q = (
        b.filter(is_query)
        .select(
            F.col("vec_id").alias("q_id"),
            F.col("v").alias("qv"),
            F.explode(probes).alias("pb"),
        )
    )
    scored = (
        b.join(F.broadcast(q), (F.col("bucket") == F.col("pb")) & (F.col("vec_id") != F.col("q_id")))
        .select(
            F.col("q_id").alias("query_id"),
            F.col("vec_id").alias("neighbor_id"),
            F.col("bucket"),
            F.round(
                _dot(F.col("qv"), F.col("v"))
                / (F.sqrt(_dot(F.col("qv"), F.col("qv"))) * F.sqrt(_dot(F.col("v"), F.col("v")))),
                6,
            ).alias("cosine"),
        )
    )
    w = Window.partitionBy("query_id").orderBy(F.col("cosine").desc(), "neighbor_id")
    return (
        scored.withColumn("rnk", F.row_number().over(w).cast("int"))
        .filter(F.col("rnk") <= TOPK)
    )


# --------------------------------------------------------------------------
# 39. embedding_near_dup — cosine-threshold near-duplicate pairs
# --------------------------------------------------------------------------
@register(
    "embedding_near_dup",
    oracle=f"""
    WITH base AS (
      SELECT vec_id, embedding::DOUBLE[] AS v FROM embeddings
    ),
    corpus AS (
      SELECT vec_id, v FROM base
      UNION ALL
      SELECT vec_id + 100000, v FROM base
    ),
    -- MATERIALIZED: the 8-plane bucket CASE must compute once per row,
    -- not be re-inlined into both sides of the self-join (the DuckDB
    -- CTE re-inlining class the r11 dup-graph fix pinned)
    bucketed AS MATERIALIZED (
      SELECT vec_id, v, CAST({_bucket_terms_sql()} AS BIGINT) AS bucket
      FROM corpus
    )
    SELECT vec_a, vec_b, cosine FROM (
      SELECT a.vec_id AS vec_a, b.vec_id AS vec_b,
             ROUND(list_dot_product(a.v, b.v)
                   / (sqrt(list_dot_product(a.v, a.v))
                      * sqrt(list_dot_product(b.v, b.v))), 6) AS cosine
      FROM bucketed a JOIN bucketed b
        ON a.bucket = b.bucket AND a.vec_id < b.vec_id
    ) WHERE cosine >= {NEAR_DUP_COS}
    """,
)
def embedding_near_dup(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Embedding-cosine near-dup pairs, blocked by the 8-sign-bit LSH
    bucket — the same hyperplane machinery as `ann_lsh_bucketed` — so
    the pair join is an equi-join per bucket: the 100 TB plan shape,
    O(Σ bucket²) instead of the label block's O(block²) (VERDICT r11
    next #3: this re-key collapses the slowest sf1.0 gate row).
    Synthetic clones (vec_id+100000) give known positives — identical
    vectors share every sign bit, so clone recall stays exactly 100%
    (gated in tests/test_dedup_recall.py); the oracle builds the
    identical corpus and bucketing."""
    e = load(spark, sf_dir, "embeddings").select(
        "vec_id", _vec_double().alias("v")
    )
    corpus = e.unionAll(
        e.select((F.col("vec_id") + 100000).alias("vec_id"), "v")
    )
    bucketed = corpus.withColumn("bucket", _bucket_col())
    a = bucketed.select(
        F.col("bucket"), F.col("vec_id").alias("vec_a"),
        F.col("v").alias("va"),
    )
    b = bucketed.select(
        F.col("bucket").alias("bucket_b"), F.col("vec_id").alias("vec_b"),
        F.col("v").alias("vb"),
    )
    return (
        a.join(b, (a.bucket == b.bucket_b) & (F.col("vec_a") < F.col("vec_b")))
        .select(
            "vec_a",
            "vec_b",
            F.round(
                _dot(F.col("va"), F.col("vb"))
                / (F.sqrt(_dot(F.col("va"), F.col("va"))) * F.sqrt(_dot(F.col("vb"), F.col("vb")))),
                6,
            ).alias("cosine"),
        )
        .filter(F.col("cosine") >= NEAR_DUP_COS)
    )


# --------------------------------------------------------------------------
# 103. semdedup — semantic dedup: within-cluster cosine prune (SemDeDup)
# --------------------------------------------------------------------------
SEMDEDUP_COS = 0.999
SEMDEDUP_CAP = 64  # max cluster size before a hyperplane split
SEMDEDUP_SPLIT_LEVELS = 2  # max split rounds (cap → cap/2^levels typical)


def capped_cluster_keys(corpus: DataFrame) -> DataFrame:
    """(vec_id, label, v) → + ``ckey``: the label refined by up to
    {SEMDEDUP_SPLIT_LEVELS} deterministic hyperplane sign bits, applied
    ONLY to clusters larger than {SEMDEDUP_CAP}. This is the SemDeDup
    pairwise guard: the within-cluster join is O(Σ cluster²), so one
    skewed mega-cluster goes quadratic — capping splits it by the same
    md5-derived hyperplanes `ann_lsh_bucketed` uses, halving (in
    expectation) each round, while small clusters keep their key (no
    recall loss where the join was already cheap). Identical vectors
    share every sign bit, so true duplicate sets are never separated.
    Each level is one window count over the current key — L extra
    shuffles total, all on narrow (id, key, bit) projections."""
    planes = _hyperplanes()
    out = corpus.withColumn("ckey", F.col("label").cast("string"))
    for lvl in range(SEMDEDUP_SPLIT_LEVELS):
        lit_plane = F.array(*[F.lit(x) for x in planes[lvl]])
        # round before the sign test: a near-zero dot must not flip
        # between engines on FP accumulation order (same 6-digit
        # convention as the cosine compares)
        bit = F.when(
            F.round(_dot(F.col("v"), lit_plane), 6) > 0, F.lit(1)
        ).otherwise(F.lit(0))
        w = Window.partitionBy("ckey")
        out = out.withColumn("csize", F.count("*").over(w)).withColumn(
            "ckey",
            F.when(
                F.col("csize") > SEMDEDUP_CAP,
                F.concat_ws(":", "ckey", bit.cast("string")),
            ).otherwise(F.col("ckey")),
        )
    return out.drop("csize")


def _semdedup_split_ctes() -> str:
    """DuckDB twin of ``capped_cluster_keys``: same planes, same
    cap, same level-by-level window refinement."""
    planes = _hyperplanes()
    ctes = ["l0 AS (SELECT vec_id, label, v, CAST(label AS VARCHAR) AS ckey FROM corpus)"]
    for lvl in range(SEMDEDUP_SPLIT_LEVELS):
        plane = ", ".join(repr(x) for x in planes[lvl])
        ctes.append(f"""l{lvl + 1} AS (
      SELECT vec_id, label, v,
             CASE WHEN COUNT(*) OVER (PARTITION BY ckey) > {SEMDEDUP_CAP}
                  THEN ckey || ':' || (CASE WHEN ROUND(list_dot_product(v,
                         [{plane}]::DOUBLE[]), 6) > 0 THEN 1 ELSE 0 END)
                  ELSE ckey END AS ckey
      FROM l{lvl})""")
    return ",\n    ".join(ctes)


@register(
    "semdedup",
    oracle=f"""
    WITH corpus AS (
      SELECT vec_id, label, embedding::DOUBLE[] AS v FROM embeddings
      UNION ALL
      SELECT vec_id + 100000, label, embedding::DOUBLE[] FROM embeddings
    ),
    {_semdedup_split_ctes()},
    dups AS (
      SELECT b.vec_id AS vec_b, MIN(a.vec_id) AS keeper
      FROM l{SEMDEDUP_SPLIT_LEVELS} a JOIN l{SEMDEDUP_SPLIT_LEVELS} b
        ON a.ckey = b.ckey AND a.vec_id < b.vec_id
      WHERE ROUND(list_dot_product(a.v, b.v)
                  / (sqrt(list_dot_product(a.v, a.v))
                     * sqrt(list_dot_product(b.v, b.v))), 6) >= {SEMDEDUP_COS}
      GROUP BY b.vec_id
    )
    SELECT c.vec_id, c.label,
           CAST(COALESCE(d.keeper, c.vec_id) AS BIGINT) AS keeper_id,
           (d.keeper IS NULL) AS is_kept
    FROM corpus c LEFT JOIN dups d ON d.vec_b = c.vec_id
    """,
)
def semdedup(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Semantic dedup (SemDeDup, Abbas et al. 2023, arXiv:2303.09540):
    inside each embedding cluster, examples whose cosine similarity
    exceeds the threshold are semantic duplicates — keep one
    representative, drop the rest. Here the cluster assignment is the
    ``label`` column (the k-means step is `embedding_centroids`'s job);
    the keep rule is deterministic greedy-min: a vector is dropped iff
    some smaller-id vector in its cluster is ≥-threshold similar, and
    its keeper_id is the smallest such neighbor.

    Scale shape: the pairwise stage is an equi-join on the cluster id —
    cost O(Σ cluster²), the SemDeDup invariant, NOT O(n²) — then one
    groupBy(vec_b) min-agg and a left join back; the keeper map is two
    longs per DUPLICATE vector (a small fraction of the corpus), so it
    broadcasts — at extreme dup rates swap the hint for a bucketed
    equi-join, same plan otherwise. The 100 TB pairwise guard IS wired
    in: ``capped_cluster_keys`` refines oversized clusters by
    deterministic hyperplane sign bits BEFORE the join, so one skewed
    mega-cluster stays sub-quadratic, and the oracle applies the
    identical refinement (``_semdedup_split_ctes``) so both engines
    compare the same pair set. Synthetic clones (vec_id+100000) are
    guaranteed positives; the oracle builds the identical corpus."""
    e = load(spark, sf_dir, "embeddings").select(
        "vec_id", "label", _vec_double().alias("v")
    )
    corpus = e.unionAll(
        e.select((F.col("vec_id") + 100000).alias("vec_id"), "label", "v")
    )
    capped = capped_cluster_keys(corpus)
    a = capped.select(
        F.col("ckey"), F.col("vec_id").alias("va_id"), F.col("v").alias("va")
    )
    b = capped.select(
        F.col("ckey").alias("ckey_b"), F.col("vec_id").alias("vec_b"),
        F.col("v").alias("vb"),
    )
    dups = (
        a.join(b, (a.ckey == b.ckey_b) & (F.col("va_id") < F.col("vec_b")))
        .select(
            "va_id",
            "vec_b",
            F.round(
                _dot(F.col("va"), F.col("vb"))
                / (F.sqrt(_dot(F.col("va"), F.col("va"))) * F.sqrt(_dot(F.col("vb"), F.col("vb")))),
                6,
            ).alias("cosine"),
        )
        .filter(F.col("cosine") >= SEMDEDUP_COS)
        .groupBy("vec_b")
        .agg(F.min("va_id").alias("keeper"))
    )
    return (
        corpus.join(F.broadcast(dups), corpus.vec_id == dups.vec_b, "left")
        .select(
            "vec_id",
            "label",
            F.coalesce("keeper", "vec_id").cast("long").alias("keeper_id"),
            F.col("keeper").isNull().alias("is_kept"),
        )
    )


# --------------------------------------------------------------------------
# 98. embedding_centroids — per-group mean vectors (k-means/IVF primitive)
# --------------------------------------------------------------------------
@register(
    "embedding_centroids",
    oracle="""
    SELECT label, CAST(g.i - 1 AS INT) AS dim,
           ROUND(SUM(CAST(floor(CAST(embedding[g.i] AS DOUBLE) * 10000)
                          AS BIGINT)) * 1.0
                 / (10000 * COUNT(*)), 6) AS centroid,
           CAST(COUNT(*) AS BIGINT) AS n_vecs
    FROM embeddings, generate_series(1, 64) g(i)
    GROUP BY label, g.i
    """,
)
def embedding_centroids(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Per-label centroid vectors — the aggregation primitive under
    k-means / IVF training and class-prototype similarity. posexplode
    to (label, dim, value), then ONE groupBy(label, dim) average:
    partial aggregation collapses each partition to ≤ labels×dims rows
    map-side, so the shuffle is tiny regardless of vector count — the
    standard way to average millions of vectors without ever holding
    more than a counter per (group, dim) in memory.

    Floats are quantized to 1e-4 integers BEFORE aggregating, so both
    engines sum exactly and neither summation order nor round-half
    convention (Spark HALF_UP vs DuckDB HALF_EVEN) can flip a digit —
    avg-of-float aggregates are the classic cross-engine drift trap."""
    e = load(spark, sf_dir, "embeddings")
    exploded = e.select(
        "label", F.posexplode("embedding").alias("dim", "v")
    )
    scaled = F.floor(F.col("v").cast("double") * 10000).cast("long")
    return exploded.groupBy("label", F.col("dim").cast("int").alias("dim")).agg(
        F.round(F.sum(scaled) * 1.0 / (10000 * F.count("*")), 6).alias("centroid"),
        F.count("*").alias("n_vecs"),
    )


# --------------------------------------------------------------------------
# 160. knn_graph_bucketed — all-nodes top-k neighbor graph via LSH buckets
# --------------------------------------------------------------------------
def _bucket_sql_terms(vec_expr: str = "v") -> str:
    """DuckDB rendering of the sign-bit bucket id over ``vec_expr`` —
    the same planes and 6-digit sign rounding as the Spark side."""
    planes = _hyperplanes()
    return " + ".join(
        f"(CASE WHEN ROUND(list_dot_product({vec_expr}, "
        f"[{', '.join(repr(x) for x in planes[j])}]::DOUBLE[]), 6) > 0 "
        f"THEN {1 << j} ELSE 0 END)"
        for j in range(LSH_PLANES)
    )


def _bucket_col(v: str = "v"):
    """Spark twin of :func:`_bucket_sql_terms` (sign-bit bucket id)."""
    planes = _hyperplanes()
    bucket = None
    for j in range(LSH_PLANES):
        lit_plane = F.array(*[F.lit(x) for x in planes[j]])
        bit = F.when(
            F.round(_dot(F.col(v), lit_plane), 6) > 0, F.lit(1 << j)
        ).otherwise(0)
        bucket = bit if bucket is None else bucket + bit
    return bucket.cast("long")


def _knn_graph_oracle() -> str:
    return f"""
    WITH e AS (SELECT vec_id, embedding::DOUBLE[] AS v FROM embeddings),
    bucketed AS (
      SELECT vec_id, v, CAST({_bucket_sql_terms()} AS BIGINT) AS bucket FROM e
    ),
    probes AS (
      SELECT vec_id AS src_id, v AS sv,
             CASE WHEN p.p = 0 THEN bucket
                  ELSE xor(bucket, (1::BIGINT << (p.p - 1))) END AS pb
      FROM bucketed, generate_series(0, {LSH_PLANES}) p(p)
    ),
    scored AS (
      SELECT pr.src_id, b.vec_id AS dst_id,
             ROUND(list_dot_product(pr.sv, b.v)
                   / (sqrt(list_dot_product(pr.sv, pr.sv))
                      * sqrt(list_dot_product(b.v, b.v))), 6) AS cosine
      FROM probes pr JOIN bucketed b
        ON b.bucket = pr.pb AND b.vec_id <> pr.src_id
    )
    SELECT src_id, dst_id, cosine, CAST(rnk AS INT) AS rnk FROM (
      SELECT *, row_number() OVER (PARTITION BY src_id
                                   ORDER BY cosine DESC, dst_id) AS rnk
      FROM scored
    ) WHERE rnk <= {TOPK}
    """


@register("knn_graph_bucketed", oracle=_knn_graph_oracle())
def knn_graph_bucketed(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Symmetric k-NN graph over the whole corpus — the input structure
    for graph-based semantic clustering and diversity sampling: every
    node gets its top-{TOPK} cosine neighbors among the vectors sharing
    one of its multi-probe LSH buckets (own bucket + every 1-bit flip).

    This differs from `ann_lsh_bucketed` in the SCALE SHAPE, not just
    the query set: there every query is broadcast (fine for a handful
    of probe vectors); here EVERY node is a query, so the probe side is
    exploded to (node, probe_bucket) rows and the candidate join runs
    as a plain shuffle equi-join keyed on the bucket — both sides
    exchange once on a bounded key, nothing is broadcast, and the plan
    survives a corpus that is 1000x the executor memory. The top-k
    window repartitions on src_id, the second and last exchange.
    Probe buckets of one node are pairwise distinct, so no candidate
    pair is scored twice (no dedup pass needed)."""
    e = load(spark, sf_dir, "embeddings").select(
        "vec_id", _vec_double().alias("v")
    )
    return knn_graph_core(e)


def knn_graph_core(e: DataFrame) -> DataFrame:
    """The reusable graph core over an (vec_id, v: array<double>)
    corpus — shared by the operator and the planted-twin recall gate in
    tests/test_ann_graph_pq.py.

    Exact-duplicate collapse (round 5, after the 10× probe measured
    ~80× wall on exact-copy replicas): identical vectors have identical
    buckets, probes, AND cosines — extra hyperplane bits can never
    split them — so the bucket join runs ONCE per distinct vector and
    the result expands back exactly. Per duplicate-group (rep = min
    vec_id, members sorted): rep-level candidates expand to the dst
    group's members, co-members join at the self-cosine, the rep list
    truncates at top-(k+1) (removing one element — the member itself —
    shifts ranks by at most one), and each member takes the first k of
    the rep list minus itself. Bit-exact vs the brute per-node graph
    (tests/test_ann_graph_pq.py::test_knn_graph_duplicate_collapse):
    pair work scales with DISTINCT bucket density, so a corpus that is
    10× exact copies costs ~10×, not ~100×."""
    groups = e.groupBy("v").agg(
        F.min("vec_id").alias("rep"),
        F.sort_array(F.collect_list("vec_id")).alias("members"),
        F.count("*").alias("m"),
    )
    reps = groups.select(F.col("rep").alias("vec_id"), "v")
    b = reps.withColumn("bucket", _bucket_col())
    probes = b.select(
        F.col("vec_id").alias("src_id"),
        F.col("v").alias("sv"),
        F.explode(
            F.array(
                F.col("bucket"),
                *[
                    F.expr(f"cast(bucket ^ {1 << j} as bigint)")
                    for j in range(LSH_PLANES)
                ],
            )
        ).alias("pb"),
    )
    scored = (
        b.join(probes, (F.col("bucket") == F.col("pb")) & (F.col("vec_id") != F.col("src_id")))
        .select(
            "src_id",
            F.col("vec_id").alias("dst_rep"),
            F.round(
                _dot(F.col("sv"), F.col("v"))
                / (
                    F.sqrt(_dot(F.col("sv"), F.col("sv")))
                    * F.sqrt(_dot(F.col("v"), F.col("v")))
                ),
                6,
            ).alias("cosine"),
        )
    )
    # expand dst reps to their group members (no-op when all groups
    # are singletons: the join keys rep → [rep])
    gm = groups.select(
        F.col("rep").alias("dst_rep"), F.col("members").alias("dms")
    )
    expanded = scored.join(gm, "dst_rep").select(
        "src_id", F.explode("dms").alias("dst_id"), "cosine"
    )
    # co-members of a duplicate group are each other's candidates at
    # the self-cosine — the EXACT expression the brute pair scoring
    # evaluates on two identical arrays
    self_cos = F.round(
        _dot(F.col("v"), F.col("v"))
        / (F.sqrt(_dot(F.col("v"), F.col("v"))) * F.sqrt(_dot(F.col("v"), F.col("v")))),
        6,
    )
    selfrows = groups.filter(F.col("m") > 1).select(
        F.col("rep").alias("src_id"),
        F.explode("members").alias("dst_id"),
        self_cos.alias("cosine"),
    )
    allc = expanded.unionByName(selfrows)
    wr = Window.partitionBy("src_id").orderBy(F.col("cosine").desc(), "dst_id")
    rep_list = (
        allc.withColumn("rnk", F.row_number().over(wr))
        .filter(F.col("rnk") <= TOPK + 1)
        .select("src_id", "dst_id", "cosine")
    )
    sm = groups.select(
        F.col("rep").alias("src_id"), F.explode("members").alias("u")
    )
    wu = Window.partitionBy("u").orderBy(F.col("cosine").desc(), "dst_id")
    return (
        rep_list.join(sm, "src_id")
        .filter(F.col("dst_id") != F.col("u"))
        .withColumn("rnk", F.row_number().over(wu).cast("int"))
        .filter(F.col("rnk") <= TOPK)
        .select(F.col("u").alias("src_id"), "dst_id", "cosine", "rnk")
    )


# --------------------------------------------------------------------------
# 161. ann_pq_adc — product quantization + asymmetric-distance scoring
# --------------------------------------------------------------------------
PQ_M = 8        # subspaces
PQ_SUBDIM = DIM // PQ_M
PQ_K = 16       # codewords per subspace
PQ_SCALE = 1000  # vectors quantized to integer thousandths (floor)


def _pq_codebook() -> list[list[list[int]]]:
    """Deterministic integer codebook [PQ_M][PQ_K][PQ_SUBDIM] in
    [-{PQ_SCALE}, {PQ_SCALE}], derived from md5 exactly like
    :func:`_hyperplanes` — inlined as literals into BOTH engines (a
    production pipeline would train it with k-means and inline
    the trained values the same way)."""
    cb = []
    for j in range(PQ_M):
        rows = []
        for k in range(PQ_K):
            rows.append(
                [
                    int(hashlib.md5(f"pq:{j}:{k}:{i}".encode()).hexdigest()[:15], 16)
                    % (2 * PQ_SCALE + 1)
                    - PQ_SCALE
                    for i in range(PQ_SUBDIM)
                ]
            )
        cb.append(rows)
    return cb


def _pq_cb_spark(j: int) -> str:
    cb = _pq_codebook()
    return (
        "array("
        + ", ".join(
            "array(" + ", ".join(f"{x}L" for x in row) + ")" for row in cb[j]
        )
        + ")"
    )


def _pq_cb_sql(j: int) -> str:
    cb = _pq_codebook()
    return (
        "[" + ", ".join("[" + ", ".join(str(x) for x in row) + "]" for row in cb[j])
        + "]::BIGINT[][]"
    )


def _pq_oracle() -> str:
    dist_cols = ",\n             ".join(
        f"list_transform({_pq_cb_sql(j)}, c -> CAST(list_sum(list_transform("
        f"list_zip(qv[{j * PQ_SUBDIM + 1}:{(j + 1) * PQ_SUBDIM}], c), "
        f"p -> (struct_extract(p, 1) - struct_extract(p, 2))"
        f" * (struct_extract(p, 1) - struct_extract(p, 2)))) AS BIGINT)) AS d{j}"
        for j in range(PQ_M)
    )
    code_list = ", ".join(
        f"list_position(d{j}, list_min(d{j}))" for j in range(PQ_M)
    )
    adc_terms = "\n               + ".join(
        f"list_sum(list_transform(list_zip("
        f"q.query_v[{j * PQ_SUBDIM + 1}:{(j + 1) * PQ_SUBDIM}], "
        f"({_pq_cb_sql(j)})[c.codes[{j + 1}]]), "
        f"p -> (struct_extract(p, 1) - struct_extract(p, 2))"
        f" * (struct_extract(p, 1) - struct_extract(p, 2))))"
        for j in range(PQ_M)
    )
    return f"""
    WITH e AS (
      SELECT vec_id,
             list_transform(embedding::DOUBLE[],
                            x -> CAST(floor(x * {PQ_SCALE}) AS BIGINT)) AS qv
      FROM embeddings
    ),
    d AS (
      SELECT vec_id, qv,
             {dist_cols}
      FROM e
    ),
    codes AS (SELECT vec_id, [{code_list}] AS codes FROM d),
    q AS (SELECT vec_id AS q_id, qv AS query_v FROM e WHERE vec_id < {N_QUERIES}),
    scored AS (
      SELECT q.q_id AS query_id, c.vec_id AS neighbor_id,
             CAST({adc_terms} AS BIGINT) AS adc_dist
      FROM codes c, q WHERE c.vec_id <> q.q_id
    )
    SELECT query_id, neighbor_id, adc_dist, CAST(rnk AS INT) AS rnk FROM (
      SELECT *, row_number() OVER (PARTITION BY query_id
                                   ORDER BY adc_dist, neighbor_id) AS rnk
      FROM scored
    ) WHERE rnk <= {TOPK}
    """


@register("ann_pq_adc", oracle=_pq_oracle())
def ann_pq_adc(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Product-quantization ANN (Jégou et al. 2011): each vector is
    compressed to {PQ_M} codeword ids (one per {PQ_SUBDIM}-dim
    subspace, nearest of {PQ_K} codewords by squared L2), and queries
    score candidates by asymmetric distance — exact query subvector vs
    the candidate's CODEWORD — so the search scans the {PQ_M}-byte code
    table instead of the {DIM}-float embedding table (an 8x-32x
    bandwidth cut, the reason IVF-PQ is the standard billion-vector
    layout). Vectors are floor-quantized to integer thousandths and
    the codebook is integer, so assignment and ADC are exact integer
    arithmetic on both engines.

    Scale shape: code assignment is a narrow per-row expression (one
    scan, zero shuffles, codebook inlined as literals into codegen);
    the query scan broadcasts the tiny query set over the code table —
    at 100 TB you'd front it with the IVF cell filter
    (`ann_ivf_coarse`) so each query scans one cell's codes. The ADC
    'lookup table' is algebraic here: dist(q_sub, CB[code]) computed
    inline — same integers a per-query LUT would hold."""
    e = load(spark, sf_dir, "embeddings").select(
        "vec_id",
        F.expr(
            f"transform(embedding, x -> CAST(floor(CAST(x AS DOUBLE) * {PQ_SCALE}) AS BIGINT))"
        ).alias("qv"),
    )
    with_codes = e
    for j in range(PQ_M):
        dist_expr = (
            f"transform({_pq_cb_spark(j)}, c -> aggregate(zip_with("
            f"slice(qv, {j * PQ_SUBDIM + 1}, {PQ_SUBDIM}), c, "
            f"(x, y) -> (x - y) * (x - y)), 0L, (acc, v) -> acc + v))"
        )
        with_codes = with_codes.withColumn(
            f"code{j}", F.expr(f"array_position({dist_expr}, array_min({dist_expr}))")
        )
    codes = with_codes.select(
        "vec_id",
        F.array(*[F.col(f"code{j}") for j in range(PQ_M)]).alias("codes"),
    )
    q = e.filter(F.col("vec_id") < N_QUERIES).select(
        F.col("vec_id").alias("q_id"), F.col("qv").alias("query_v")
    )
    adc = " + ".join(
        f"aggregate(zip_with(slice(query_v, {j * PQ_SUBDIM + 1}, {PQ_SUBDIM}), "
        f"element_at({_pq_cb_spark(j)}, CAST(element_at(codes, {j + 1}) AS INT)), "
        f"(x, y) -> (x - y) * (x - y)), 0L, (acc, v) -> acc + v)"
        for j in range(PQ_M)
    )
    scored = (
        codes.join(F.broadcast(q), F.col("vec_id") != F.col("q_id"))
        .select(
            F.col("q_id").alias("query_id"),
            F.col("vec_id").alias("neighbor_id"),
            F.expr(f"CAST({adc} AS BIGINT)").alias("adc_dist"),
        )
    )
    w = Window.partitionBy("query_id").orderBy("adc_dist", "neighbor_id")
    return (
        scored.withColumn("rnk", F.row_number().over(w).cast("int"))
        .filter(F.col("rnk") <= TOPK)
    )


# --------------------------------------------------------------------------
# 171. jl_random_projection — Johnson-Lindenstrauss ±1 sign projection
# --------------------------------------------------------------------------
JL_OUT_DIM = 16
JL_IN_DIM = 64
# Knuth multiplicative-hash constant; the (j*101+d) index mix keeps
# (j, d) pairs distinct within the 16x64 sign matrix.
JL_HASH_A = 2654435761


@register(
    "jl_random_projection",
    oracle=f"""
    WITH e AS (
      SELECT vec_id, label,
             CAST(round(CAST(unnest(embedding) AS DOUBLE) * 1000)
                  AS BIGINT) AS q,
             generate_subscripts(embedding, 1) - 1 AS d
      FROM embeddings
    ),
    c AS (
      SELECT vec_id, label, j.j AS j,
             CAST(SUM(q * CASE WHEN (((j.j * 101 + d) * {JL_HASH_A})
                                     % 4294967296) // 65536 % 2 = 0
                              THEN 1 ELSE -1 END) AS BIGINT) AS p
      FROM e, generate_series(0, {JL_OUT_DIM - 1}) j(j)
      GROUP BY vec_id, label, j.j
    )
    SELECT vec_id, label,
           '[' || string_agg(CAST(p AS VARCHAR), ',' ORDER BY j) || ']'
             AS proj_json
    FROM c GROUP BY vec_id, label
    """,
)
def jl_random_projection(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Johnson-Lindenstrauss dimensionality reduction:
    {JL_IN_DIM}-dim embeddings -> {JL_OUT_DIM}-dim via a ±1 sign
    matrix (Achlioptas 2003: database-friendly random projections —
    ±1 entries preserve pairwise distances in expectation like
    Gaussian ones, but need only integer arithmetic). The sign matrix
    is never materialized: entry (j, d) is the parity of one bit of a
    multiplicative hash, recomputed identically on both engines.

    The scale pre-step for every downstream ANN/dedup pass: shrinking
    vectors 4x cuts candidate-scoring I/O 4x. ZERO shuffles — the
    projection is one narrow per-row expression (nested higher-order
    functions over the embedding array, all inside codegen); vectors
    are round-quantized to integer thousandths first so the projection
    sums are exact longs and the DuckDB oracle replays them
    bit-for-bit."""
    e = load(spark, sf_dir, "embeddings")
    q = F.transform(
        "embedding",
        lambda v: F.round(v.cast("double") * 1000).cast("long"),
    )

    def sign(j, d):
        h = (j * 101 + d) * F.lit(JL_HASH_A)
        bit = F.shiftright(h % F.lit(4294967296), 16) % 2
        return F.when(bit == 0, F.lit(1)).otherwise(F.lit(-1)).cast("long")

    proj = F.transform(
        F.sequence(F.lit(0), F.lit(JL_OUT_DIM - 1)),
        lambda j: F.aggregate(
            F.zip_with(
                F.col("q"),
                F.sequence(F.lit(0), F.lit(JL_IN_DIM - 1)),
                lambda v, d: v * sign(j, d),
            ),
            F.lit(0).cast("long"),
            lambda acc, x: acc + x,
        ),
    )
    return (
        e.withColumn("q", q)
        .select("vec_id", "label", F.to_json(proj).alias("proj_json"))
    )
