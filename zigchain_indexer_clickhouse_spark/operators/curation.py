"""Corpus-curation operators (SURVEY.md §2.3 continued, #62-67):
normalized dedup, PII scrubbing, benchmark-contamination checks,
stratified sampling, corpus statistics, and IVF-style ANN — the
remaining standard stages of a pre-training data pipeline.

All deterministic and oracle-replayable; candidate generation is
always an equi-join on a derived key (shingle match / stratum / cell),
never an all-pairs scan.
"""

from __future__ import annotations

import hashlib

from pyspark.sql import DataFrame, SparkSession, Window
from pyspark.sql import functions as F

from zigchain_indexer_clickhouse_spark.catalog import _shared_stage, load
from zigchain_indexer_clickhouse_spark.plans.registry import register

PII_EMAIL = r"[A-Za-z0-9._%+-]+@[A-Za-z0-9.-]+\.[A-Za-z]{2,}"
PII_NUMBER = r"\b\d{6,}\b"


# --------------------------------------------------------------------------
# 62. dedup_normalized — canonicalize then exact-dedup
# --------------------------------------------------------------------------
@register(
    "dedup_normalized",
    oracle=r"""
    WITH corpus AS (
      SELECT doc_id, text FROM documents
      UNION ALL
      SELECT doc_id + 10000, upper(text) || '  ' FROM documents
    ),
    norm AS (
      SELECT doc_id,
             lower(trim(regexp_replace(text, '[^\w\s]', '', 'g'))) AS ntext
      FROM corpus
    )
    SELECT sha256(ntext) AS norm_hash, COUNT(*) AS n_dups,
           CAST(MIN(doc_id) AS BIGINT) AS keeper_doc_id
    FROM norm GROUP BY 1 HAVING COUNT(*) > 1
    """,
)
def dedup_normalized(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Normalization-aware exact dedup: strip punctuation, lowercase,
    trim, then hash-groupBy. Catches case/punctuation variants that
    plain exact dedup misses (the synthetic corpus adds uppercased
    copies with trailing whitespace as known positives)."""
    d = load(spark, sf_dir, "documents").select("doc_id", "text")
    corpus = d.unionAll(
        d.select(
            (F.col("doc_id") + 10000).alias("doc_id"),
            F.concat(F.upper("text"), F.lit("  ")).alias("text"),
        )
    )
    ntext = F.lower(F.trim(F.regexp_replace("text", r"[^\w\s]", "")))
    return (
        corpus.select("doc_id", ntext.alias("ntext"))
        .groupBy(F.sha2("ntext", 256).alias("norm_hash"))
        .agg(
            F.count("*").alias("n_dups"),
            F.min("doc_id").cast("long").alias("keeper_doc_id"),
        )
        .filter(F.col("n_dups") > 1)
    )


# --------------------------------------------------------------------------
# 63. pii_scrub — pattern-based PII redaction
# --------------------------------------------------------------------------
@register(
    "pii_scrub",
    oracle=f"""
    WITH aug AS (
      SELECT doc_id,
             CASE WHEN doc_id % 3 = 0
                  THEN text || ' contact user' || CAST(doc_id AS VARCHAR)
                       || '@example.com id 1234567' || CAST(doc_id AS VARCHAR)
                  ELSE text END AS text
      FROM documents
    )
    SELECT doc_id,
           regexp_replace(regexp_replace(text, '{PII_EMAIL}', '<EMAIL>', 'g'),
                          '{PII_NUMBER}', '<NUM>', 'g') AS scrubbed,
           CAST(len(regexp_extract_all(text, '{PII_EMAIL}')) AS INT) AS n_emails,
           CAST(len(regexp_extract_all(text, '{PII_NUMBER}')) AS INT) AS n_numbers
    FROM aug
    """,
)
def pii_scrub(spark: SparkSession, sf_dir: str) -> DataFrame:
    """PII redaction pass: emails and long digit runs replaced with
    typed placeholders, plus per-doc match counts for audit. Synthetic
    PII is injected into every third doc so the scrub provably fires.
    Pure regexp codegen — the standard pre-training scrub stage."""
    d = load(spark, sf_dir, "documents")
    aug = F.when(
        F.col("doc_id") % 3 == 0,
        F.concat(
            F.col("text"),
            F.lit(" contact user"),
            F.col("doc_id").cast("string"),
            F.lit("@example.com id 1234567"),
            F.col("doc_id").cast("string"),
        ),
    ).otherwise(F.col("text"))
    d = d.select("doc_id", aug.alias("text"))
    return d.select(
        "doc_id",
        F.regexp_replace(
            F.regexp_replace("text", PII_EMAIL, "<EMAIL>"), PII_NUMBER, "<NUM>"
        ).alias("scrubbed"),
        F.regexp_count("text", F.lit(PII_EMAIL)).cast("int").alias("n_emails"),
        F.regexp_count("text", F.lit(PII_NUMBER)).cast("int").alias("n_numbers"),
    )


# --------------------------------------------------------------------------
# 64. contamination_check — benchmark n-gram overlap detection
# --------------------------------------------------------------------------
@register(
    "contamination_check",
    oracle="""
    WITH bench AS (
      SELECT doc_id AS bench_id, string_split(trim(text), ' ') AS toks
      FROM documents WHERE doc_id % 50 = 0
    ),
    bench_sh AS (
      SELECT DISTINCT bench_id,
             toks[g.i] || ' ' || toks[g.i+1] || ' ' || toks[g.i+2]
               || ' ' || toks[g.i+3] || ' ' || toks[g.i+4] AS phrase
      FROM bench, generate_series(1, 4000) g(i)
      WHERE g.i <= len(toks) - 4
    ),
    corpus_sh AS (
      SELECT DISTINCT d.doc_id,
             toks[g.i] || ' ' || toks[g.i+1] || ' ' || toks[g.i+2]
               || ' ' || toks[g.i+3] || ' ' || toks[g.i+4] AS phrase
      FROM (SELECT doc_id, string_split(trim(text), ' ') AS toks
            FROM documents) d, generate_series(1, 4000) g(i)
      WHERE g.i <= len(toks) - 4
    )
    SELECT c.doc_id, b.bench_id, COUNT(*) AS n_shared_phrases
    FROM corpus_sh c JOIN bench_sh b ON c.phrase = b.phrase
    WHERE c.doc_id <> b.bench_id
    GROUP BY c.doc_id, b.bench_id
    HAVING COUNT(*) >= 3
    """,
)
def contamination_check(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Benchmark-contamination detection: 5-gram phrases of a held-out
    'benchmark' set (every 50th doc) equi-joined against corpus 5-grams;
    docs sharing ≥3 phrases with a benchmark doc are flagged. The join
    is on the phrase itself — at 100 TB the benchmark side is tiny and
    broadcast, so this is one broadcast join over the corpus shingle
    stream, no shuffle of the corpus."""
    d = load(spark, sf_dir, "documents").select(
        "doc_id", F.split(F.trim("text"), " ").alias("toks")
    ).filter(F.size("toks") >= 5)
    grams = F.array_distinct(
        F.transform(
            F.sequence(F.lit(0), F.size("toks") - 5),
            lambda i: F.concat_ws(" ", F.slice(F.col("toks"), i + 1, F.lit(5))),
        )
    )
    sh = d.select("doc_id", F.explode(grams).alias("phrase"))
    bench = sh.filter(F.col("doc_id") % 50 == 0).select(
        F.col("doc_id").alias("bench_id"), "phrase"
    )
    return (
        sh.join(F.broadcast(bench), "phrase")
        .filter(F.col("doc_id") != F.col("bench_id"))
        .groupBy("doc_id", "bench_id")
        .agg(F.count("*").alias("n_shared_phrases"))
        .filter(F.col("n_shared_phrases") >= 3)
    )


# --------------------------------------------------------------------------
# 65. stratified_sample — deterministic per-stratum sampling
# --------------------------------------------------------------------------
@register(
    "stratified_sample",
    oracle="""
    WITH hashed AS (
      SELECT doc_id, lang, source, n_chars,
             CAST('0x' || substr(md5('sample|' || CAST(doc_id AS VARCHAR)), 1, 15)
                  AS BIGINT) % 100 AS bucket
      FROM documents
    )
    SELECT doc_id, lang, source, CAST(n_chars AS BIGINT) AS n_chars
    FROM hashed
    WHERE (lang = 'en' AND bucket < 20) OR (lang <> 'en' AND bucket < 60)
    """,
)
def stratified_sample(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Deterministic stratified sampling for corpus mixing: hash-bucket
    each doc (portable md5 hash, reproducible across engines and runs),
    keep 20% of English and 60% of other languages — the up/down-
    sampling stage of corpus curation. Narrow op, no shuffle, and the
    sample is stable under re-runs and cluster re-partitioning (unlike
    rand()-based sampling)."""
    d = load(spark, sf_dir, "documents")
    bucket = (
        F.conv(
            F.substring(
                F.md5(F.concat(F.lit("sample|"), F.col("doc_id").cast("string"))), 1, 15
            ),
            16,
            10,
        ).cast("long")
        % 100
    )
    keep = ((F.col("lang") == "en") & (bucket < 20)) | (
        (F.col("lang") != "en") & (bucket < 60)
    )
    return d.filter(keep).select(
        "doc_id", "lang", "source", F.col("n_chars").cast("long").alias("n_chars")
    )


# --------------------------------------------------------------------------
# 66. corpus_stats — per-stratum corpus profile
# --------------------------------------------------------------------------
@register(
    "corpus_stats",
    oracle="""
    SELECT lang, source, COUNT(*) AS n_docs,
           CAST(SUM(n_chars) AS BIGINT) AS total_chars,
           CAST(SUM(len(string_split(trim(text), ' '))) AS BIGINT) AS total_tokens,
           ROUND(quantile_cont(n_chars, 0.5), 1) AS median_chars
    FROM documents
    GROUP BY lang, source
    """,
)
def corpus_stats(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Corpus profile per (lang, source): doc counts, char/token
    volumes, median length — the bookkeeping every mixing decision
    reads. Single shuffle; token counts computed inline (no second
    pass)."""
    d = load(spark, sf_dir, "documents")
    return d.groupBy("lang", "source").agg(
        F.count("*").alias("n_docs"),
        F.sum("n_chars").cast("long").alias("total_chars"),
        F.sum(F.size(F.split(F.trim("text"), " "))).cast("long").alias("total_tokens"),
        F.round(F.percentile("n_chars", F.lit(0.5)), 1).alias("median_chars"),
    )


# --------------------------------------------------------------------------
# 67. ann_ivf_coarse — IVF-style coarse-quantized ANN
# --------------------------------------------------------------------------
def _centroids(k: int = 8, dim: int = 64) -> list[list[float]]:
    """Deterministic pseudo-random coarse centroids (md5-derived,
    inlined into both engines — no RNG, no training step here; a real
    IVF would k-means these)."""
    cents = []
    for c in range(k):
        row = []
        for i in range(dim):
            h = int(hashlib.md5(f"ivf:{c}:{i}".encode()).hexdigest()[:15], 16)
            row.append((h % 2001 - 1000) / 1000.0)
        cents.append(row)
    return cents


IVF_NPROBE = 2  # query-side cells searched (nprobe dial)


def _ivf_oracle() -> str:
    cents = _centroids()
    dots = ", ".join(
        f"list_dot_product(v, [{', '.join(repr(x) for x in c)}]::DOUBLE[])"
        for c in cents
    )
    return f"""
    WITH e AS (SELECT vec_id, embedding::DOUBLE[] AS v FROM embeddings),
    assigned AS (
      SELECT vec_id, v,
             CAST(list_position([{dots}],
                  list_max([{dots}])) - 1 AS INT) AS cell
      FROM e
    ),
    qd AS (SELECT vec_id AS q_id, v AS qv, [{dots}] AS dots
           FROM e WHERE vec_id < 5),
    probes AS (
      SELECT q_id, qv, CAST(g.i AS INT) AS pc
      FROM (
        SELECT q_id, qv, g.i,
               row_number() OVER (PARTITION BY q_id
                                  ORDER BY dots[g.i + 1] DESC, g.i) AS rk
        FROM qd, generate_series(0, {len(cents) - 1}) g(i)
      ) g WHERE rk <= {IVF_NPROBE}
    ),
    scored AS (
      SELECT p.q_id AS query_id, a.vec_id AS neighbor_id, a.cell,
             ROUND(list_dot_product(p.qv, a.v)
                   / (sqrt(list_dot_product(p.qv, p.qv))
                      * sqrt(list_dot_product(a.v, a.v))), 6) AS cosine
      FROM probes p JOIN assigned a ON a.cell = p.pc AND a.vec_id <> p.q_id
    )
    SELECT query_id, neighbor_id, CAST(cell AS INT) AS cell, cosine,
           CAST(rnk AS INT) AS rnk FROM (
      SELECT *, row_number() OVER (PARTITION BY query_id
                                   ORDER BY cosine DESC, neighbor_id) AS rnk
      FROM scored
    ) WHERE rnk <= 5
    """


@register("ann_ivf_coarse", oracle=_ivf_oracle())
def ann_ivf_coarse(spark: SparkSession, sf_dir: str) -> DataFrame:
    """IVF-flavored ANN: assign every vector to its nearest coarse
    centroid (argmax inner product over k deterministic centroids),
    then search only within the query's cell. Same plan shape as a
    trained IVF index: the assignment is a narrow per-row fold, the
    search an equi-join on the query's top-{IVF_NPROBE} cells (nprobe:
    a near neighbor just across a cell boundary is still found) — the
    second scale path next to LSH. Recall vs the brute-force truth on
    planted near-neighbors is gated in tests/test_dedup_recall.py."""
    e = load(spark, sf_dir, "embeddings").select(
        "vec_id", F.transform("embedding", lambda x: x.cast("double")).alias("v")
    )
    return ivf_cell_topk(e, F.col("vec_id") < 5)


def ivf_cell_topk(corpus: DataFrame, is_query) -> DataFrame:
    """The reusable IVF core: assign (vec_id, v) rows to their nearest
    deterministic coarse centroid, equi-join queries to same-cell
    candidates, return the per-query cosine top-5. Shared by the
    `ann_ivf_coarse` operator and the planted-neighbor recall gate."""
    cents = _centroids()

    def dot_lit(c: list[float]):
        plane = F.array(*[F.lit(x) for x in c])
        return F.aggregate(
            F.zip_with(F.col("v"), plane, lambda x, y: x * y),
            F.lit(0.0),
            lambda acc, x: acc + x,
        )

    # dots computed ONCE into a bound column; every later reference
    # (argmax, masking, next argmax) reads the attribute, so the k×dim
    # fold never duplicates into downstream expression trees
    with_dots = corpus.withColumn("dots", F.array(*[dot_lit(c) for c in cents]))
    assigned = with_dots.withColumn(
        "cell",
        (F.array_position(F.col("dots"), F.array_max("dots")) - 1).cast("int"),
    )
    # query side probes its top-{IVF_NPROBE} cells via iterated
    # mask-and-argmax (ties break to the lowest index — same as the
    # oracle's ORDER BY dot DESC, i)
    qb = assigned.filter(is_query).withColumn("c0", F.col("cell"))
    prev = "dots"

    def _mask(mask_col: str):
        # closure factory: F.transform requires an EXACTLY-two-param
        # lambda (a default third param breaks arity introspection)
        return lambda x, i: F.when(
            i == F.col(mask_col), F.lit(float("-inf"))
        ).otherwise(x)

    for lvl in range(1, IVF_NPROBE):
        nxt = f"dots{lvl}"
        qb = qb.withColumn(
            nxt, F.transform(F.col(prev), _mask(f"c{lvl - 1}"))
        ).withColumn(
            f"c{lvl}",
            (F.array_position(F.col(nxt), F.array_max(nxt)) - 1).cast("int"),
        )
        prev = nxt
    q = qb.select(
        F.col("vec_id").alias("q_id"),
        F.col("v").alias("qv"),
        F.explode(
            F.array(*[F.col(f"c{lv}") for lv in range(IVF_NPROBE)])
        ).alias("qc"),
    )
    assigned = assigned.drop("dots")
    dot_qv = F.aggregate(
        F.zip_with(F.col("qv"), F.col("v"), lambda x, y: x * y),
        F.lit(0.0),
        lambda acc, x: acc + x,
    )
    norm = lambda c: F.sqrt(  # noqa: E731
        F.aggregate(
            F.zip_with(F.col(c), F.col(c), lambda x, y: x * y),
            F.lit(0.0),
            lambda acc, x: acc + x,
        )
    )
    scored = (
        assigned.join(
            F.broadcast(q),
            (F.col("cell") == F.col("qc")) & (F.col("vec_id") != F.col("q_id")),
        )
        .select(
            F.col("q_id").alias("query_id"),
            F.col("vec_id").alias("neighbor_id"),
            F.col("cell").cast("int").alias("cell"),
            F.round(dot_qv / (norm("qv") * norm("v")), 6).alias("cosine"),
        )
    )
    w = Window.partitionBy("query_id").orderBy(F.col("cosine").desc(), "neighbor_id")
    return scored.withColumn("rnk", F.row_number().over(w).cast("int")).filter(
        F.col("rnk") <= 5
    )


# --------------------------------------------------------------------------
# 77. gopher_quality_filter — rule-based doc quality gate
# --------------------------------------------------------------------------
@register(
    "gopher_quality_filter",
    oracle="""
    WITH tok AS (
      SELECT doc_id, lang, string_split(trim(text), ' ') AS toks
      FROM documents
    ),
    m AS (
      SELECT doc_id, lang,
             len(toks) AS n_words,
             ROUND(list_sum(list_transform(toks, t -> strlen(t))) * 1.0
                   / len(toks), 4) AS mean_word_len,
             ROUND(list_sum(list_transform(toks,
                     t -> CASE WHEN t IN ('the','a','of','to','in')
                               THEN 1 ELSE 0 END)) * 1.0 / len(toks), 4)
               AS stopword_frac
      FROM tok
    )
    SELECT doc_id, lang, CAST(n_words AS BIGINT) AS n_words,
           mean_word_len, stopword_frac,
           CAST(CASE WHEN n_words BETWEEN 30 AND 100000
                      AND mean_word_len BETWEEN 3 AND 8
                      AND stopword_frac <= 0.3
                     THEN 1 ELSE 0 END AS INT) AS keep
    FROM m
    """,
)
def gopher_quality_filter(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Rule-based quality gate in the Gopher/C4 style: word count,
    mean word length, and stopword fraction per document, plus the
    keep/drop verdict. Entirely narrow per-row higher-order-function
    arithmetic — no shuffle at all, so it streams through 100 TB at
    scan speed (the shape you want for the first pass of a corpus
    pipeline, before anything that needs a shuffle)."""
    d = load(spark, sf_dir, "documents").select(
        "doc_id", "lang", F.split(F.trim("text"), " ").alias("toks")
    )
    n_words = F.size("toks")
    sum_len = F.aggregate(
        F.transform("toks", lambda t: F.length(t)), F.lit(0),
        lambda acc, x: acc + x,
    )
    n_stop = F.aggregate(
        F.transform(
            "toks",
            lambda t: F.when(
                t.isin("the", "a", "of", "to", "in"), 1
            ).otherwise(0),
        ),
        F.lit(0),
        lambda acc, x: acc + x,
    )
    m = d.select(
        "doc_id",
        "lang",
        n_words.cast("long").alias("n_words"),
        F.round(sum_len * 1.0 / n_words, 4).alias("mean_word_len"),
        F.round(n_stop * 1.0 / n_words, 4).alias("stopword_frac"),
    )
    keep = (
        F.col("n_words").between(30, 100000)
        & F.col("mean_word_len").between(3, 8)
        & (F.col("stopword_frac") <= 0.3)
    )
    return m.withColumn("keep", keep.cast("int"))


# --------------------------------------------------------------------------
# 78. repetition_filter — within-doc n-gram repetition gate
# --------------------------------------------------------------------------
@register(
    "repetition_filter",
    oracle="""
    WITH tok AS (
      SELECT doc_id, string_split(trim(text), ' ') AS toks FROM documents
    ),
    grams AS (
      SELECT doc_id, toks[g.i] || ' ' || toks[g.i+1] AS gram
      FROM tok, generate_series(1, 4000) g(i)
      WHERE g.i <= len(toks) - 1
    ),
    per_gram AS (
      SELECT doc_id, gram, COUNT(*) AS c FROM grams GROUP BY doc_id, gram
    )
    SELECT doc_id,
           CAST(SUM(c) AS BIGINT) AS n_grams,
           CAST(COUNT(*) AS BIGINT) AS n_distinct_grams,
           ROUND(MAX(c) * 1.0 / SUM(c), 4) AS top_gram_frac,
           CAST(CASE WHEN MAX(c) * 1.0 / SUM(c) <= 0.2 THEN 1 ELSE 0 END
                AS INT) AS keep
    FROM per_gram GROUP BY doc_id
    """,
)
def repetition_filter(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Within-document repetition gate (the Gopher 'repetition' rules):
    share of all 2-grams taken by the single most frequent 2-gram; docs
    dominated by one phrase are boilerplate and dropped. Two aggregates,
    both keyed by doc_id — the second reuses the first's hash
    partitioning, so the gram explosion shuffles once and the wide gram
    strings never leave their executor a second time."""
    d = load(spark, sf_dir, "documents").select(
        "doc_id", F.split(F.trim("text"), " ").alias("toks")
    ).filter(F.size("toks") >= 2)
    grams = F.transform(
        F.sequence(F.lit(0), F.size("toks") - 2),
        lambda i: F.concat_ws(" ", F.slice(F.col("toks"), i + 1, F.lit(2))),
    )
    per_gram = (
        d.select("doc_id", F.explode(grams).alias("gram"))
        .groupBy("doc_id", "gram")
        .agg(F.count("*").alias("c"))
    )
    out = per_gram.groupBy("doc_id").agg(
        F.sum("c").cast("long").alias("n_grams"),
        F.count("*").cast("long").alias("n_distinct_grams"),
        F.round(F.max("c") * 1.0 / F.sum("c"), 4).alias("top_gram_frac"),
    )
    return out.withColumn(
        "keep", (F.col("top_gram_frac") <= 0.2).cast("int")
    )


# --------------------------------------------------------------------------
# 99. sequence_packing — pack docs into fixed token-budget sequences
# --------------------------------------------------------------------------
PACK_BUDGET = 2048
PACK_SHARDS = 4


@register(
    "sequence_packing",
    oracle=f"""
    WITH toks AS (
      SELECT doc_id, CAST(doc_id % {PACK_SHARDS} AS INT) AS shard,
             CAST(len(string_split(trim(text), ' ')) AS BIGINT) AS n_tokens
      FROM documents
    ),
    packed AS (
      SELECT doc_id, shard, n_tokens,
             CAST(COALESCE(SUM(n_tokens) OVER (
               PARTITION BY shard ORDER BY doc_id
               ROWS BETWEEN UNBOUNDED PRECEDING AND 1 PRECEDING), 0) AS BIGINT)
               AS cum_before
      FROM toks
    )
    SELECT doc_id, shard, n_tokens, cum_before,
           CAST(cum_before // {PACK_BUDGET} AS BIGINT) AS pack_id,
           CAST(cum_before % {PACK_BUDGET} AS BIGINT) AS pack_offset
    FROM packed
    """,
)
def sequence_packing(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Sequence packing: assign every document a (pack_id, offset)
    inside fixed {PACK_BUDGET}-token training sequences — the stage
    that turns a curated corpus into dense pretraining batches.

    Shape: docs are sharded (doc_id mod {PACK_SHARDS}) and packed
    greedily in id order WITHIN each shard, so the running-sum window
    partitions by shard — shard count scales with the cluster and no
    global sort or single-partition window ever exists. Start-offset
    assignment (cum_before div budget) is what packers actually use:
    deterministic, one pass, no bin-search."""
    d = load(spark, sf_dir, "documents").select(
        "doc_id",
        (F.col("doc_id") % PACK_SHARDS).cast("int").alias("shard"),
        F.size(F.split(F.trim("text"), " ")).cast("long").alias("n_tokens"),
    )
    w = (
        Window.partitionBy("shard")
        .orderBy("doc_id")
        .rowsBetween(Window.unboundedPreceding, -1)
    )
    packed = d.withColumn(
        "cum_before", F.coalesce(F.sum("n_tokens").over(w), F.lit(0)).cast("long")
    )
    return packed.select(
        "doc_id",
        "shard",
        "n_tokens",
        "cum_before",
        F.floor(F.col("cum_before") / PACK_BUDGET).cast("long").alias("pack_id"),
        (F.col("cum_before") % PACK_BUDGET).cast("long").alias("pack_offset"),
    )


# --------------------------------------------------------------------------
# 100. vocab_top_tokens — corpus vocabulary statistics
# --------------------------------------------------------------------------
@register(
    "vocab_top_tokens",
    oracle="""
    WITH tok AS (
      SELECT doc_id, u.tok FROM
        (SELECT doc_id, string_split(trim(text), ' ') AS toks FROM documents) t,
        UNNEST(t.toks) u(tok)
    )
    SELECT tok AS token, COUNT(*) AS term_freq,
           CAST(COUNT(DISTINCT doc_id) AS BIGINT) AS doc_freq
    FROM tok GROUP BY tok
    ORDER BY term_freq DESC, token LIMIT 50
    """,
)
def vocab_top_tokens(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Corpus vocabulary profile: term frequency + document frequency
    per token, top 50 — the input to vocab construction and stopword
    induction. Token explosion feeds ONE (token, doc) dedup-free
    aggregate pair; the top-N runs as TakeOrderedAndProject over the
    (small) distinct-token relation, never a global sort of the
    token stream."""
    d = load(spark, sf_dir, "documents").select(
        "doc_id", F.explode(F.split(F.trim("text"), " ")).alias("token")
    )
    stats = d.groupBy("token").agg(
        F.count("*").alias("term_freq"),
        F.countDistinct("doc_id").alias("doc_freq"),
    )
    return stats.orderBy(F.col("term_freq").desc(), "token").limit(50)


# --------------------------------------------------------------------------
# 170. curation_funnel — composed filter pipeline with survival stats
# --------------------------------------------------------------------------
@register(
    "curation_funnel",
    oracle="""
    WITH tok AS (
      SELECT doc_id, lower(trim(text)) AS norm,
             string_split(trim(text), ' ') AS toks
      FROM documents
    ),
    m AS (
      SELECT doc_id, norm, len(toks) AS n_words,
             ROUND(list_sum(list_transform(toks, t -> strlen(t))) * 1.0
                   / len(toks), 4) AS mwl,
             ROUND(list_sum(list_transform(toks,
                     t -> CASE WHEN t IN ('the','a','of','to','in')
                               THEN 1 ELSE 0 END)) * 1.0 / len(toks), 4)
               AS swf
      FROM tok
    ),
    grams AS (
      SELECT doc_id, toks[g.i] || ' ' || toks[g.i+1] AS gram
      FROM tok, generate_series(1, 4000) g(i)
      WHERE g.i <= len(toks) - 1
    ),
    pg AS (SELECT doc_id, gram, COUNT(*) AS c FROM grams
           GROUP BY doc_id, gram),
    rep AS (
      SELECT doc_id,
             CASE WHEN MAX(c) * 1.0 / SUM(c) <= 0.2 THEN 1 ELSE 0 END
               AS r_keep
      FROM pg GROUP BY doc_id
    ),
    base AS (
      SELECT m.doc_id, m.norm, m.n_words,
             CASE WHEN m.n_words BETWEEN 30 AND 100000
                   AND m.mwl BETWEEN 3 AND 8
                   AND m.swf <= 0.3 THEN 1 ELSE 0 END AS g_keep,
             COALESCE(r.r_keep, 0) AS r_keep
      FROM m LEFT JOIN rep r USING (doc_id)
    ),
    surv AS (
      SELECT doc_id, norm, n_words,
             ROW_NUMBER() OVER (PARTITION BY norm ORDER BY doc_id) AS rn
      FROM base WHERE g_keep = 1 AND r_keep = 1
    )
    SELECT 's0_all' AS stage, CAST(COUNT(*) AS BIGINT) AS docs,
           CAST(COALESCE(SUM(n_words), 0) AS BIGINT) AS tokens FROM base
    UNION ALL
    SELECT 's1_gopher', CAST(COUNT(*) AS BIGINT),
           CAST(COALESCE(SUM(n_words), 0) AS BIGINT)
    FROM base WHERE g_keep = 1
    UNION ALL
    SELECT 's2_repetition', CAST(COUNT(*) AS BIGINT),
           CAST(COALESCE(SUM(n_words), 0) AS BIGINT)
    FROM base WHERE g_keep = 1 AND r_keep = 1
    UNION ALL
    SELECT 's3_dedup', CAST(COUNT(*) AS BIGINT),
           CAST(COALESCE(SUM(n_words), 0) AS BIGINT)
    FROM surv WHERE rn = 1
    """,
)
def curation_funnel(spark: SparkSession, sf_dir: str) -> DataFrame:
    """The composed corpus-curation pipeline (the C4/Gopher/FineWeb
    shape): gopher quality gate (#77) → within-doc repetition gate
    (#78) → normalized exact dedup (#62), reported as a survival
    funnel — docs and whitespace tokens remaining after each stage.
    This is the report a training-data owner actually reads before a
    run: where the corpus is being lost.

    One raw-text scan computes the gopher metrics in expression land;
    the repetition gate is one doc-keyed gram aggregate; dedup is one
    norm-keyed row_number restricted to the docs still alive (never
    the full corpus). The four stage rows are 1-row aggregates over
    the shared per-doc flag frame, which is PERSISTED (via
    dedup._shared_stage, the same memoized-stage idiom tfidf uses) so
    the dominant doc-keyed gram aggregate and the raw-text scan run
    ONCE physically, not once per consuming stage row — without the
    persist the four union branches each re-derived the whole
    pipeline (r5 verdict #1: 6.29x at the 10x probe)."""
    base = _shared_stage(
        "curation_funnel_base", spark, sf_dir,
        lambda: _curation_base(spark, sf_dir),
    )
    wv = Window.partitionBy("norm").orderBy("doc_id")
    surv = (
        base.filter((F.col("g_keep") == 1) & (F.col("r_keep") == 1))
        .withColumn("rn", F.row_number().over(wv))
    )

    def stage_row(df: DataFrame, name: str) -> DataFrame:
        return df.agg(
            F.count("*").cast("long").alias("docs"),
            F.coalesce(F.sum("n_words"), F.lit(0))
            .cast("long")
            .alias("tokens"),
        ).select(F.lit(name).alias("stage"), "docs", "tokens")

    return (
        stage_row(base, "s0_all")
        .unionAll(stage_row(base.filter(F.col("g_keep") == 1), "s1_gopher"))
        .unionAll(stage_row(surv, "s2_repetition"))
        .unionAll(stage_row(surv.filter(F.col("rn") == 1), "s3_dedup"))
    )


def _curation_base(spark: SparkSession, sf_dir: str) -> DataFrame:
    """The narrow per-doc flag frame (doc_id, norm, n_words, g_keep,
    r_keep) the funnel's four stage rows share — built once, persisted
    by the caller. toks never survives this frame, so the persisted
    footprint is 5 narrow columns per doc."""
    d = load(spark, sf_dir, "documents").select(
        "doc_id",
        F.lower(F.trim("text")).alias("norm"),
        F.split(F.trim("text"), " ").alias("toks"),
    )
    n_words = F.size("toks")
    sum_len = F.aggregate(
        F.transform("toks", lambda t: F.length(t)), F.lit(0),
        lambda acc, x: acc + x,
    )
    n_stop = F.aggregate(
        F.transform(
            "toks",
            lambda t: F.when(
                t.isin("the", "a", "of", "to", "in"), 1
            ).otherwise(0),
        ),
        F.lit(0),
        lambda acc, x: acc + x,
    )
    m = d.select(
        "doc_id",
        "norm",
        "toks",
        n_words.cast("long").alias("n_words"),
        F.round(sum_len * 1.0 / n_words, 4).alias("mwl"),
        F.round(n_stop * 1.0 / n_words, 4).alias("swf"),
    )
    grams = F.transform(
        F.sequence(F.lit(0), F.size("toks") - 2),
        lambda i: F.concat_ws(" ", F.slice(F.col("toks"), i + 1, F.lit(2))),
    )
    rep = (
        m.filter(F.size("toks") >= 2)
        .select("doc_id", F.explode(grams).alias("gram"))
        .groupBy("doc_id", "gram")
        .agg(F.count("*").alias("c"))
        .groupBy("doc_id")
        .agg(
            (
                (F.max("c") * 1.0 / F.sum("c")) <= 0.2
            ).cast("int").alias("r_keep")
        )
    )
    g_keep = (
        F.col("n_words").between(30, 100000)
        & F.col("mwl").between(3, 8)
        & (F.col("swf") <= 0.3)
    ).cast("int")
    return (
        m.withColumn("g_keep", g_keep)
        .join(rep, "doc_id", "left")
        .select(
            "doc_id",
            "norm",
            "n_words",
            "g_keep",
            F.coalesce(F.col("r_keep"), F.lit(0)).alias("r_keep"),
        )
    )


# --------------------------------------------------------------------------
# 216. decontaminate_transform — benchmark-contamination REMOVAL
# --------------------------------------------------------------------------
@register(
    "decontaminate_transform",
    oracle="""
    WITH tok AS (
      SELECT doc_id, source, n_chars, string_split(trim(text), ' ') AS toks
      FROM documents
    ),
    sh AS (
      SELECT DISTINCT doc_id,
             toks[g.i] || ' ' || toks[g.i+1] || ' ' || toks[g.i+2]
               || ' ' || toks[g.i+3] || ' ' || toks[g.i+4] AS phrase
      FROM tok, generate_series(1, 4000) g(i)
      WHERE g.i <= len(toks) - 4
    ),
    flagged AS (
      SELECT DISTINCT c.doc_id
      FROM sh c JOIN (SELECT * FROM sh WHERE doc_id % 50 = 0) b
        ON c.phrase = b.phrase
      WHERE c.doc_id <> b.doc_id AND c.doc_id % 50 <> 0
      GROUP BY c.doc_id, b.doc_id
      HAVING COUNT(*) >= 3
    )
    SELECT t.source,
           CAST(COUNT(*) AS BIGINT) AS n_docs,
           CAST(SUM(CASE WHEN f.doc_id IS NOT NULL
                         THEN 1 ELSE 0 END) AS BIGINT) AS n_removed,
           CAST(COUNT(*) - SUM(CASE WHEN f.doc_id IS NOT NULL
                                    THEN 1 ELSE 0 END) AS BIGINT) AS n_kept,
           CAST(SUM(CASE WHEN f.doc_id IS NULL
                         THEN n_chars ELSE 0 END) AS BIGINT) AS kept_chars
    FROM tok t LEFT JOIN flagged f ON t.doc_id = f.doc_id
    GROUP BY t.source
    """,
)
def decontaminate_transform(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Benchmark decontamination as a TRANSFORM: #64 only AUDITS which
    docs share ≥3 five-gram phrases with the held-out benchmark set;
    this op REMOVES them (the step an actual training run requires —
    GPT-3 appendix C / Gopher §A.3 both decontaminate by n-gram
    overlap before training) and reports the per-source survival
    ledger: total, removed, kept, and surviving character mass.
    Benchmark docs themselves (doc_id%50=0) are exempt — they're the
    held-out set, not corpus members under suspicion.

    Scale shape: same machinery as #64 — the benchmark shingle side is
    tiny and broadcast, so flagging is ONE broadcast equi-join over
    the corpus shingle stream (never a corpus shuffle); the flag set
    collapses to distinct doc_ids and joins back to the doc-grain
    frame; the ledger is one combinable source agg. The cleaned
    corpus itself is the same left-anti join, projected instead of
    aggregated — the ledger keeps the gate output bounded."""
    d = load(spark, sf_dir, "documents").select(
        "doc_id", "source", "n_chars",
        F.split(F.trim("text"), " ").alias("toks"),
    )
    grams = F.array_distinct(
        F.transform(
            F.sequence(F.lit(0), F.size("toks") - 5),
            lambda i: F.concat_ws(
                " ", F.slice(F.col("toks"), i + 1, F.lit(5))
            ),
        )
    )
    sh = d.filter(F.size("toks") >= 5).select(
        "doc_id", F.explode(grams).alias("phrase")
    )
    bench = sh.filter(F.col("doc_id") % 50 == 0).select(
        F.col("doc_id").alias("bench_id"), "phrase"
    )
    flagged = (
        sh.filter(F.col("doc_id") % 50 != 0)
        .join(F.broadcast(bench), "phrase")
        .filter(F.col("doc_id") != F.col("bench_id"))
        .groupBy("doc_id", "bench_id")
        .agg(F.count("*").alias("n"))
        .filter(F.col("n") >= 3)
        .select("doc_id")
        .distinct()
        .withColumn("flag", F.lit(1))
    )
    return (
        d.join(flagged, "doc_id", "left")
        .groupBy("source")
        .agg(
            F.count("*").alias("n_docs"),
            F.sum(F.coalesce(F.col("flag"), F.lit(0)))
            .cast("long").alias("n_removed"),
            (F.count("*") - F.sum(F.coalesce(F.col("flag"), F.lit(0))))
            .cast("long").alias("n_kept"),
            F.sum(
                F.when(F.col("flag").isNull(), F.col("n_chars"))
                .otherwise(F.lit(0))
            ).cast("long").alias("kept_chars"),
        )
    )
