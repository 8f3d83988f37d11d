"""Tokenizer-training and context-prep operators
(SURVEY.md §2.3 #156-159): BPE pair statistics, fixed-budget context
chunking, DSIR-style importance weighting, and URL-canonicalization
dedup.

These close the loop between corpus curation (curation.py,
corpus_quality.py) and the tokenizer/trainer: a tokenizer trainer needs
corpus-wide adjacent-pair counts (the inner loop of BPE), a context
builder needs deterministic overlapping chunks, a data-mixture selector
needs per-document importance weights against a target distribution
(DSIR, Xie et al. 2023, arXiv:2302.03169), and a web-scale corpus needs
URL-level dedup BEFORE text-level dedup (the first stage of every
CommonCrawl pipeline).

Everything is integer/string-deterministic — hashes via portable_hash
(md5-backed, bit-identical in DuckDB), ratios in parts-per-million via
integer division — so the DuckDB oracles replay each operator exactly.

Scale notes are on each function; the family's worst shape is two
keyed shuffles (dsir_importance), and nothing materializes more than a
narrow (id, long) projection through an exchange.
"""

from __future__ import annotations

from collections.abc import Iterator

import pandas as pd
from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F

from zigchain_indexer_clickhouse_spark.catalog import _shared_stage, load
from zigchain_indexer_clickhouse_spark.functions.hashing import (
    portable_hash,
    portable_hash_sql,
)
from zigchain_indexer_clickhouse_spark.plans.registry import register

# BPE pair stats: report the top-N most frequent adjacent token pairs.
BPE_TOP_N = 20
# Misra-Gries counters for the pair-candidate sketch pass. The merged
# MG undercount bound is N/(M+1) (Agarwal et al., "Mergeable
# Summaries"), so the candidate superset provably contains every pair
# whose true count exceeds N/(M+1); the top-{BPE_TOP_N} answer is
# exact whenever the 20th-ranked pair clears that bar — with 4096
# counters over a Zipfian pair distribution the margin is enormous
# (test-gated in tests/test_corpus_prep.py).
BPE_SKETCH_M = 4096

# Context chunking: chunk size and stride in whitespace tokens
# (overlap = CHUNK_TOKENS - CHUNK_STRIDE).
CHUNK_TOKENS = 32
CHUNK_STRIDE = 24

# DSIR hashed-unigram buckets (the paper uses 10k hashed n-gram
# buckets; 512 keeps the oracle CTE cheap while exercising collisions).
DSIR_BUCKETS = 512
DSIR_TARGET_SOURCE = "src0"  # stand-in for the target-domain corpus


# --------------------------------------------------------------------------
# 156. bpe_pair_stats — corpus-wide adjacent-pair counts (one BPE step)
# --------------------------------------------------------------------------
def _bpe_pairs(spark: SparkSession, sf_dir: str) -> DataFrame:
    """The adjacent-pair stream, generated in expression land
    (transform over a slice — no self-join of token positions)."""
    d = load(spark, sf_dir, "documents")
    return (
        d.select(F.split("text", " ").alias("t"))
        .filter(F.size("t") >= 2)
        .select(
            F.explode(
                F.expr(
                    "transform(slice(t, 1, size(t) - 1),"
                    " (x, i) -> concat(x, ' ', t[i + 1]))"
                )
            ).alias("pair")
        )
    )


def bpe_pair_sketch(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Pass 1 of {bpe_pair_stats}: a per-partition Misra-Gries sketch
    ({BPE_SKETCH_M} counters, Arrow-batched ``value_counts`` — the only
    state outside the JVM is one ≤{BPE_SKETCH_M}-entry dict per
    partition) whose union is a provable candidate superset of every
    pair with true count > N/{BPE_SKETCH_M + 1}. A sentinel row
    (pair NULL) carries each partition's exact pair total so the
    guarantee margin is checkable without a third corpus scan.
    Persisted via `_shared_stage` for its two consumers (the query's
    candidate set and the test's guarantee assertion)."""
    from zigchain_indexer_clickhouse_spark.operators.ch_aggregates import (
        _mg_shrink,
    )

    pairs = _bpe_pairs(spark, sf_dir)

    def mg_partition(batches: Iterator[pd.DataFrame]) -> Iterator[pd.DataFrame]:
        counts: dict[str, int] = {}
        part_n = 0
        for pdf in batches:
            part_n += len(pdf)
            for t, c in pdf["pair"].value_counts().items():
                counts[t] = counts.get(t, 0) + int(c)
            counts = _mg_shrink(counts, BPE_SKETCH_M)
        yield pd.DataFrame(
            {
                "pair": list(counts.keys()) + [None],
                "part_n": [0] * len(counts) + [part_n],
            }
        )

    return _shared_stage(
        "bpe_pair_sketch", spark, sf_dir,
        lambda: pairs.mapInPandas(
            mg_partition, schema="pair string, part_n long"
        ),
    )


@register(
    "bpe_pair_stats",
    oracle=f"""
    WITH toks AS (
      SELECT string_split(text, ' ') AS t FROM documents
    ),
    pairs AS (
      SELECT struct_extract(p, 1) || ' ' || struct_extract(p, 2) AS pair
      FROM toks, UNNEST(list_zip(t[1:len(t)-1], t[2:len(t)])) AS u(p)
      WHERE len(t) >= 2
    )
    SELECT pair, CAST(COUNT(*) AS BIGINT) AS cnt
    FROM pairs GROUP BY pair
    ORDER BY cnt DESC, pair
    LIMIT {BPE_TOP_N}
    """,
)
def bpe_pair_stats(spark: SparkSession, sf_dir: str) -> DataFrame:
    """One step of BPE tokenizer training: count every adjacent token
    pair across the corpus and return the top-{BPE_TOP_N} merge
    candidates (ties broken by pair text, so the winner is
    deterministic — a real trainer takes row 1, merges, and repeats).

    Exact two-pass heavy-hitters shape (the #162 contract, r5 verdict
    item 4): pass 1 is the map-only Misra-Gries candidate sketch
    ({bpe_pair_sketch}), pass 2 re-counts ONLY candidate pairs — the
    broadcast semi-join prunes the pair stream before the exchange, so
    the shuffle carries partial counts for ≤ a few thousand candidate
    pairs instead of the full pair vocabulary. At 100 TB the pair
    vocabulary (billions of distinct pairs) is the largest exchange in
    the tokenizer-prep family under the naive one-pass groupBy; here it
    is never materialized. The sketch bounds memory, not correctness:
    pass 2 is exact counting over a provable superset (any pair absent
    from the union of MG summaries has true count ≤ N/{BPE_SKETCH_M
    + 1}; the 20th-ranked pair clears that bar by orders of magnitude,
    test-gated), so partition layout cannot change the answer
    (tests/test_partition_invariance.py)."""
    sketch = bpe_pair_sketch(spark, sf_dir)
    candidates = (
        sketch.filter(F.col("pair").isNotNull()).select("pair").distinct()
    )
    return (
        _bpe_pairs(spark, sf_dir)
        .join(F.broadcast(candidates), "pair")
        .groupBy("pair")
        .agg(F.count("*").alias("cnt"))
        .orderBy(F.col("cnt").desc(), "pair")
        .limit(BPE_TOP_N)
    )


# --------------------------------------------------------------------------
# 157. context_chunks — fixed-budget overlapping context windows
# --------------------------------------------------------------------------
@register(
    "context_chunks",
    oracle=f"""
    WITH toks AS (
      SELECT doc_id, string_split(text, ' ') AS t FROM documents
    ),
    chunks AS (
      SELECT doc_id,
             CAST((s - 1) // {CHUNK_STRIDE} AS INT) AS chunk_idx,
             t[s:s + {CHUNK_TOKENS - 1}] AS c
      FROM toks, UNNEST(generate_series(1, len(t), {CHUNK_STRIDE})) AS g(s)
    )
    SELECT doc_id, chunk_idx,
           CAST(len(c) AS INT) AS n_tok,
           {portable_hash_sql("array_to_string(c, ' ')")} AS chunk_hash
    FROM chunks
    """,
)
def context_chunks(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Split every document into {CHUNK_TOKENS}-token context windows
    with stride {CHUNK_STRIDE} (= {CHUNK_TOKENS - CHUNK_STRIDE}-token
    overlap) — the context-prep step for RAG indexing and
    long-document training. Emits (doc_id, chunk_idx, n_tok,
    chunk_hash); the hash stands in for the chunk payload so the
    exchange-side row stays narrow (a real pipeline writes the chunk
    text straight to the sink from the same expression).

    Scale shape: sequence() + explode + slice is pure expression land —
    ZERO shuffles, the operator runs at scan bandwidth and parallelism
    is whatever the file split gives. Chunk boundaries depend only on
    the document itself, so the operator is embarrassingly parallel at
    any scale."""
    d = load(spark, sf_dir, "documents")
    t = d.select("doc_id", F.split("text", " ").alias("t"))
    chunks = t.select(
        "doc_id",
        F.explode(
            F.sequence(F.lit(1), F.greatest(F.size("t"), F.lit(1)), F.lit(CHUNK_STRIDE))
        ).alias("s"),
        "t",
    ).select(
        "doc_id",
        ((F.col("s") - 1) / CHUNK_STRIDE).cast("int").alias("chunk_idx"),
        F.slice(F.col("t"), F.col("s"), F.lit(CHUNK_TOKENS)).alias("c"),
    )
    return chunks.select(
        "doc_id",
        "chunk_idx",
        F.size("c").alias("n_tok"),
        portable_hash(F.concat_ws(" ", "c")).alias("chunk_hash"),
    )


# --------------------------------------------------------------------------
# 158. dsir_importance — hashed-unigram importance weights (DSIR recipe)
# --------------------------------------------------------------------------
_DSIR_HASH = portable_hash_sql("tok", "'dsir'")
_DSIR_BUCKET = f"({_DSIR_HASH}) % {DSIR_BUCKETS}"


@register(
    "dsir_importance",
    oracle=f"""
    WITH toks AS (
      SELECT doc_id, source, unnest(string_split(text, ' ')) AS tok
      FROM documents
    ),
    tb AS (
      SELECT doc_id, source, {_DSIR_BUCKET} AS bucket FROM toks
    ),
    db AS (
      SELECT doc_id, source, bucket, CAST(COUNT(*) AS BIGINT) AS cnt
      FROM tb GROUP BY 1, 2, 3
    ),
    w AS (
      SELECT bucket,
             CAST(SUM(cnt) AS BIGINT) AS raw_cnt,
             CAST(SUM(CASE WHEN source = '{DSIR_TARGET_SOURCE}'
                           THEN cnt ELSE 0 END) AS BIGINT) AS tgt_cnt
      FROM db GROUP BY 1
    )
    SELECT db.doc_id,
           CAST(SUM(db.cnt) AS BIGINT) AS n_tok,
           CAST(SUM(db.cnt * ((w.tgt_cnt + 1) * 1000000 // (w.raw_cnt + 1)))
                // SUM(db.cnt) AS BIGINT) AS imp_ppm
    FROM db JOIN w USING (bucket)
    GROUP BY 1
    """,
)
def dsir_importance(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Data Selection with Importance Resampling (DSIR, Xie et al.
    2023): score every document by how much its hashed-unigram
    distribution looks like a target domain (here the
    '{DSIR_TARGET_SOURCE}' source stands in for the target corpus).
    Each token hashes into one of {DSIR_BUCKETS} buckets; the bucket's
    importance ratio is (target_count+1)/(raw_count+1) in
    parts-per-million INTEGER arithmetic (the paper's log-likelihood
    ratio swapped for a rational mean so the oracle replays
    bit-exactly — the ranking it induces is monotone-equivalent per
    bucket), and a document's weight is the token-count-weighted mean
    ratio.

    Scale shape: one explode → ONE keyed shuffle to (doc_id, bucket)
    counts → the per-bucket weight table is a ≤{DSIR_BUCKETS}-row
    re-agg of that intermediate (broadcast back) → final doc_id agg.
    The corpus is tokenized ONCE; nothing wider than (doc_id, bucket,
    count) crosses an exchange, and the weight table is constant-size
    at any corpus scale."""
    d = load(spark, sf_dir, "documents")
    toks = d.select(
        "doc_id", "source", F.explode(F.split("text", " ")).alias("tok")
    )
    tb = toks.select(
        "doc_id",
        "source",
        (portable_hash(F.col("tok"), "dsir") % DSIR_BUCKETS).alias("bucket"),
    )
    db = tb.groupBy("doc_id", "source", "bucket").agg(F.count("*").alias("cnt"))
    w = db.groupBy("bucket").agg(
        F.sum("cnt").alias("raw_cnt"),
        F.sum(
            F.when(F.col("source") == DSIR_TARGET_SOURCE, F.col("cnt")).otherwise(0)
        ).alias("tgt_cnt"),
    )
    return (
        db.join(F.broadcast(w), "bucket")
        .groupBy("doc_id")
        .agg(
            F.sum("cnt").alias("n_tok"),
            F.expr(
                "CAST(SUM(cnt * ((tgt_cnt + 1) * 1000000 DIV (raw_cnt + 1)))"
                " DIV SUM(cnt) AS BIGINT)"
            ).alias("imp_ppm"),
        )
    )


# --------------------------------------------------------------------------
# 159. dedup_url_canonical — URL canonicalization + exact dedup
# --------------------------------------------------------------------------
# Synthetic raw URL per document (same construction inlined in the
# oracle, so both engines canonicalize identical inputs): mixed-case
# scheme/host, www. prefix, explicit default port, trailing slash,
# utm_* tracking params, fragment — every mess the canonicalizer must
# undo.
_RAW_URL_SQL = """(
  CASE WHEN doc_id % 3 = 0 THEN 'HTTP://' ELSE 'https://' END
  || CASE WHEN doc_id % 2 = 0 THEN 'WWW.' ELSE '' END
  || source || '.Example.COM'
  || CASE WHEN doc_id % 5 = 0 THEN ':443' ELSE '' END
  || '/articles/' || CAST(doc_id % 5 AS STRING)
  || CASE WHEN doc_id % 7 = 0 THEN '/' ELSE '' END
  || '?utm_source=feed&utm_campaign=c' || CAST(doc_id % 3 AS STRING)
  || CASE WHEN doc_id % 11 = 0 THEN '#section-2' ELSE '' END
)"""


def _canonical_sql(url_expr: str) -> str:
    """DuckDB rendering of the canonicalization chain (fragment →
    lowercase → default port → www. → utm params → dangling '/?'/'?')."""
    u = f"regexp_replace({url_expr}, '#.*$', '')"
    u = f"lower({u})"
    u = f"replace({u}, ':443/', '/')"
    u = f"replace({u}, '://www.', '://')"
    u = f"regexp_replace({u}, 'utm_[a-z]+=[^&#]*&?', '', 'g')"
    u = f"replace({u}, '/?', '?')"
    u = f"regexp_replace({u}, '[?&]+$', '')"
    u = f"regexp_replace({u}, '/$', '')"
    return u


def _canonical_col(url: F.Column) -> F.Column:
    """Spark twin of :func:`_canonical_sql` — same steps, same order.
    Spark's regexp_replace is global by default (DuckDB needs the 'g'
    flag); no backrefs are used, so the two regex dialects agree."""
    u = F.regexp_replace(url, "#.*$", "")
    u = F.lower(u)
    u = F.replace(u, F.lit(":443/"), F.lit("/"))
    u = F.replace(u, F.lit("://www."), F.lit("://"))
    u = F.regexp_replace(u, "utm_[a-z]+=[^&#]*&?", "")
    u = F.replace(u, F.lit("/?"), F.lit("?"))
    u = F.regexp_replace(u, "[?&]+$", "")
    u = F.regexp_replace(u, "/$", "")
    return u


@register(
    "dedup_url_canonical",
    oracle=f"""
    WITH raw AS (
      SELECT doc_id, {_RAW_URL_SQL} AS url FROM documents
    ),
    canon AS (
      SELECT doc_id, {_canonical_sql("url")} AS url_canonical FROM raw
    )
    SELECT url_canonical,
           CAST(MIN(doc_id) AS BIGINT) AS keep_doc_id,
           CAST(COUNT(*) AS BIGINT) AS n_dups
    FROM canon GROUP BY 1
    """,
)
def dedup_url_canonical(spark: SparkSession, sf_dir: str) -> DataFrame:
    """URL-level dedup — the FIRST dedup stage of a web-corpus pipeline
    (cheaper than any text comparison: two crawls of the same page
    dedup on the canonicalized URL before their bodies are ever
    hashed). Canonicalization: drop the fragment, lowercase, strip the
    default :443 port, strip the www. host prefix, remove utm_*
    tracking params, then clean dangling '?'/'&' and the trailing
    slash. The raw URL is synthesized deterministically from doc
    fields (the testdata has no URL column) with the SAME expression
    in the oracle, so the canonicalizer itself is what's verified.

    Scale shape: canonicalization is pure string expressions (codegen,
    scan bandwidth); the dedup is one map-side-combinable groupBy on
    the canonical URL — a single shuffle, and at 100 TB the exchange carries (url, min_id, count) partials
    only."""
    d = load(spark, sf_dir, "documents")
    raw = d.select("doc_id", F.expr(_RAW_URL_SQL).alias("url"))
    canon = raw.select("doc_id", _canonical_col(F.col("url")).alias("url_canonical"))
    return canon.groupBy("url_canonical").agg(
        F.min("doc_id").alias("keep_doc_id"),
        F.count("*").alias("n_dups"),
    )
