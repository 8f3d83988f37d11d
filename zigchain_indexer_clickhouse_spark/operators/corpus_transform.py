"""Corpus TRANSFORM operators (SURVEY.md §2.3 growth, round 6): the
ops that rewrite document text rather than just score or filter it —
the CCNet/RefinedWeb cleaning stages a training-data pipeline runs
between raw crawl and tokenizer.

- ``segment_dedup_reassemble`` (#188): corpus-wide first-occurrence
  segment dedup with document REASSEMBLY — the CCNet paragraph/line
  dedup transform (arXiv:1911.00359 §3.1: every paragraph hashed,
  duplicates dropped, docs rebuilt from survivors): it emits the
  cleaned corpus, not only per-doc dup ratios.
- ``boilerplate_strip`` (#189): per-SOURCE frequent-segment removal —
  the header/footer/nav-bar idiom (RefinedWeb/Gopher boilerplate
  stage): a short segment occurring in many distinct documents of one
  source is template text, not content, and is stripped from all of
  them.
- ``ngram_novelty_decay`` (#192): corpus redundancy growth — what
  fraction of each ingest bucket's 3-grams is NOVEL (first seen in
  that bucket)? The curve every corpus owner checks before paying to
  train on the tail (novelty collapses → the crawl is re-reading
  itself).

Reference parity: the reference (a chain indexer) has no text
pipeline; these extend SURVEY §2.3's training-data surface. Scale
shapes are segment/gram-keyed equi-joins and map-side-combinable
aggregates only — no windows over unbounded partitions, no all-pairs.
"""

from __future__ import annotations

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F

from zigchain_indexer_clickhouse_spark.catalog import load
from zigchain_indexer_clickhouse_spark.plans.registry import register

SEG_TOKENS = 16       # reassembly segment width
BOILER_TOKENS = 2     # boilerplate unit: short template-sized segments
                      # (real corpora would use whole lines; the
                      # synthetic docs are short single-line token
                      # streams, so the unit shrinks with them)
BOILER_MIN_DOCS = 3   # distinct docs within a source ⇒ boilerplate
NOVELTY_BUCKETS = 10  # ingest-order buckets for the novelty curve


def _segments(docs: DataFrame, width: int) -> DataFrame:
    """(doc_id, ...) → exploded (doc_id, idx, seg) non-overlapping
    ``width``-token segments, in expression land (zero shuffle)."""
    toks = F.split(F.trim("text"), " ")
    segs = F.transform(
        F.sequence(F.lit(0), F.floor((F.size(toks) - 1) / width).cast("int")),
        lambda i: F.struct(
            i.alias("idx"),
            F.concat_ws(
                " ", F.slice(toks, i * width + 1, F.lit(width))
            ).alias("seg"),
        ),
    )
    return docs.select(
        "doc_id", "source", F.explode(segs).alias("s")
    ).select("doc_id", "source", F.col("s.idx").alias("idx"),
             F.col("s.seg").alias("seg"))


def _seg_sql(width: int) -> str:
    """The DuckDB rendering of :func:`_segments` (shared CTE text)."""
    return f"""
    tok AS (
      SELECT doc_id, source, string_split(trim(text), ' ') AS toks
      FROM documents
    ),
    seg AS (
      SELECT doc_id, source, g.i AS idx,
             array_to_string(
               toks[(g.i * {width} + 1):((g.i + 1) * {width})], ' ') AS seg
      FROM tok, generate_series(0, 4000) g(i)
      WHERE g.i * {width} < len(toks)
    )"""


# --------------------------------------------------------------------------
# 188. segment_dedup_reassemble — CCNet line-dedup with doc reassembly
# --------------------------------------------------------------------------
@register(
    "segment_dedup_reassemble",
    oracle=f"""
    WITH {_seg_sql(SEG_TOKENS)},
    r AS (
      SELECT doc_id, idx, seg,
             ROW_NUMBER() OVER (PARTITION BY seg
                                ORDER BY doc_id, idx) AS rn
      FROM seg
    )
    SELECT doc_id,
           COALESCE(string_agg(CASE WHEN rn = 1 THEN seg END, ' '
                               ORDER BY idx), '') AS clean_text,
           CAST(SUM(CASE WHEN rn = 1 THEN 1 ELSE 0 END) AS BIGINT)
             AS n_kept,
           CAST(SUM(CASE WHEN rn = 1 THEN 0 ELSE 1 END) AS BIGINT)
             AS n_dropped
    FROM r GROUP BY doc_id
    """,
)
def segment_dedup_reassemble(spark: SparkSession, sf_dir: str) -> DataFrame:
    """CCNet-style corpus-wide segment dedup with REASSEMBLY
    (arXiv:1911.00359 §3.1): hash every {SEG_TOKENS}-token segment,
    keep only each hash's global FIRST occurrence (lexicographically
    smallest (doc_id, idx) — deterministic under any layout), and
    rebuild every document from its surviving segments in original
    order. Emits the cleaned corpus plus per-doc kept/dropped counts.

    Scale shape: first-occurrence selection is a map-side-combinable
    ``min(struct(doc_id, idx))`` + count groupBy on the segment hash —
    NOT a row_number window, so a boilerplate segment with millions of
    occurrences costs one combinable min, not one sorted window
    partition. The join back is THRESHOLDED to hashes with n >= 2:
    unique segments (the overwhelming majority of a real corpus) need
    no first-occurrence info — they are trivially kept — so the left
    join's build side shrinks to the duplicated-segment dictionary and
    AQE converts it to a broadcast join at runtime; the full segment
    frame never re-shuffles. Reassembly is a doc-keyed agg with
    expression-land ordering (array_sort over (idx, seg) structs)."""
    d = load(spark, sf_dir, "documents")
    seg = _segments(d, SEG_TOKENS).withColumn(
        "segh", F.xxhash64("seg")
    )
    dup_first = (
        seg.groupBy("segh")
        .agg(
            F.min(F.struct("doc_id", "idx")).alias("f"),
            F.count("*").alias("n"),
        )
        .filter(F.col("n") >= 2)
        .select("segh", "f")
    )
    j = seg.join(dup_first, "segh", "left")
    kept = F.col("f").isNull() | (
        (F.col("doc_id") == F.col("f.doc_id"))
        & (F.col("idx") == F.col("f.idx"))
    )
    return (
        j.withColumn("k", kept)
        .groupBy("doc_id")
        .agg(
            F.coalesce(
                F.array_join(
                    F.transform(
                        F.array_sort(
                            F.collect_list(
                                F.when(
                                    F.col("k"), F.struct("idx", "seg")
                                )
                            )
                        ),
                        lambda s: s["seg"],
                    ),
                    " ",
                ),
                F.lit(""),
            ).alias("clean_text"),
            F.sum(F.col("k").cast("long")).alias("n_kept"),
            F.sum((~F.col("k")).cast("long")).alias("n_dropped"),
        )
    )


# --------------------------------------------------------------------------
# 189. boilerplate_strip — per-source frequent-segment (template) removal
# --------------------------------------------------------------------------
@register(
    "boilerplate_strip",
    oracle=f"""
    WITH {_seg_sql(BOILER_TOKENS)},
    df AS (
      SELECT source, seg, COUNT(DISTINCT doc_id) AS n_docs
      FROM seg GROUP BY source, seg
    ),
    fl AS (
      SELECT s.doc_id, s.source, s.idx, s.seg,
             (df.n_docs >= {BOILER_MIN_DOCS}) AS boiler
      FROM seg s JOIN df USING (source, seg)
    )
    SELECT doc_id, source,
           CAST(COUNT(*) AS BIGINT) AS n_segments,
           CAST(SUM(CASE WHEN boiler THEN 1 ELSE 0 END) AS BIGINT)
             AS n_boiler,
           COALESCE(string_agg(CASE WHEN NOT boiler THEN seg END, ' '
                               ORDER BY idx), '') AS clean_text
    FROM fl GROUP BY doc_id, source
    """,
)
def boilerplate_strip(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Per-source template removal (the RefinedWeb/Gopher boilerplate
    stage): a {BOILER_TOKENS}-token segment occurring in ≥
    {BOILER_MIN_DOCS} DISTINCT documents of the same source is
    header/footer/nav template text, and every occurrence is stripped
    (unlike #188, which keeps a canonical first copy — templates have
    no canonical home). Emits the cleaned doc plus segment counts.

    Scale shape: the doc-frequency pass is a (source, segh) groupBy on
    countDistinct(doc_id) — two narrow map-side-combinable exchanges
    (the distinct expand, then the agg). The flag join's build side is
    THRESHOLDED FIRST: only keys with n_docs >= {BOILER_MIN_DOCS}
    survive — templates are by definition a tiny fraction of distinct
    segments, so the left join's right side shrinks from
    vocabulary-sized to template-sized and AQE converts it to a
    broadcast join at runtime (the full segment frame then never
    re-shuffles; the un-thresholded dictionary would forbid this).
    Reassembly is one doc-keyed agg."""
    d = load(spark, sf_dir, "documents")
    seg = _segments(d, BOILER_TOKENS).withColumn(
        "segh", F.xxhash64("seg")
    )
    boiler_keys = (
        seg.groupBy("source", "segh")
        .agg(F.countDistinct("doc_id").alias("n_docs"))
        .filter(F.col("n_docs") >= BOILER_MIN_DOCS)
        .select("source", "segh", F.lit(True).alias("boiler_hit"))
    )
    fl = seg.join(boiler_keys, ["source", "segh"], "left").withColumn(
        "boiler", F.coalesce(F.col("boiler_hit"), F.lit(False))
    )
    return (
        fl.groupBy("doc_id", "source")
        .agg(
            F.count("*").alias("n_segments"),
            F.sum(F.col("boiler").cast("long")).alias("n_boiler"),
            F.coalesce(
                F.array_join(
                    F.transform(
                        F.array_sort(
                            F.collect_list(
                                F.when(
                                    ~F.col("boiler"),
                                    F.struct("idx", "seg"),
                                )
                            )
                        ),
                        lambda s: s["seg"],
                    ),
                    " ",
                ),
                F.lit(""),
            ).alias("clean_text"),
        )
    )


# --------------------------------------------------------------------------
# 192. ngram_novelty_decay — per-ingest-bucket novel-content fraction
# --------------------------------------------------------------------------
@register(
    "ngram_novelty_decay",
    oracle=f"""
    WITH tok AS (
      SELECT doc_id, string_split(trim(text), ' ') AS toks FROM documents
    ),
    mx AS (SELECT MAX(doc_id) + 1 AS n_docs FROM tok),
    grams AS (
      SELECT doc_id, array_to_string(toks[g.i:(g.i + 2)], ' ') AS gh
      FROM tok, generate_series(1, 4000) g(i)
      WHERE g.i <= len(toks) - 2
    ),
    firsts AS (SELECT gh, MIN(doc_id) AS first_doc FROM grams GROUP BY gh),
    occ AS (
      SELECT g.doc_id, (g.doc_id = f.first_doc) AS novel
      FROM grams g JOIN firsts f USING (gh)
    )
    SELECT CAST(occ.doc_id * {NOVELTY_BUCKETS} // mx.n_docs AS BIGINT)
             AS bucket,
           CAST(COUNT(*) AS BIGINT) AS n_grams,
           CAST(SUM(CASE WHEN novel THEN 1 ELSE 0 END) AS BIGINT)
             AS n_novel,
           CAST(SUM(CASE WHEN novel THEN 1 ELSE 0 END) * 1000000
                // COUNT(*) AS BIGINT) AS novelty_ppm
    FROM occ, mx GROUP BY 1
    """,
)
def ngram_novelty_decay(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Corpus redundancy growth: split the corpus into
    {NOVELTY_BUCKETS} equal doc_id ranges (ingest-order proxy) and
    measure, per bucket, the fraction of 3-gram occurrences whose
    FIRST corpus-wide occurrence lands in that bucket's docs — the
    novelty curve that tells a corpus owner when the crawl starts
    re-reading itself (novelty_ppm collapsing toward 0 at the tail
    means the marginal shard adds vocabulary the model has seen).

    Scale shape — AGG-ONLY, the exploded gram stream is never joined
    back (the first formulation's gram⋈firsts join re-shuffled the
    whole occurrence stream; this one halves the wall at 10×):
    (1) a map-side-combinable (gh, doc_id) count collapses within-doc
    repeats at the mappers; (2) a gh-keyed agg takes min(doc_id) AND
    ``min_by(c, doc_id)`` — the occurrence count AT the first doc, so
    per-bucket novel mass is one more tiny agg over the per-gram
    frame; (3) per-bucket TOTALS never explode at all — total 3-gram
    occurrences per doc is just size(toks)-2, a pure expression
    summed in a doc-grain agg. The doc-count bound is a 1-row
    broadcast. No joins over the occurrence stream anywhere."""
    toks = F.split(F.trim("text"), " ")
    d = load(spark, sf_dir, "documents")
    mx = d.agg((F.max("doc_id") + 1).alias("n_docs"))
    bucket = F.expr(
        f"CAST(doc_id * {NOVELTY_BUCKETS} DIV n_docs AS BIGINT)"
    ).alias("bucket")
    grams = d.filter(F.size(toks) >= 3).select(
        "doc_id",
        F.explode(
            F.transform(
                F.sequence(F.lit(0), F.size(toks) - 3),
                lambda i: F.xxhash64(
                    F.concat_ws(" ", F.slice(toks, i + 1, F.lit(3)))
                ),
            )
        ).alias("gh"),
    )
    per_doc_gram = grams.groupBy("gh", "doc_id").agg(
        F.count("*").alias("c")
    )
    per_gram = per_doc_gram.groupBy("gh").agg(
        F.min("doc_id").alias("doc_id"),
        F.min_by("c", "doc_id").alias("first_c"),
    )
    novel = (
        per_gram.crossJoin(F.broadcast(mx))
        .groupBy(bucket)
        .agg(F.sum("first_c").alias("n_novel"))
    )
    totals = (
        d.select("doc_id", (F.size(toks) - 2).alias("ng"))
        .filter(F.col("ng") > 0)
        .crossJoin(F.broadcast(mx))
        .groupBy(bucket)
        .agg(F.sum("ng").alias("n_grams"))
    )
    # left join: a late bucket may contribute ZERO first occurrences
    # (everything in it already seen) yet still has gram mass
    return (
        totals.join(novel, "bucket", "left")
        .select(
            "bucket",
            F.col("n_grams").cast("long").alias("n_grams"),
            F.coalesce(F.col("n_novel"), F.lit(0))
            .cast("long").alias("n_novel"),
        )
        .withColumn(
            "novelty_ppm",
            F.expr("CAST(n_novel * 1000000 DIV n_grams AS BIGINT)"),
        )
    )
