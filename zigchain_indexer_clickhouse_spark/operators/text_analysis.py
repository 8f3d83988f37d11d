"""Text-analysis operators for training-data pipelines
(SURVEY.md §2.3 #40-43): language ID, quality scoring, token counting,
document fingerprinting.

All four are pure column-expression pipelines over ``documents`` —
narrow, shuffle-free, whole-stage-codegen'd. At 100 TB they run as a
single scan per batch; no Python in the hot path.
"""

from __future__ import annotations

from pyspark.sql import DataFrame, SparkSession, Window
from pyspark.sql import functions as F

from zigchain_indexer_clickhouse_spark.catalog import _shared_stage, load
from zigchain_indexer_clickhouse_spark.functions.hashing import (
    rolling_fingerprint,
    rolling_fingerprint_sql,
)
from zigchain_indexer_clickhouse_spark.functions.text import (
    BPE_REGEX,
    stopword_hits,
    stopword_hits_sql,
    tokens,
)
from zigchain_indexer_clickhouse_spark.plans.registry import register

_LANGS = ("en", "es", "de", "fr", "zh")


# --------------------------------------------------------------------------
# 40. lang_id — n-gram/stopword heuristic language ID
# --------------------------------------------------------------------------
def _lang_id_oracle() -> str:
    scores = ",\n           ".join(
        f"{stopword_hits_sql('toks', lg)} AS score_{lg}" for lg in _LANGS
    )
    # first-max tie-break in fixed _LANGS order
    cases = []
    for i, lg in enumerate(_LANGS):
        conds = [f"score_{lg} > 0"] + [
            f"score_{lg} >= score_{other}" for other in _LANGS[i + 1 :]
        ] + [f"score_{lg} > score_{other}" for other in _LANGS[:i]]
        cases.append(f"WHEN {' AND '.join(conds)} THEN '{lg}'")
    case_sql = "CASE " + " ".join(cases) + " ELSE 'unknown' END"
    return f"""
    WITH scored AS (
      SELECT doc_id, {scores}
      FROM (SELECT doc_id, string_split(trim(text), ' ') AS toks FROM documents)
    )
    SELECT doc_id, {case_sql} AS pred_lang,
           CAST(score_en AS INT) AS score_en, CAST(score_zh AS INT) AS score_zh
    FROM scored
    """


@register("lang_id", oracle=_lang_id_oracle())
def lang_id(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Heuristic language ID: stopword-hit scores per language, argmax
    with a fixed preference order for ties. Entirely builtin expressions."""
    d = load(spark, sf_dir, "documents")
    toks = F.split(F.trim("text"), " ")
    d = d.select("doc_id", toks.alias("toks"))
    for lg in _LANGS:
        d = d.withColumn(f"score_{lg}", stopword_hits(F.col("toks"), lg))
    pred = F.lit("unknown")
    for lg in reversed(_LANGS):
        later = _LANGS[_LANGS.index(lg) + 1 :]
        earlier = _LANGS[: _LANGS.index(lg)]
        cond = F.col(f"score_{lg}") > 0
        for o in later:
            cond = cond & (F.col(f"score_{lg}") >= F.col(f"score_{o}"))
        for o in earlier:
            cond = cond & (F.col(f"score_{lg}") > F.col(f"score_{o}"))
        pred = F.when(cond, lg).otherwise(pred)
    return d.select(
        "doc_id",
        pred.alias("pred_lang"),
        F.col("score_en").cast("int").alias("score_en"),
        F.col("score_zh").cast("int").alias("score_zh"),
    )


# --------------------------------------------------------------------------
# 41. quality_score — length/punct/stopword quality heuristics
# --------------------------------------------------------------------------
@register(
    "quality_score",
    oracle=f"""
    SELECT doc_id,
           CAST(length(text) AS BIGINT) AS n_chars_calc,
           CAST(len(string_split(trim(text), ' ')) AS INT) AS n_tokens,
           ROUND(len(regexp_extract_all(text, '[^\\w\\s]')) * 1.0
                 / length(text), 4) AS punct_ratio,
           ROUND({stopword_hits_sql("string_split(trim(text), ' ')", "en")} * 1.0
                 / len(string_split(trim(text), ' ')), 4) AS stopword_ratio,
           ROUND(least(1.0, len(string_split(trim(text), ' ')) / 100.0) * 0.5
                 + {stopword_hits_sql("string_split(trim(text), ' ')", "en")} * 1.0
                   / len(string_split(trim(text), ' ')) * 0.5, 4) AS quality
    FROM documents
    """,
)
def quality_score(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Document quality heuristics: length, punctuation ratio, stopword
    ratio, and a blended 0-1 quality score — the usual pre-training
    corpus filters, as pure codegen expressions."""
    d = load(spark, sf_dir, "documents")
    toks = tokens(F.col("text"))
    n_tokens = F.size(toks)
    stop_ratio = stopword_hits(toks, "en") * 1.0 / n_tokens
    return d.select(
        "doc_id",
        F.length("text").cast("long").alias("n_chars_calc"),
        n_tokens.cast("int").alias("n_tokens"),
        F.round(F.regexp_count("text", F.lit(r"[^\w\s]")) * 1.0 / F.length("text"), 4).alias(
            "punct_ratio"
        ),
        F.round(stop_ratio, 4).alias("stopword_ratio"),
        F.round(
            F.least(F.lit(1.0), n_tokens / 100.0) * 0.5 + stop_ratio * 0.5, 4
        ).alias("quality"),
    )


# --------------------------------------------------------------------------
# 42. token_count — whitespace + BPE-ish regex token counts
# --------------------------------------------------------------------------
@register(
    "token_count",
    oracle=f"""
    SELECT doc_id,
           CAST(len(string_split_regex(trim(text), '\\s+')) AS INT) AS ws_tokens,
           CAST(len(regexp_extract_all(text, '{BPE_REGEX}')) AS INT) AS bpe_tokens,
           CAST(length(text) AS BIGINT) AS n_chars_calc
    FROM documents
    """,
)
def token_count(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Token counting two ways: whitespace split and a BPE-ish
    pre-tokenizer regex (word runs | single punctuation) — the standard
    cheap token estimator for corpus budgeting."""
    d = load(spark, sf_dir, "documents")
    return d.select(
        "doc_id",
        F.size(tokens(F.col("text"))).cast("int").alias("ws_tokens"),
        F.regexp_count("text", F.lit(BPE_REGEX)).cast("int").alias("bpe_tokens"),
        F.length("text").cast("long").alias("n_chars_calc"),
    )


# --------------------------------------------------------------------------
# 43. doc_fingerprint — rolling-hash document fingerprint
# --------------------------------------------------------------------------
@register(
    "doc_fingerprint",
    oracle=f"""
    SELECT doc_id,
           {rolling_fingerprint_sql("string_split(trim(text), ' ')")} AS fingerprint
    FROM documents
    """,
)
def doc_fingerprint(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Order-sensitive rolling-hash fingerprint over the token stream
    (polynomial mod 2^31-1), folded with builtin `aggregate` — a cheap
    content-identity key for incremental dedup."""
    d = load(spark, sf_dir, "documents")
    return d.select(
        "doc_id",
        rolling_fingerprint(F.split(F.trim("text"), " ")).alias("fingerprint"),
    )


# --------------------------------------------------------------------------
# 101. tfidf_top_terms — per-doc top terms by TF-IDF weight
# --------------------------------------------------------------------------
@register(
    "tfidf_top_terms",
    oracle="""
    WITH tok AS (
      SELECT doc_id, u.tok AS token FROM
        (SELECT doc_id, string_split(trim(text), ' ') AS toks FROM documents) t,
        UNNEST(t.toks) u(tok)
    ),
    tf AS (SELECT doc_id, token, COUNT(*) AS tf FROM tok GROUP BY 1, 2),
    df AS (SELECT token, COUNT(*) AS df FROM tf GROUP BY token),
    n AS (SELECT COUNT(*) AS n_docs FROM documents),
    scored AS (
      SELECT tf.doc_id, tf.token, tf.tf, df.df,
             ROUND(tf.tf * (n.n_docs - df.df + 0.5) / (df.df + 0.5), 4)
               AS tfidf
      FROM tf JOIN df ON tf.token = df.token CROSS JOIN n
    )
    SELECT doc_id, token, CAST(tf AS BIGINT) AS tf, CAST(df AS BIGINT) AS df,
           tfidf, CAST(rnk AS INT) AS rnk
    FROM (SELECT *, row_number() OVER (PARTITION BY doc_id
                                       ORDER BY tfidf DESC, token) AS rnk
          FROM scored)
    WHERE rnk <= 5
    """,
)
def tfidf_top_terms(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Top-5 characteristic terms per document by TF-IDF — keyword
    extraction / near-dup explanation / topic features, straight out of
    the curation toolbox.

    Plan: tf aggregate on (doc, token), persisted — it feeds BOTH the
    scoring join and the df aggregate, and without the persist Catalyst
    prunes the count out of the df branch and re-scans + re-tokenizes
    the corpus (explode is the expensive step at 100 TB; the
    one-materialization-many-consumers pattern).
    df is map-side-combined per token (agg + broadcast back, NOT a
    window over token — a window would put every row of a hot token
    like "the" on one reducer). The 1-row corpus count joins as an
    explicit broadcast crossJoin (BNLJ over a single-row build = one
    virtual probe per row; the count itself is a metadata-only parquet
    footer scan). The idf is the BM25 rational form, not ln():
    multiply/divide are correctly-rounded IEEE ops, so both engines
    produce bit-identical scores — libm log differs in the last ulp
    across engines and would flake the hash compare at round
    boundaries."""
    d = load(spark, sf_dir, "documents").select(
        "doc_id", F.explode(F.split(F.trim("text"), " ")).alias("token")
    )
    # memoized persisted stage (two consumers: tf→df agg and the score
    # join); eviction-managed, so repeat calls neither re-tokenize nor
    # leak a cache per call
    tf = _shared_stage(
        "tfidf_tf", spark, sf_dir,
        lambda: d.groupBy("doc_id", "token").agg(F.count("*").alias("tf")),
    )
    df = tf.groupBy("token").agg(F.count("*").alias("df"))
    n = load(spark, sf_dir, "documents").agg(F.count("*").alias("n_docs"))
    scored = (
        tf.join(F.broadcast(df), "token")
        .crossJoin(F.broadcast(n))
        .select(
            "doc_id",
            "token",
            F.col("tf").cast("long").alias("tf"),
            F.col("df").cast("long").alias("df"),
            F.round(
                F.col("tf") * (F.col("n_docs") - F.col("df") + 0.5)
                / (F.col("df") + 0.5),
                4,
            ).alias("tfidf"),
        )
    )
    w = Window.partitionBy("doc_id").orderBy(F.col("tfidf").desc(), "token")
    return scored.withColumn("rnk", F.row_number().over(w).cast("int")).filter(
        F.col("rnk") <= 5
    )


# --------------------------------------------------------------------------
# 174. winnowing_fingerprint — Schleimer/MOSS winnowing candidate pairs
# --------------------------------------------------------------------------
WIN_K = 3    # k-gram size (words)
WIN_W = 4    # winnowing window: one fingerprint per w consecutive grams
WIN_DF_CAP = 32   # drop fingerprints shared by more docs (boilerplate)
WIN_MIN_SHARED = 2


def _winnow_oracle() -> str:
    from zigchain_indexer_clickhouse_spark.functions.hashing import (
        portable_hash_sql,
    )

    gram = " || ' ' || ".join(
        f"toks[s.i + {j}]" for j in range(WIN_K)
    )
    return f"""
    WITH tok AS (
      SELECT doc_id, string_split(trim(text), ' ') AS toks FROM documents
    ),
    g AS (
      SELECT doc_id, s.i,
             {portable_hash_sql(f"({gram})")} AS h
      FROM tok, generate_series(1, 4000) s(i)
      WHERE s.i <= len(toks) - {WIN_K - 1}
    ),
    w AS (
      SELECT doc_id, i,
             MIN(h) OVER (PARTITION BY doc_id ORDER BY i
                          ROWS BETWEEN CURRENT ROW
                          AND {WIN_W - 1} FOLLOWING) AS fp,
             COUNT(*) OVER (PARTITION BY doc_id) AS n_grams
      FROM g
    ),
    fps AS (
      SELECT DISTINCT doc_id, fp FROM w
      WHERE i <= n_grams - {WIN_W - 1}
    ),
    ok AS (
      SELECT fp FROM fps GROUP BY fp
      HAVING COUNT(*) BETWEEN 2 AND {WIN_DF_CAP}
    ),
    pruned AS (SELECT f.doc_id, f.fp FROM fps f JOIN ok USING (fp))
    SELECT a.doc_id AS doc_a, b.doc_id AS doc_b,
           CAST(COUNT(*) AS BIGINT) AS n_shared
    FROM pruned a JOIN pruned b
      ON a.fp = b.fp AND a.doc_id < b.doc_id
    GROUP BY a.doc_id, b.doc_id
    HAVING COUNT(*) >= {WIN_MIN_SHARED}
    """


@register("winnowing_fingerprint", oracle=_winnow_oracle())
def winnowing_fingerprint(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Winnowing document fingerprints (Schleimer, Wilkerson, Aiken
    2003 — the MOSS local fingerprinting algorithm) driving candidate
    pair generation: hash every {WIN_K}-word gram, keep the MIN hash of
    each {WIN_W}-gram window (guaranteed: any shared substring of
    {WIN_K + WIN_W - 1}+ words produces at least one shared
    fingerprint), then pair documents sharing >= {WIN_MIN_SHARED}
    fingerprints. The local-min selection is what makes the sketch
    position-independent — unlike stride sampling, an insertion
    upstream cannot shift every later sample.

    Scale shape: gram hashing AND window-min selection run in
    expression land (transform/slice/array_min over the token array —
    ZERO shuffle before fingerprints explode, and only distinct
    (doc, fp) pairs ever leave the scan). Pairing is an equi-join on
    the fingerprint key with boilerplate fingerprints capped at
    df <= {WIN_DF_CAP} first (the stop-shingle idiom) — candidate work
    is O(sum df^2) over surviving fingerprints, never all-pairs. Only FULL windows emit
    (docs with fewer than {WIN_K + WIN_W - 1} words have no
    fingerprint), identically on both engines."""
    # the (doc_id, fp) frame has two consumers (the df-cap agg and the
    # pair join) — persist it so the gram-hash + window-min expression
    # chain runs once, not once per consumer (r5 verdict #2: the
    # double hash pass was the heaviest 10x-probe entry).
    fps = _shared_stage(
        "winnow_fps", spark, sf_dir, lambda: _winnow_fps(spark, sf_dir)
    )
    ok = (
        fps.groupBy("fp")
        .agg(F.count("*").alias("df"))
        .filter(F.col("df").between(2, WIN_DF_CAP))
        .select("fp")
    )
    pruned = fps.join(ok, "fp")
    a = pruned.select(F.col("fp").alias("jfp"), F.col("doc_id").alias("doc_a"))
    b = pruned.select(F.col("fp").alias("jfp"), F.col("doc_id").alias("doc_b"))
    return (
        a.join(b, "jfp")
        .filter(F.col("doc_a") < F.col("doc_b"))
        .groupBy("doc_a", "doc_b")
        .agg(F.count("*").alias("n_shared"))
        .filter(F.col("n_shared") >= WIN_MIN_SHARED)
    )


def _winnow_fps(spark: SparkSession, sf_dir: str) -> DataFrame:
    """The exploded (doc_id, fp) winnowing-fingerprint frame — built
    once, persisted by the caller. Gram hashing and window-min
    selection stay in expression land; only the distinct-per-doc
    fingerprints survive the scan."""
    from zigchain_indexer_clickhouse_spark.functions.hashing import (
        portable_hash,
    )

    d = load(spark, sf_dir, "documents").select(
        "doc_id", F.split(F.trim("text"), " ").alias("toks")
    )
    hs = F.transform(
        F.sequence(F.lit(0), F.size("toks") - WIN_K),
        lambda i: portable_hash(
            F.concat_ws(" ", F.slice(F.col("toks"), i + 1, F.lit(WIN_K)))
        ),
    )
    fps_arr = F.array_distinct(
        F.transform(
            F.sequence(F.lit(0), F.size("hs") - WIN_W),
            lambda p: F.array_min(F.slice(F.col("hs"), p + 1, F.lit(WIN_W))),
        )
    )
    return (
        d.filter(F.size("toks") >= WIN_K + WIN_W - 1)
        .withColumn("hs", hs)
        .select("doc_id", F.explode(fps_arr).alias("fp"))
    )


# --------------------------------------------------------------------------
# 191. token_pmi_pairs — collocation mining (pointwise mutual information)
# --------------------------------------------------------------------------
PMI_MIN_PAIR = 5   # minimum bigram count to score (the classic PMI floor)
PMI_TOP = 50


@register(
    "token_pmi_pairs",
    oracle=f"""
    WITH tok AS (
      SELECT doc_id, string_split(trim(text), ' ') AS toks FROM documents
    ),
    uni AS (
      SELECT t.tok AS w, COUNT(*) AS c
      FROM (SELECT unnest(toks) AS tok FROM tok) t GROUP BY t.tok
    ),
    n AS (SELECT SUM(c) AS total FROM uni),
    pairs AS (
      SELECT toks[g.i] AS w1, toks[g.i + 1] AS w2, COUNT(*) AS c_xy
      FROM tok, generate_series(1, 4000) g(i)
      WHERE g.i <= len(toks) - 1
      GROUP BY 1, 2
    )
    SELECT w1, w2, CAST(c_xy AS BIGINT) AS c_xy,
           CAST(u1.c AS BIGINT) AS c_x, CAST(u2.c AS BIGINT) AS c_y,
           CAST(c_xy * n.total * 1000000 // (u1.c * u2.c) AS BIGINT)
             AS lift_ppm
    FROM pairs
    JOIN uni u1 ON u1.w = w1
    JOIN uni u2 ON u2.w = w2
    CROSS JOIN n
    WHERE c_xy >= {PMI_MIN_PAIR}
    ORDER BY lift_ppm DESC, w1, w2 LIMIT {PMI_TOP}
    """,
)
def token_pmi_pairs(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Collocation mining: the top-{PMI_TOP} adjacent token bigrams by
    pointwise mutual information — the tokenizer-vocabulary /
    multi-word-expression signal (Church & Hanks 1990). PMI =
    log(P(xy) / P(x)P(y)); since log is monotone, ranking by the RAW
    LIFT c_xy·N / (c_x·c_y) is rank-identical and — held in integer
    ppm — arithmetic-exact on both engines (no float logs anywhere;
    the {PMI_MIN_PAIR}-count floor is the standard guard against
    rare-pair PMI explosion). At corpora where c_xy·N·1e6 could
    exceed 2^63 (≳10^12 tokens), the lift would shift to per-billion
    with a pre-divided N — noted, not needed at bench scale.

    Scale shape: bigram generation in expression land (zip of the
    token array with its tail — zero shuffle before the pair agg);
    ONE map-side-combinable pair groupBy; unigram counts are the SAME
    shape; the two lookup joins are shuffle equi-joins on the token
    key (the vocabulary is corpus-sized — never broadcast); the 1-row
    total broadcasts; TakeOrderedAndProject keeps the top rows
    without a global sort."""
    d = load(spark, sf_dir, "documents")
    toks = F.split(F.trim("text"), " ")
    uni = (
        d.select(F.explode(toks).alias("w"))
        .groupBy("w")
        .agg(F.count("*").alias("c"))
    )
    n = uni.agg(F.sum("c").alias("total"))
    bigrams = F.zip_with(
        F.slice(toks, 1, F.size(toks) - 1),
        F.slice(toks, 2, F.size(toks) - 1),
        lambda a, b: F.struct(a.alias("w1"), b.alias("w2")),
    )
    pairs = (
        d.filter(F.size(toks) >= 2)
        .select(F.explode(bigrams).alias("p"))
        .groupBy(F.col("p.w1").alias("w1"), F.col("p.w2").alias("w2"))
        .agg(F.count("*").alias("c_xy"))
        .filter(F.col("c_xy") >= PMI_MIN_PAIR)
    )
    u1 = uni.select(F.col("w").alias("w1"), F.col("c").alias("c_x"))
    u2 = uni.select(F.col("w").alias("w2"), F.col("c").alias("c_y"))
    return (
        pairs.join(u1, "w1")
        .join(u2, "w2")
        .crossJoin(F.broadcast(n))
        .select(
            "w1", "w2", "c_xy", "c_x", "c_y",
            F.expr(
                "CAST(c_xy * total * 1000000 DIV (c_x * c_y) AS BIGINT)"
            ).alias("lift_ppm"),
        )
        .orderBy(F.col("lift_ppm").desc(), "w1", "w2")
        .limit(PMI_TOP)
    )


# --------------------------------------------------------------------------
# 227. lang_id_confusion — the #40 heuristic evaluated against ground truth
# --------------------------------------------------------------------------
def _lang_conf_oracle() -> str:
    scores = ",\n           ".join(
        f"{stopword_hits_sql('toks', lg)} AS score_{lg}" for lg in _LANGS
    )
    cases = []
    for i, lg in enumerate(_LANGS):
        conds = [f"score_{lg} > 0"] + [
            f"score_{lg} >= score_{other}" for other in _LANGS[i + 1:]
        ] + [f"score_{lg} > score_{other}" for other in _LANGS[:i]]
        cases.append(f"WHEN {' AND '.join(conds)} THEN '{lg}'")
    case_sql = "CASE " + " ".join(cases) + " ELSE 'unknown' END"
    return f"""
    WITH scored AS (
      SELECT lang AS true_lang, {scores}
      FROM (SELECT lang, string_split(trim(text), ' ') AS toks
            FROM documents)
    ),
    px AS (SELECT true_lang, {case_sql} AS pred_lang FROM scored),
    cells AS (
      SELECT true_lang, pred_lang, COUNT(*) AS n FROM px GROUP BY 1, 2
    ),
    langs AS (SELECT DISTINCT true_lang AS lang FROM cells),
    st AS (
      SELECT l.lang,
             COALESCE(SUM(CASE WHEN c.true_lang = l.lang
                               AND c.pred_lang = l.lang
                               THEN n END), 0) AS tp,
             COALESCE(SUM(CASE WHEN c.pred_lang = l.lang
                               AND c.true_lang <> l.lang
                               THEN n END), 0) AS fp,
             COALESCE(SUM(CASE WHEN c.true_lang = l.lang
                               AND c.pred_lang <> l.lang
                               THEN n END), 0) AS fn
      FROM langs l LEFT JOIN cells c
        ON c.true_lang = l.lang OR c.pred_lang = l.lang
      GROUP BY l.lang
    )
    SELECT lang, CAST(tp + fn AS BIGINT) AS n_docs,
           CAST(tp AS BIGINT) AS tp,
           CAST(fp AS BIGINT) AS fp,
           CAST(CASE WHEN tp + fp = 0 THEN 0
                     ELSE tp * 1000000 // (tp + fp) END AS BIGINT)
             AS precision_ppm,
           CAST(CASE WHEN tp + fn = 0 THEN 0
                     ELSE tp * 1000000 // (tp + fn) END AS BIGINT)
             AS recall_ppm,
           CAST(CASE WHEN 2 * tp + fp + fn = 0 THEN 0
                     ELSE 2 * tp * 1000000 // (2 * tp + fp + fn) END
                AS BIGINT) AS f1_ppm
    FROM st
    """


@register("lang_id_confusion", oracle=_lang_conf_oracle())
def lang_id_confusion(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Classifier evaluation of the engine's OWN #40 lang_id heuristic
    against the corpus's ground-truth ``lang`` column: per-language
    precision / recall / F1 — the report a pipeline owner reads before
    trusting a heuristic gate in a keep-rule (and the pattern for
    evaluating ANY rule-based classifier the engine hosts).

    Exactness: F1 uses the integer identity 2·tp/(2·tp+fp+fn) — one
    floor division on exact counts, never a division of two rounded
    ppms.

    Scale shape: ONE narrow codegen scan scores every doc (the same
    stopword expressions as #40 — consistency by construction); the
    (true, pred) contingency collapse is one combinable agg to
    ≤ (|langs|+1)² cells; per-language stats derive on that tiny
    frame via a broadcast per-lang fan-out."""
    d = load(spark, sf_dir, "documents")
    toks = F.split(F.trim("text"), " ")
    s = d.select(F.col("lang").alias("true_lang"), toks.alias("toks"))
    for lg in _LANGS:
        s = s.withColumn(f"score_{lg}", stopword_hits(F.col("toks"), lg))
    pred = F.lit("unknown")
    for lg in reversed(_LANGS):
        later = _LANGS[_LANGS.index(lg) + 1:]
        earlier = _LANGS[: _LANGS.index(lg)]
        cond = F.col(f"score_{lg}") > 0
        for o in later:
            cond = cond & (F.col(f"score_{lg}") >= F.col(f"score_{o}"))
        for o in earlier:
            cond = cond & (F.col(f"score_{lg}") > F.col(f"score_{o}"))
        pred = F.when(cond, lg).otherwise(pred)
    cells = (
        s.select("true_lang", pred.alias("pred_lang"))
        .groupBy("true_lang", "pred_lang")
        .agg(F.count("*").alias("n"))
    )
    langs = cells.select(
        F.col("true_lang").alias("lang")
    ).distinct()
    joined = langs.join(
        cells,
        (F.col("true_lang") == F.col("lang"))
        | (F.col("pred_lang") == F.col("lang")),
        "left",
    )
    st = joined.groupBy("lang").agg(
        F.coalesce(
            F.sum(
                F.when(
                    (F.col("true_lang") == F.col("lang"))
                    & (F.col("pred_lang") == F.col("lang")),
                    F.col("n"),
                )
            ),
            F.lit(0),
        ).alias("tp"),
        F.coalesce(
            F.sum(
                F.when(
                    (F.col("pred_lang") == F.col("lang"))
                    & (F.col("true_lang") != F.col("lang")),
                    F.col("n"),
                )
            ),
            F.lit(0),
        ).alias("fp"),
        F.coalesce(
            F.sum(
                F.when(
                    (F.col("true_lang") == F.col("lang"))
                    & (F.col("pred_lang") != F.col("lang")),
                    F.col("n"),
                )
            ),
            F.lit(0),
        ).alias("fn"),
    )
    return st.select(
        "lang",
        (F.col("tp") + F.col("fn")).cast("long").alias("n_docs"),
        F.col("tp").cast("long").alias("tp"),
        F.col("fp").cast("long").alias("fp"),
        F.expr(
            "CAST(CASE WHEN tp + fp = 0 THEN 0"
            " ELSE tp * 1000000 DIV (tp + fp) END AS BIGINT)"
        ).alias("precision_ppm"),
        F.expr(
            "CAST(CASE WHEN tp + fn = 0 THEN 0"
            " ELSE tp * 1000000 DIV (tp + fn) END AS BIGINT)"
        ).alias("recall_ppm"),
        F.expr(
            "CAST(CASE WHEN 2 * tp + fp + fn = 0 THEN 0"
            " ELSE 2 * tp * 1000000 DIV (2 * tp + fp + fn) END AS BIGINT)"
        ).alias("f1_ppm"),
    )


# --------------------------------------------------------------------------
# 228. vocab_mass_spectrum — Zipf head-heaviness without a global sort
# --------------------------------------------------------------------------
@register(
    "vocab_mass_spectrum",
    oracle="""
    WITH uni AS (
      SELECT t.tok, COUNT(*) AS c
      FROM (SELECT unnest(string_split(trim(text), ' ')) AS tok
            FROM documents) t
      GROUP BY t.tok
    ),
    tot AS (SELECT SUM(c) AS mass, COUNT(*) AS vocab FROM uni),
    b AS (SELECT length(bin(c)) AS bucket, c FROM uni)
    SELECT CAST(bucket AS BIGINT) AS log2_bucket,
           CAST(COUNT(*) AS BIGINT) AS n_tokens,
           CAST(SUM(c) AS BIGINT) AS token_mass,
           CAST(SUM(c) * 1000000 // MAX(tot.mass) AS BIGINT)
             AS mass_share_ppm,
           CAST(COUNT(*) * 1000000 // MAX(tot.vocab) AS BIGINT)
             AS vocab_share_ppm
    FROM b CROSS JOIN tot GROUP BY bucket
    """,
)
def vocab_mass_spectrum(spark: SparkSession, sf_dir: str) -> DataFrame:
    """The Zipf head-heaviness readout: token occurrences and
    vocabulary share per power-of-two count bucket (bucket k holds
    tokens appearing [2^(k-1), 2^k) times). A healthy natural-language
    corpus puts most MASS in the top buckets and most VOCABULARY in
    bucket 1 (hapaxes); a template-dominated crawl inverts the mass
    curve — the shape check a tokenizer owner reads before fixing a
    vocab size.

    Exactness trick: floor(log2(c))+1 computed as length(bin(c)) —
    the binary-string length, an exact integer on both engines (no
    libm log anywhere; log2 is NOT bit-portable between JVM and
    libm, the entropy-op rejection rationale applied productively).

    Scale shape: one combinable vocabulary agg is the only
    corpus-sized step; bucketing is a pure expression on the vocab
    frame; ≤64 output rows; 1-row total broadcast — NO global sort,
    unlike a rank-decile formulation (ranking a 100 TB corpus's
    vocabulary is a vocabulary-sized global sort this op exists to
    avoid)."""
    uni = (
        load(spark, sf_dir, "documents")
        .select(F.explode(F.split(F.trim("text"), " ")).alias("tok"))
        .groupBy("tok")
        .agg(F.count("*").alias("c"))
    )
    tot = uni.agg(
        F.sum("c").alias("mass"), F.count("*").alias("vocab")
    )
    b = uni.select(F.length(F.bin(F.col("c"))).alias("bucket"), "c")
    return (
        b.groupBy(F.col("bucket").cast("long").alias("log2_bucket"))
        .agg(
            F.count("*").alias("n_tokens"),
            F.sum("c").alias("token_mass"),
        )
        .crossJoin(F.broadcast(tot))
        .select(
            "log2_bucket",
            F.col("n_tokens").cast("long").alias("n_tokens"),
            F.col("token_mass").cast("long").alias("token_mass"),
            F.expr(
                "CAST(token_mass * 1000000 DIV mass AS BIGINT)"
            ).alias("mass_share_ppm"),
            F.expr(
                "CAST(n_tokens * 1000000 DIV vocab AS BIGINT)"
            ).alias("vocab_share_ppm"),
        )
    )


# --------------------------------------------------------------------------
# 231. dup_span_coverage — partial-vs-full-dup classification of #174 pairs
# --------------------------------------------------------------------------
COV_FULL_PPM = 900_000   # min(cov_a, cov_b) ≥ 90% → full duplicate
COV_PARTIAL_PPM = 300_000  # ≥ 30% → partial overlap (quote/template)


def _cov_oracle() -> str:
    # reuse the winnowing CTE chain up to `pruned`, then add per-doc
    # fingerprint totals and per-pair coverage
    base = _winnow_oracle().split("SELECT a.doc_id AS doc_a")[0].rstrip()
    return f"""{base.rstrip(",")},
    nf AS (SELECT doc_id, COUNT(*) AS n_fp FROM fps GROUP BY doc_id),
    pairs AS (
      SELECT a.doc_id AS doc_a, b.doc_id AS doc_b,
             CAST(COUNT(*) AS BIGINT) AS n_shared
      FROM pruned a JOIN pruned b
        ON a.fp = b.fp AND a.doc_id < b.doc_id
      GROUP BY a.doc_id, b.doc_id
      HAVING COUNT(*) >= {WIN_MIN_SHARED}
    ),
    cov AS (
      SELECT p.doc_a, p.doc_b, p.n_shared,
             CAST(p.n_shared * 1000000 // na.n_fp AS BIGINT) AS cov_a_ppm,
             CAST(p.n_shared * 1000000 // nb.n_fp AS BIGINT) AS cov_b_ppm
      FROM pairs p
      JOIN nf na ON na.doc_id = p.doc_a
      JOIN nf nb ON nb.doc_id = p.doc_b
    )
    SELECT doc_a, doc_b, n_shared, cov_a_ppm, cov_b_ppm,
           CASE WHEN LEAST(cov_a_ppm, cov_b_ppm) >= {COV_FULL_PPM}
                THEN 'full_dup'
                WHEN LEAST(cov_a_ppm, cov_b_ppm) >= {COV_PARTIAL_PPM}
                THEN 'partial'
                ELSE 'spurious' END AS overlap_class
    FROM cov
    """


@register("dup_span_coverage", oracle=_cov_oracle())
def dup_span_coverage(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Partial-vs-full-duplicate classification of the #174 winnowing
    candidate pairs: what FRACTION of each document's fingerprints is
    shared with its partner — the signal separating a true duplicate
    (remove one) from a quoted passage or shared template (keep both,
    maybe strip the span). MOSS reads exactly this ratio; a dedup
    keep-rule that can't see it over-deletes quoting documents.

    Coverage is per SIDE (n_shared / each doc's own fingerprint count,
    integer ppm) because containment is asymmetric: a paragraph quoted
    inside a book covers ~100% of the paragraph and ~1% of the book.
    Classes: min coverage ≥90% 'full_dup', ≥30% 'partial', else
    'spurious' (a df-capped boilerplate collision).

    Scale shape: reuses the SHARED persisted (doc, fp) stage (#174's
    — no new corpus scan this session); adds one doc-keyed count agg
    and two equi-joins of the pair frame to it; everything else is the
    #174 plan verbatim."""
    fps = _shared_stage(
        "winnow_fps", spark, sf_dir, lambda: _winnow_fps(spark, sf_dir)
    )
    nf = fps.groupBy("doc_id").agg(F.count("*").alias("n_fp"))
    pairs = winnowing_fingerprint(spark, sf_dir)
    cov = (
        pairs.join(
            nf.select(F.col("doc_id").alias("doc_a"),
                      F.col("n_fp").alias("nf_a")),
            "doc_a",
        )
        .join(
            nf.select(F.col("doc_id").alias("doc_b"),
                      F.col("n_fp").alias("nf_b")),
            "doc_b",
        )
        .select(
            "doc_a", "doc_b", "n_shared",
            F.expr("CAST(n_shared * 1000000 DIV nf_a AS BIGINT)")
            .alias("cov_a_ppm"),
            F.expr("CAST(n_shared * 1000000 DIV nf_b AS BIGINT)")
            .alias("cov_b_ppm"),
        )
    )
    mn = F.least(F.col("cov_a_ppm"), F.col("cov_b_ppm"))
    return cov.select(
        "doc_a", "doc_b", "n_shared", "cov_a_ppm", "cov_b_ppm",
        F.when(mn >= COV_FULL_PPM, "full_dup")
        .when(mn >= COV_PARTIAL_PPM, "partial")
        .otherwise("spurious")
        .alias("overlap_class"),
    )
