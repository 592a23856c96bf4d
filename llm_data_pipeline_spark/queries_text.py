"""Text-analysis queries (language ID, quality scoring, token stats,
fingerprinting) with DuckDB oracles generated from the same constants as
the Spark implementations (functions/analysis.py)."""

from __future__ import annotations

from pyspark.sql import SparkSession
from pyspark.sql import functions as F

from llm_data_pipeline_spark.functions import analysis as A
from llm_data_pipeline_spark.functions import text as T
from llm_data_pipeline_spark.functions.intmath import rounded_div_sql
from pyspark.sql.window import Window
from llm_data_pipeline_spark.operators.quality import run_quality
from llm_data_pipeline_spark.queries import query, table
from llm_data_pipeline_spark.functions.checkpoint import cut_lineage

# ---------------------------------------------------------------------------
# SQL twins
# ---------------------------------------------------------------------------

NORM = "trim(regexp_replace(lower(coalesce(text,'')), '\\s+', ' ', 'g'))"
TOKS = f"list_filter(string_split({NORM}, ' '), x -> x <> '')"
RAW = "coalesce(text,'')"


def _cnt(expr: str, cc: str) -> str:
    return f"(length({expr}) - length(regexp_replace({expr}, '{cc}', '', 'g')))"


def _ratio(expr: str, cc: str) -> str:
    return (
        f"CASE WHEN length({expr}) > 0 THEN {_cnt(expr, cc)} / length({expr}) "
        f"ELSE 0.0 END"
    )


def _hits(lang: str) -> str:
    words = ", ".join(f"'{w}'" for w in A.STOPWORDS[lang])
    return f"len(list_filter(toks, t -> list_contains([{words}], t)))"


_CJK_COND = (
    f"(CASE WHEN length(raw) > 0 THEN {_cnt('raw', T.CJK_CLASS)} / length(raw) "
    f"ELSE 0.0 END) > {A.CJK_LANG_THRESHOLD}"
)


def _lang_case() -> str:
    branches = [f"WHEN {_CJK_COND} THEN 'zh'"]
    for i, lang in enumerate(A.LANG_ORDER):
        conds = [f"h_{lang} > 0"]
        conds += [f"h_{lang} >= h_{o}" for o in A.LANG_ORDER[i + 1 :]]
        conds += [f"h_{lang} > h_{p}" for p in A.LANG_ORDER[:i]]
        branches.append(f"WHEN {' AND '.join(conds)} THEN '{lang}'")
    return "CASE " + " ".join(branches) + " ELSE 'und' END"


_H_COLS = ",\n         ".join(f"{_hits(lang)} AS h_{lang}" for lang in A.LANG_ORDER)
_GREATEST = "greatest(" + ", ".join(f"h_{lang}" for lang in A.LANG_ORDER) + ")"
_SW_SUM = " + ".join(f"h_{lang}" for lang in A.LANG_ORDER)

TEXT_BASE_SQL = f"""
base AS (
  SELECT doc_id, {RAW} AS raw, {TOKS} AS toks FROM documents
), feat AS (
  SELECT doc_id, raw, len(toks) AS n_tok,
         {_H_COLS}
  FROM base
)
"""

_LANG_SCORE = (
    f"CASE WHEN {_CJK_COND} THEN 1.0 "
    f"WHEN n_tok > 0 THEN {_GREATEST} / n_tok ELSE 0.0 END"
)

_QUALITY_SCORE = (
    f"0.25 * ({_ratio('raw', T.NON_WS_CLASS)}) "
    f"+ 0.25 * (CASE WHEN length(raw) > 0 THEN "
    f"({_cnt('raw', T.ALPHA_CLASS)} + {_cnt('raw', T.CJK_CLASS)}) / length(raw) "
    f"ELSE 0.0 END) "
    f"+ 0.25 * (1.0 - least(({_ratio('raw', T.PUNCT_CLASS)}) / 0.25, 1.0)) "
    f"+ 0.25 * least(4.0 * (CASE WHEN n_tok > 0 THEN ({_SW_SUM}) / n_tok "
    f"ELSE 0.0 END), 1.0)"
)


def _rdiv_nn(s: str, n: str) -> str:
    """Rounded integer division for NON-NEGATIVE operands (SQL twin of
    rounded_div for the quality-ppm terms — all counts, so no sign
    branch)."""
    return f"((({s}) + ({n}) // 2) // ({n}))"


# Integer-ppm quality score over the `feat` CTE — the BINNING form
# (Spark twin: functions/analysis.with_quality_ppm). floor(float*10) can
# flip a decile across engines within one ULP; the four terms here are
# exact rounded integer divisions scaled to 250,000 ppm each.
QUALITY_PPM_SQL = (
    f"(CASE WHEN length(raw) > 0 THEN "
    f"{_rdiv_nn(_cnt('raw', T.NON_WS_CLASS) + ' * 250000', 'length(raw)')} "
    f"ELSE 0 END "
    f"+ CASE WHEN length(raw) > 0 THEN "
    f"{_rdiv_nn('(' + _cnt('raw', T.ALPHA_CLASS) + ' + ' + _cnt('raw', T.CJK_CLASS) + ') * 250000', 'length(raw)')} "
    f"ELSE 0 END "
    f"+ CASE WHEN length(raw) > 0 THEN 250000 - least("
    f"{_rdiv_nn(_cnt('raw', T.PUNCT_CLASS) + ' * 1000000', 'length(raw)')}, 250000) "
    f"ELSE 250000 END "
    f"+ CASE WHEN n_tok > 0 THEN least("
    f"{_rdiv_nn('(' + _SW_SUM + ') * 1000000', 'n_tok')}, 250000) "
    f"ELSE 0 END)"
)

QUALITY_DECILE_SQL = f"least(CAST(({QUALITY_PPM_SQL}) // 100000 AS INT), 9)"


@query(
    "text_language_detect",
    oracle=f"""
    WITH {TEXT_BASE_SQL.strip()}
    SELECT doc_id, {_lang_case()} AS lang_pred, {_LANG_SCORE} AS lang_score
    FROM feat
    ORDER BY doc_id
    """,
    tags=("text-analysis", "langid"),
)
def text_language_detect(spark: SparkSession, sf_dir: str):
    docs = table(spark, sf_dir, "documents", scatter=True)
    return (
        A.with_language_heuristic(docs)
        .select("doc_id", "lang_pred", "lang_score")
        .orderBy("doc_id")
    )


@query(
    "text_quality_scores",
    oracle=f"""
    WITH {TEXT_BASE_SQL.strip()}
    SELECT doc_id, {_QUALITY_SCORE} AS quality_score
    FROM feat
    ORDER BY doc_id
    """,
    tags=("text-analysis", "quality"),
)
def text_quality_scores(spark: SparkSession, sf_dir: str):
    docs = table(spark, sf_dir, "documents", scatter=True)
    return (
        A.with_quality_score(docs)
        .select("doc_id", "quality_score")
        .orderBy("doc_id")
    )


@query(
    "text_token_stats",
    oracle=f"""
    SELECT doc_id,
           len({TOKS}) AS ws_tokens,
           len(regexp_extract_all({RAW}, '{A.WORDLIKE_RE}')) AS wordlike_tokens,
           md5({NORM}) AS fingerprint
    FROM documents
    ORDER BY doc_id
    """,
    tags=("text-analysis", "tokens"),
)
def text_token_stats(spark: SparkSession, sf_dir: str):
    docs = table(spark, sf_dir, "documents", scatter=True)
    t = F.col("text")
    return docs.select(
        "doc_id",
        A.whitespace_token_count(t).alias("ws_tokens"),
        A.wordlike_token_count(t).cast("long").alias("wordlike_tokens"),
        A.fingerprint(t).alias("fingerprint"),
    ).orderBy("doc_id")


@query(
    "quality_keep_decision",
    oracle=f"""
    WITH {TEXT_BASE_SQL.strip()},
    scored AS (
      SELECT doc_id, {_lang_case()} AS lang_pred, {_LANG_SCORE} AS lang_score
      FROM feat
    )
    SELECT doc_id, lang_pred, lang_score,
           (lang_pred IN ('zh', 'en') AND lang_score >= 0.4) AS quality_keep
    FROM scored
    ORDER BY doc_id
    """,
    tags=("pipeline", "quality"),
)
def quality_keep_decision(spark: SparkSession, sf_dir: str):
    """The quality stage on its heuristic (model-free) path — same column
    contract as the fastText-backed path."""
    docs = table(spark, sf_dir, "documents", scatter=True)
    return run_quality(docs).select(
        "doc_id", "lang_pred", "lang_score", "quality_keep"
    ).orderBy("doc_id")


@query(
    "language_distribution",
    oracle=f"""
    WITH {TEXT_BASE_SQL.strip()},
    scored AS (
      SELECT doc_id, {_lang_case()} AS lang_pred, {_LANG_SCORE} AS lang_score
      FROM feat
    )
    SELECT lang_pred,
           (lang_pred IN ('zh', 'en') AND lang_score >= 0.4) AS quality_keep,
           count(*) AS n_docs
    FROM scored
    GROUP BY 1, 2
    ORDER BY lang_pred, quality_keep
    """,
    tags=("pipeline", "quality", "aggregation"),
)
def language_distribution_q(spark: SparkSession, sf_dir: str):
    docs = table(spark, sf_dir, "documents", scatter=True)
    from llm_data_pipeline_spark.operators.quality import language_distribution

    return language_distribution(run_quality(docs)).orderBy(
        "lang_pred", "quality_keep"
    )


@query(
    "text_winnow_fingerprints",
    oracle=f"""
WITH codes AS (
  SELECT doc_id,
         list_transform(list_filter(string_split_regex(coalesce(text, ''), ''),
                                    c -> c <> ''),
                        c -> unicode(c)) AS cs
  FROM documents
), hashed AS (
  SELECT doc_id, CASE
    WHEN len(cs) = 0 THEN CAST([] AS BIGINT[])
    WHEN len(cs) < 8 THEN [list_reduce(list_prepend(CAST(0 AS BIGINT), cs),
                                       (a, b) -> (a * {A.WINNOW_BASE} + b) % {A.WINNOW_MOD})]
    ELSE list_transform(range(len(cs) - 7),
           i -> list_reduce(list_prepend(CAST(0 AS BIGINT), list_slice(cs, i + 1, i + 8)),
                            (a, b) -> (a * {A.WINNOW_BASE} + b) % {A.WINNOW_MOD}))
  END AS hs FROM codes
), minima AS (
  SELECT doc_id, CASE
    WHEN len(hs) = 0 THEN CAST([] AS BIGINT[])
    WHEN len(hs) <= 4 THEN [list_min(hs)]
    ELSE list_transform(range(len(hs) - 3), i -> list_min(list_slice(hs, i + 1, i + 4)))
  END AS ms FROM hashed
)
SELECT doc_id,
       CAST(len(list_distinct(ms)) AS BIGINT) AS n_fp,
       CAST(coalesce(list_aggregate(list_distinct(ms), 'sum'), 0) AS BIGINT) AS fp_sum,
       CAST(coalesce(list_aggregate(list_distinct(ms), 'min'), -1) AS BIGINT) AS fp_min,
       CAST(coalesce(list_aggregate(list_distinct(ms), 'max'), -1) AS BIGINT) AS fp_max
FROM minima
ORDER BY doc_id
""",
    tags=("text-analysis", "fingerprint", "rolling-hash"),
)
def text_winnow_fingerprints(spark: SparkSession, sf_dir: str):
    """Winnowing fingerprints (k=8 rolling hash, w=4 window minima) — the
    rolling-hash document fingerprint; oracle re-derives the identical
    scheme with DuckDB list primitives."""
    docs = table(spark, sf_dir, "documents", scatter=True)
    fp = A.add_winnow_fingerprints(docs, k=8, w=4)
    fps = F.col("fingerprints")
    return fp.select(
        "doc_id",
        F.size(fps).cast("long").alias("n_fp"),
        F.coalesce(
            F.aggregate(fps, F.lit(0).cast("long"), lambda a, x: a + x),
            F.lit(0),
        ).alias("fp_sum"),
        F.coalesce(F.array_min(fps), F.lit(-1)).cast("long").alias("fp_min"),
        F.coalesce(F.array_max(fps), F.lit(-1)).cast("long").alias("fp_max"),
    ).orderBy("doc_id")


@query(
    "corpus_stats_by_lang",
    oracle="""
    SELECT lang,
           count(*)                                  AS n_docs,
           CAST(sum(n_chars) AS BIGINT)              AS total_chars,
           CAST(min(n_chars) AS BIGINT)              AS min_chars,
           round(quantile_cont(n_chars, 0.5), 4)     AS median_chars,
           round(quantile_cont(n_chars, 0.9), 4)     AS p90_chars,
           CAST(max(n_chars) AS BIGINT)              AS max_chars,
           CAST(count(DISTINCT source) AS BIGINT)    AS n_sources
    FROM documents
    GROUP BY lang
    ORDER BY lang
    """,
    tags=("text", "stats", "percentile"),
)
def corpus_stats_by_lang(spark: SparkSession, sf_dir: str):
    """Per-language corpus profile with exact interpolated percentiles.

    Spark's ``percentile`` and DuckDB's ``quantile_cont`` share the
    (n-1)·p linear-interpolation definition, so the medians hash-match
    exactly. At 100 TB swap ``percentile`` for ``percentile_approx`` —
    exact percentiles need a per-group sort; the approx sketch is
    single-pass mergeable (tested in tests/test_sketches.py).
    """
    d = table(spark, sf_dir, "documents", scatter=True)
    return (
        d.groupBy("lang")
        .agg(
            F.count("*").alias("n_docs"),
            F.sum("n_chars").alias("total_chars"),
            F.min("n_chars").alias("min_chars"),
            F.round(F.percentile("n_chars", F.lit(0.5)), 4).alias("median_chars"),
            F.round(F.percentile("n_chars", F.lit(0.9)), 4).alias("p90_chars"),
            F.max("n_chars").alias("max_chars"),
            F.countDistinct("source").alias("n_sources"),
        )
        .orderBy("lang")
    )


# Shared CTE chain for the bigram-LM family: per-doc exact mean (double,
# identical across engines — integer micro-unit sums divided once)
_LM_CHAIN_SQL = f"""
    toked AS (
      SELECT doc_id, {TOKS} AS toks FROM documents
    ),
    bg AS (
      SELECT doc_id, toks[i + 1] AS w1, toks[i + 2] AS w2
      FROM toked, unnest(range(len(toks) - 1)) t(i)
      WHERE len(toks) >= 2
    ),
    bgc AS (SELECT w1, w2, count(*) AS c12 FROM bg GROUP BY 1, 2),
    unic AS (SELECT w1, count(*) AS c1 FROM bg GROUP BY 1),
    v AS (
      SELECT count(DISTINCT w) AS n
      FROM (SELECT w1 AS w FROM bg UNION ALL SELECT w2 AS w FROM bg)
    ),
    lp AS (
      SELECT b.doc_id,
             CAST(round(ln((c.c12 + 0.1) / (u.c1 + 0.1 * (SELECT n FROM v)))
                        * 1000000.0) AS BIGINT) AS l_micro
      FROM bg b
      JOIN unic u USING (w1)
      JOIN bgc c USING (w1, w2)
    ),
    agg AS (
      SELECT doc_id, sum(l_micro) / (1000000.0 * count(*)) AS m,
             count(*) AS nb
      FROM lp GROUP BY doc_id
    ),
    perdoc AS (
      SELECT d.doc_id, coalesce(a.m, 0.0) AS lm, coalesce(a.nb, 0) AS nb
      FROM documents d LEFT JOIN agg a USING (doc_id)
    )
"""


@query(
    "lm_bigram_quality_score",
    oracle=f"""
    WITH {_LM_CHAIN_SQL.strip()}
    SELECT doc_id,
           round(lm, 6) AS lm_logprob,
           CAST(nb AS BIGINT) AS n_bigrams
    FROM perdoc
    ORDER BY doc_id
    """,
    tags=("text-analysis", "quality", "lm", "ccnet"),
)
def lm_bigram_quality_score(spark: SparkSession, sf_dir: str):
    """CCNet-style LM quality signal (operators/lm_score.py): a word-bigram
    model with add-0.1 smoothing trained on the corpus in one distributed
    count pass scores every document by its mean transition
    log-probability — the perplexity-filter analog with the model tables
    riding broadcast joins, no UDF anywhere."""
    from llm_data_pipeline_spark.operators.lm_score import add_lm_score

    docs = table(spark, sf_dir, "documents", scatter=True).select("doc_id", "text")
    out = add_lm_score(docs)
    return out.select(
        "doc_id",
        F.round("lm_logprob", 6).alias("lm_logprob"),
        F.col("n_bigrams").cast("long").alias("n_bigrams"),
    ).orderBy("doc_id")


@query(
    "lm_quality_tertiles",
    oracle=f"""
    WITH {_LM_CHAIN_SQL.strip()},
    bucketed AS (
      SELECT doc_id, lm,
             CAST(round(lm * 1000000.0) AS BIGINT) AS lm_micro,
             ntile(3) OVER (ORDER BY lm DESC, doc_id) AS bucket
      FROM perdoc
    )
    SELECT CASE bucket WHEN 1 THEN 'head' WHEN 2 THEN 'middle'
                       ELSE 'tail' END AS bucket,
           count(*) AS n_docs,
           round(sum(lm_micro) / (1000000.0 * count(*)), 6) AS mean_logprob,
           round(min(lm), 6) AS min_logprob,
           round(max(lm), 6) AS max_logprob
    FROM bucketed
    GROUP BY bucket
    ORDER BY bucket
    """,
    tags=("text-analysis", "quality", "lm", "ccnet", "curation"),
)
def lm_quality_tertiles(spark: SparkSession, sf_dir: str):
    """CCNet's signature corpus split: rank every document by its bigram-LM
    score and cut the corpus into head/middle/tail tertiles (Wenzek et al.
    2020 keep the head for training). ntile over (score desc, doc_id) is
    deterministic because the per-doc score is itself exact across engines
    (integer micro-unit sums); per-bucket means aggregate re-quantized
    micro scores, so no float summation order leaks in. At 100 TB the
    ntile becomes a quantile-threshold join (approx or exact percentiles)
    instead of a global sort — same semantics, two corpus passes."""

    from llm_data_pipeline_spark.operators.lm_score import add_lm_score

    docs = table(spark, sf_dir, "documents", scatter=True).select("doc_id", "text")
    scored = add_lm_score(docs).select(
        "doc_id",
        F.col("lm_logprob").alias("lm"),
        F.round(F.col("lm_logprob") * 1e6, 0).cast("long").alias("lm_micro"),
    )
    w = Window.orderBy(F.desc("lm"), F.asc("doc_id"))
    bucketed = scored.withColumn("bucket", F.ntile(3).over(w))
    return (
        bucketed.groupBy("bucket")
        .agg(
            F.count("*").alias("n_docs"),
            F.round(
                F.sum("lm_micro") / (F.lit(1e6) * F.count("*")), 6
            ).alias("mean_logprob"),
            F.round(F.min("lm"), 6).alias("min_logprob"),
            F.round(F.max("lm"), 6).alias("max_logprob"),
        )
        .select(
            F.when(F.col("bucket") == 1, "head")
            .when(F.col("bucket") == 2, "middle")
            .otherwise("tail")
            .alias("bucket"),
            "n_docs",
            "mean_logprob",
            "min_logprob",
            "max_logprob",
        )
        .orderBy("bucket")
    )


@query(
    "language_confusion_matrix",
    oracle=f"""
    WITH {TEXT_BASE_SQL.strip()},
    scored AS (
      SELECT doc_id, {_lang_case()} AS lang_pred FROM feat
    )
    SELECT d.lang, s.lang_pred, count(*) AS n_docs,
           round(count(*) * 1.0 /
                 sum(count(*)) OVER (PARTITION BY d.lang), 6) AS frac_of_lang
    FROM documents d JOIN scored s USING (doc_id)
    GROUP BY d.lang, s.lang_pred
    ORDER BY d.lang, s.lang_pred
    """,
    tags=("text-analysis", "langid", "evaluation"),
)
def language_confusion_matrix(spark: SparkSession, sf_dir: str):
    """LID evaluation report: the heuristic's prediction crossed with the
    corpus's stored language labels, with per-label fractions — the
    accuracy view a model-quality dashboard needs before swapping the
    heuristic for a real fastText model."""

    docs = table(spark, sf_dir, "documents", scatter=True)
    pred = A.with_language_heuristic(docs).select("doc_id", "lang", "lang_pred")
    counts = pred.groupBy("lang", "lang_pred").agg(F.count("*").alias("n_docs"))
    w = Window.partitionBy("lang")
    return (
        counts.select(
            "lang",
            "lang_pred",
            "n_docs",
            F.round(
                F.col("n_docs") * 1.0 / F.sum("n_docs").over(w), 6
            ).alias("frac_of_lang"),
        )
        .orderBy("lang", "lang_pred")
    )


@query(
    "nb_language_classifier",
    oracle="""
    WITH d AS (SELECT doc_id, lower(text) AS t, lang FROM documents),
    tr AS (SELECT * FROM d WHERE doc_id % 2 = 0),
    te AS (SELECT * FROM d WHERE doc_id % 2 = 1),
    tr_grams AS (
      SELECT doc_id, lang AS label, substring(t, i, 3) AS gram
      FROM tr, unnest(range(1, greatest(length(t) - 1, 1))) AS u(i)
    ),
    gc AS (SELECT label, gram, count(*) AS c FROM tr_grams GROUP BY 1, 2),
    tt AS (SELECT label, sum(c) AS t FROM gc GROUP BY 1),
    vv AS (SELECT count(DISTINCT gram) AS v FROM gc),
    pr AS (SELECT lang AS label, count(*) AS n_docs FROM tr GROUP BY 1),
    na AS (SELECT count(*) AS n_all FROM tr),
    classes AS (
      SELECT pr.label,
             CAST(round(ln(pr.n_docs / CAST(na.n_all AS DOUBLE)) * 1000000)
                  AS BIGINT) AS prior_micro,
             CAST(round(ln(tt.t + vv.v) * 1000000) AS BIGINT) AS lntv_micro
      FROM pr, na, tt, vv WHERE tt.label = pr.label
    ),
    mg AS (SELECT label, gram,
                  CAST(round(ln(c + 1) * 1000000) AS BIGINT) AS lw
           FROM gc),
    te_grams AS (
      SELECT doc_id, substring(t, i, 3) AS gram
      FROM te, unnest(range(1, greatest(length(t) - 1, 1))) AS u(i)
    ),
    gcnt AS (SELECT doc_id, count(*) AS g FROM te_grams GROUP BY 1),
    seen AS (SELECT tg.doc_id, mg.label, CAST(sum(mg.lw) AS BIGINT) AS s
             FROM te_grams tg JOIN mg USING (gram) GROUP BY 1, 2),
    grid AS (
      SELECT te.doc_id, c.label,
             c.prior_micro + COALESCE(s.s, 0)
               - COALESCE(g.g, 0) * c.lntv_micro AS score_micro
      FROM te CROSS JOIN classes c
      LEFT JOIN gcnt g ON g.doc_id = te.doc_id
      LEFT JOIN seen s ON s.doc_id = te.doc_id AND s.label = c.label
    ),
    pred AS (
      SELECT doc_id, label AS pred_lang, score_micro FROM (
        SELECT *, row_number() OVER (PARTITION BY doc_id
                                     ORDER BY score_micro DESC, label) AS rn
        FROM grid
      ) WHERE rn = 1
    )
    SELECT p.doc_id, p.pred_lang, te.lang AS true_lang, p.score_micro,
           CASE WHEN p.pred_lang = te.lang THEN 1 ELSE 0 END AS correct
    FROM pred p JOIN te ON te.doc_id = p.doc_id
    ORDER BY p.doc_id
    """,
    tags=("text", "classify", "model"),
)
def nb_language_classifier(spark: SparkSession, sf_dir: str):
    """Multinomial Naive Bayes language ID TRAINED IN-ENGINE
    (operators/nb_classify.py): char-trigram model fit on the even
    doc_ids, applied to the odd ones — a real statistical classifier
    standing in for the fastText LID the reference downloads
    (reference quality/model.py:267-340), with train and predict both
    replayed relationally by the oracle (integer micro-unit log-space,
    order-independent). Note the synthetic corpus' lang labels are
    uncorrelated with its (word-soup) text, so accuracy here is near
    chance by construction — the grade is the exact train+predict
    replay; tests/test_nb_classify.py proves the classifier learns on
    genuinely separable classes."""
    from llm_data_pipeline_spark.operators.nb_classify import (
        nb_predict,
        train_nb,
    )

    docs = table(spark, sf_dir, "documents", scatter=True)
    train = docs.where(F.col("doc_id") % 2 == 0)
    test = docs.where(F.col("doc_id") % 2 == 1)
    model = train_nb(train)
    pred = nb_predict(model, test)
    out = (
        pred.join(test.select("doc_id", F.col("lang").alias("true_lang")),
                  "doc_id")
        .select(
            "doc_id",
            F.col("pred_label").alias("pred_lang"),
            "true_lang",
            "score_micro",
            F.when(F.col("pred_label") == F.col("true_lang"), 1)
            .otherwise(0)
            .cast("long")
            .alias("correct"),
        )
        # orderBy's range-sampling pass re-executes its child plan; pin
        # the (|test docs|-row) result first so the sort reads blocks
        # instead of re-running train+predict (README perf rule #3).
        .transform(cut_lineage, eager=False)
    )
    return out.orderBy("doc_id")


@query(
    "tfidf_top_terms",
    oracle=f"""
    WITH base AS (
      SELECT doc_id, {TOKS} AS toks FROM documents
    ),
    n_docs AS (SELECT count(*) AS n FROM base),
    tf AS (
      SELECT doc_id, unnest(toks) AS term FROM base
    ),
    tfc AS (SELECT doc_id, term, count(*) AS tf FROM tf GROUP BY 1, 2),
    dfc AS (SELECT term, count(*) AS df
            FROM (SELECT DISTINCT doc_id, term FROM tfc) GROUP BY 1),
    scored AS (
      SELECT t.doc_id, t.term, CAST(t.tf AS BIGINT) AS tf,
             CAST(t.tf AS BIGINT)
               * CAST(round(ln(n.n / CAST(d.df AS DOUBLE)) * 1000000)
                      AS BIGINT) AS score_micro
      FROM tfc t JOIN dfc d USING (term), n_docs n
    )
    SELECT doc_id, term, tf, score_micro, CAST(rank AS BIGINT) AS rank
    FROM (
      SELECT *, row_number() OVER (PARTITION BY doc_id
                                   ORDER BY score_micro DESC, term) AS rank
      FROM scored
    ) WHERE rank <= 3
    ORDER BY doc_id, rank
    """,
    tags=("text-analysis", "tfidf"),
)
def tfidf_top_terms(spark: SparkSession, sf_dir: str):
    """Per-document tf-idf keyword extraction: term frequency from one
    explode+count, document frequency from a distinct-pair count, idf in
    integer micro-units (round(ln(N/df)*1e6)) so the tf*idf product and
    its ranking are exact int64 arithmetic — order-independent and
    replayed exactly by the oracle. Scale shape: two vocabulary-bounded
    groupBys + a broadcast of the df table onto the tf rows; the top-3
    window partitions by doc_id."""

    docs = table(spark, sf_dir, "documents", scatter=True)
    toked = docs.select(
        "doc_id",
        F.filter(
            F.split(T.norm_ws(F.col("text")), " "), lambda x: x != ""
        ).alias("_toks"),
    )
    tf = (
        toked.select("doc_id", F.explode("_toks").alias("term"))
        .groupBy("doc_id", "term")
        .agg(F.count(F.lit(1)).cast("long").alias("tf"))
    )
    dfc = tf.groupBy("term").agg(F.count(F.lit(1)).alias("df"))
    n = toked.agg(F.count(F.lit(1)).alias("n"))
    scored = (
        tf.join(F.broadcast(dfc), "term")
        .crossJoin(F.broadcast(n))
        .select(
            "doc_id",
            "term",
            "tf",
            (
                F.col("tf")
                * F.round(F.log(F.col("n") / F.col("df")) * 1_000_000).cast(
                    "long"
                )
            ).alias("score_micro"),
        )
    )
    w = Window.partitionBy("doc_id").orderBy(F.desc("score_micro"), F.asc("term"))
    return (
        scored.withColumn("rank", F.row_number().over(w))
        .where(F.col("rank") <= 3)
        .select("doc_id", "term", "tf", "score_micro",
                F.col("rank").cast("long").alias("rank"))
        .orderBy("doc_id", "rank")
    )


# ---------------------------------------------------------------------------
# quality threshold sweep (histogram + cumulative window, single pass)
# ---------------------------------------------------------------------------

_QTS_BUCKET_MU = 200_000  # 0.2-wide quality buckets in micro-units


@query(
    "quality_threshold_sweep",
    oracle=f"""
    WITH {TEXT_BASE_SQL.strip()},
    scored AS (
      SELECT f.doc_id, d.n_chars, {_QUALITY_SCORE} AS q
      FROM feat f JOIN documents d USING (doc_id)
    ),
    b AS (
      SELECT CAST(round(q * 1000000) AS BIGINT) // {_QTS_BUCKET_MU} AS bucket,
             CAST(count(*) AS BIGINT) AS c,
             CAST(sum(n_chars) AS BIGINT) AS ch
      FROM scored GROUP BY 1
    ),
    cum AS (
      SELECT bucket,
             CAST(sum(c) OVER w AS BIGINT) AS n_kept,
             CAST(sum(ch) OVER w AS BIGINT) AS chars_kept,
             CAST(sum(c) OVER () AS BIGINT) AS total
      FROM b
      WINDOW w AS (ORDER BY bucket DESC
                   ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW)
    )
    SELECT bucket * {_QTS_BUCKET_MU} AS threshold_mu, n_kept, chars_kept,
           CAST({rounded_div_sql('(n_kept * 1000000)', 'total')} AS BIGINT)
             AS kept_ppm
    FROM cum ORDER BY threshold_mu
    """,
    tags=("text-analysis", "quality", "governance"),
)
def quality_threshold_sweep(spark: SparkSession, sf_dir: str):
    """Quality-vs-quantity pareto sweep: docs/chars surviving every
    quality threshold, in ONE pass — per-doc scores bucket to 0.2-wide
    integer bins, a 6-key histogram aggregates counts+chars, and a
    descending cumulative window turns bins into >=threshold retention.
    The scale shape for 'how much data does each cut keep' questions:
    no per-threshold rescan, no data x thresholds expansion; the window
    runs over <=6 rows."""
    from llm_data_pipeline_spark.functions.intmath import rounded_div_col

    docs = table(spark, sf_dir, "documents", scatter=True)
    scored = A.with_quality_score(docs).select(
        "doc_id",
        "n_chars",
        F.round(F.col("quality_score") * 1_000_000, 0).cast("long").alias("_q_mu"),
    )
    b = (
        scored.groupBy(
            F.floor(F.col("_q_mu") / _QTS_BUCKET_MU).cast("long").alias("bucket")
        )
        .agg(
            F.count(F.lit(1)).alias("c"),
            F.sum("n_chars").alias("ch"),
        )
    )
    w = (
        Window.orderBy(F.desc("bucket"))
        .rowsBetween(Window.unboundedPreceding, Window.currentRow)
    )
    wall = Window.rowsBetween(
        Window.unboundedPreceding, Window.unboundedFollowing
    )
    cum = b.select(
        "bucket",
        F.sum("c").over(w).alias("n_kept"),
        F.sum("ch").over(w).alias("chars_kept"),
        F.sum("c").over(wall).alias("total"),
    )
    return cum.select(
        (F.col("bucket") * _QTS_BUCKET_MU).alias("threshold_mu"),
        "n_kept",
        "chars_kept",
        rounded_div_col(
            F.col("n_kept") * F.lit(1_000_000).cast("long"), F.col("total")
        ).alias("kept_ppm"),
    ).orderBy("threshold_mu")


# ---------------------------------------------------------------------------
# term-frequency power-law fit (integer-exact least squares on log-log)
# ---------------------------------------------------------------------------

_PLF_N = 64


@query(
    "term_powerlaw_fit",
    oracle=f"""
    WITH terms AS (
      SELECT unnest({TOKS}) AS term FROM documents
    ),
    counts AS (
      SELECT term, CAST(count(*) AS BIGINT) AS cnt FROM terms GROUP BY term
    ),
    top AS (
      SELECT term, cnt,
             row_number() OVER (ORDER BY cnt DESC, term) AS rank
      FROM counts
      ORDER BY cnt DESC, term LIMIT {_PLF_N}
    ),
    pts AS (
      SELECT rank, term, cnt,
             CAST(round(ln(rank) * 1000000) AS BIGINT) AS x_mu,
             CAST(round(ln(cnt) * 1000000) AS BIGINT) AS y_mu
      FROM top
    ),
    sums AS (
      SELECT *,
             CAST(count(*) OVER () AS BIGINT) AS n,
             CAST(sum(x_mu) OVER () AS BIGINT) AS sx,
             CAST(sum(y_mu) OVER () AS BIGINT) AS sy,
             CAST(sum(x_mu * y_mu) OVER () AS BIGINT) AS sxy,
             CAST(sum(x_mu * x_mu) OVER () AS BIGINT) AS sxx
      FROM pts
    ),
    fit AS (
      SELECT *,
             CAST({rounded_div_sql(
                 '(n * sxy - sx * sy)',
                 f"({rounded_div_sql('(n * sxx - sx * sx)', '1000000')})"
             )} AS BIGINT) AS slope_mu
      FROM sums
    ),
    fin AS (
      SELECT *,
             CAST({rounded_div_sql('(sy * 1000000 - slope_mu * sx)',
                                   '(n * 1000000)')} AS BIGINT) AS intercept_mu
      FROM fit
    )
    SELECT rank, term, cnt, x_mu, y_mu, slope_mu, intercept_mu,
           y_mu - (intercept_mu +
                   CAST({rounded_div_sql('(slope_mu * x_mu)', '1000000')}
                        AS BIGINT)) AS resid_mu
    FROM fin ORDER BY rank
    """,
    tags=("text-analysis", "mining", "regression"),
)
def term_powerlaw_fit(spark: SparkSession, sf_dir: str):
    """Zipf/power-law fit of the term-frequency distribution: top-{n}
    terms -> (ln rank, ln count) -> least-squares slope+intercept in
    EXACT integer micro-unit arithmetic (the same rounded-division
    contract as the LR trainer), per-term residuals included —
    a distributed regression whose whole trajectory the oracle replays.
    Shape: one term-count groupBy + a TakeOrdered top-{n}; the regression
    runs as window sums over {n} rows."""
    from llm_data_pipeline_spark.functions.intmath import rounded_div_col

    docs = table(spark, sf_dir, "documents", scatter=True)
    terms = docs.select(F.explode(A.tokens(F.col("text"))).alias("term"))
    counts = terms.groupBy("term").agg(F.count(F.lit(1)).alias("cnt"))
    top = (
        counts.orderBy(F.desc("cnt"), "term")
        .limit(_PLF_N)
        .select(
            "term",
            "cnt",
            F.row_number()
            .over(Window.orderBy(F.desc("cnt"), "term"))
            .alias("rank"),
        )
    )
    pts = top.select(
        "rank",
        "term",
        "cnt",
        F.round(F.log("rank") * 1e6, 0).cast("long").alias("x_mu"),
        F.round(F.log("cnt") * 1e6, 0).cast("long").alias("y_mu"),
    )
    wall = Window.rowsBetween(
        Window.unboundedPreceding, Window.unboundedFollowing
    )
    sums = pts.select(
        "*",
        F.count(F.lit(1)).over(wall).alias("n"),
        F.sum("x_mu").over(wall).alias("sx"),
        F.sum("y_mu").over(wall).alias("sy"),
        F.sum(F.col("x_mu") * F.col("y_mu")).over(wall).alias("sxy"),
        F.sum(F.col("x_mu") * F.col("x_mu")).over(wall).alias("sxx"),
    )
    slope = rounded_div_col(
        F.col("n") * F.col("sxy") - F.col("sx") * F.col("sy"),
        rounded_div_col(
            F.col("n") * F.col("sxx") - F.col("sx") * F.col("sx"),
            F.lit(1_000_000).cast("long"),
        ),
    )
    fit = sums.withColumn("slope_mu", slope)
    intercept = rounded_div_col(
        F.col("sy") * F.lit(1_000_000).cast("long")
        - F.col("slope_mu") * F.col("sx"),
        F.col("n") * F.lit(1_000_000).cast("long"),
    )
    fin = fit.withColumn("intercept_mu", intercept)
    return fin.select(
        "rank",
        "term",
        "cnt",
        "x_mu",
        "y_mu",
        "slope_mu",
        "intercept_mu",
        (
            F.col("y_mu")
            - (
                F.col("intercept_mu")
                + rounded_div_col(
                    F.col("slope_mu") * F.col("x_mu"),
                    F.lit(1_000_000).cast("long"),
                )
            )
        ).alias("resid_mu"),
    ).orderBy("rank")


# ---------------------------------------------------------------------------
# code-switch segmentation: windowed LID over token windows
# ---------------------------------------------------------------------------

_CS_WIN = 16
_CS_STRIDE = 8
_CS_EN = ("the", "and", "of", "that")
_CS_FR = ("le", "la", "les", "des")


def _cs_oracle() -> str:
    en_list = "[" + ", ".join(f"'{w}'" for w in _CS_EN) + "]"
    fr_list = "[" + ", ".join(f"'{w}'" for w in _CS_FR) + "]"
    return f"""
    WITH toked AS (
      SELECT doc_id,
             list_filter(string_split(trim(regexp_replace(lower(coalesce(text,'')),
                         '\\s+', ' ', 'g')), ' '), x -> x <> '') AS toks
      FROM documents
    ),
    mixed AS (
      SELECT doc_id,
             list_concat(
               list_concat(toks[1 : len(toks) // 2], {en_list}::VARCHAR[]),
               list_concat(toks[len(toks) // 2 + 1 : len(toks)],
                           {fr_list}::VARCHAR[])
             ) AS toks
      FROM toked
    ),
    wins AS (
      SELECT doc_id, i,
             toks[CAST(i * {_CS_STRIDE} + 1 AS INT)
                  : CAST(i * {_CS_STRIDE} + {_CS_WIN} AS INT)] AS w
      FROM mixed,
           unnest(range(greatest((len(toks) - {_CS_WIN})
                                 // {_CS_STRIDE} + 1, 1))) t(i)
    ),
    scored AS (
      SELECT doc_id, i,
             len(list_filter(w, x -> list_contains({en_list}, x))) AS eh,
             len(list_filter(w, x -> list_contains({fr_list}, x))) AS fh
      FROM wins
    ),
    pred AS (
      SELECT doc_id, i,
             CASE WHEN fh > eh THEN 'fr' ELSE 'en' END AS p
      FROM scored
    ),
    marked AS (
      SELECT doc_id, i, p,
             CASE WHEN i = 0 OR p <> lag(p)
                    OVER (PARTITION BY doc_id ORDER BY i)
                  THEN 1 ELSE 0 END AS is_new
      FROM pred
    )
    SELECT doc_id,
           CAST(count(*) AS BIGINT) AS n_windows,
           CAST(sum(is_new) AS BIGINT) AS n_segments,
           string_agg(CASE WHEN is_new = 1 THEN p END, '>' ORDER BY i)
             AS lang_seq,
           CAST(coalesce(min(CASE WHEN is_new = 1 AND i > 0 THEN i END), -1)
                AS BIGINT) AS boundary_win
    FROM marked GROUP BY doc_id ORDER BY doc_id
    """


@query(
    "code_switch_segmentation",
    oracle=_cs_oracle(),
    tags=("text-analysis", "langid", "segmentation"),
)
def code_switch_segmentation(spark: SparkSession, sf_dir: str):
    """Within-document language segmentation (the code-switch detector):
    sliding token windows (w={w}, stride={s}) scored by per-language
    marker hits, contiguous same-prediction runs merged into segments,
    first switch boundary reported. The graded corpus plants a 2-segment
    en->fr structure inside every doc (marker injection at the halves),
    so a correct segmenter reports exactly the planted boundary shape.
    One explode + one doc-keyed window — the per-window work is a narrow
    list filter, no UDF."""
    docs = table(spark, sf_dir, "documents", scatter=True)
    toks = F.filter(
        F.split(
            F.trim(
                F.regexp_replace(
                    F.lower(F.coalesce(F.col("text"), F.lit(""))), r"\s+", " "
                )
            ),
            " ",
        ),
        lambda x: x != "",
    )
    en_arr = F.array(*[F.lit(w) for w in _CS_EN])
    fr_arr = F.array(*[F.lit(w) for w in _CS_FR])
    mixed = docs.select("doc_id", toks.alias("_t")).select(
        "doc_id",
        F.concat(
            F.slice("_t", 1, F.floor(F.size("_t") / 2).cast("int")),
            en_arr,
            F.slice(
                "_t",
                F.floor(F.size("_t") / 2).cast("int") + F.lit(1),
                F.size("_t"),
            ),
            fr_arr,
        ).alias("toks"),
    )
    n_win = F.greatest(
        F.floor((F.size("toks") - _CS_WIN) / _CS_STRIDE).cast("int") + F.lit(1),
        F.lit(1),
    )
    wins = mixed.select(
        "doc_id",
        F.posexplode(
            F.transform(
                F.sequence(F.lit(0), n_win - 1),
                lambda i: F.slice(
                    F.col("toks"), i * _CS_STRIDE + 1, F.lit(_CS_WIN)
                ),
            )
        ).alias("i", "w"),
    )
    eh = F.size(F.filter(F.col("w"), lambda x: F.array_contains(en_arr, x)))
    fh = F.size(F.filter(F.col("w"), lambda x: F.array_contains(fr_arr, x)))
    pred = wins.select(
        "doc_id",
        "i",
        F.when(fh > eh, F.lit("fr")).otherwise(F.lit("en")).alias("p"),
    )
    wlag = Window.partitionBy("doc_id").orderBy("i")
    marked = pred.select(
        "doc_id",
        "i",
        "p",
        F.when(
            (F.col("i") == 0) | (F.col("p") != F.lag("p").over(wlag)), 1
        )
        .otherwise(0)
        .alias("is_new"),
    )
    seg = marked.groupBy("doc_id").agg(
        F.count(F.lit(1)).alias("n_windows"),
        F.sum("is_new").alias("n_segments"),
        F.array_join(
            F.transform(
                F.filter(
                    F.sort_array(
                        F.collect_list(F.struct("i", "is_new", "p"))
                    ),
                    lambda x: x["is_new"] == 1,
                ),
                lambda x: x["p"],
            ),
            ">",
        ).alias("lang_seq"),
        F.coalesce(
            F.min(
                F.when((F.col("is_new") == 1) & (F.col("i") > 0), F.col("i"))
            ),
            F.lit(-1),
        )
        .cast("long")
        .alias("boundary_win"),
    )
    return seg.select(
        "doc_id", "n_windows", "n_segments", "lang_seq", "boundary_win"
    ).orderBy("doc_id")


# ---------------------------------------------------------------------------
# quality-distribution drift (exact integer KS statistic)
# ---------------------------------------------------------------------------

_KS_BUCKET_MU = 50_000  # 20 quality buckets
_KS_FLAG_PPM = 50_000   # 5% KS -> drift


@query(
    "quality_drift_ks",
    oracle=f"""
    WITH {TEXT_BASE_SQL.strip()},
    scored AS (
      SELECT f.doc_id, d.n_chars,
             CAST(round(({_QUALITY_SCORE}) * 1000000) AS BIGINT)
               // {_KS_BUCKET_MU} AS bucket
      FROM feat f JOIN documents d USING (doc_id)
    ),
    a AS (SELECT bucket, count(*) AS c FROM scored WHERE doc_id % 2 = 0
          GROUP BY bucket),
    b AS (SELECT bucket, count(*) AS c FROM scored WHERE n_chars >= 300
          GROUP BY bucket),
    spine AS (
      SELECT bucket FROM a UNION SELECT bucket FROM b
    ),
    cums AS (
      SELECT s.bucket,
             CAST(sum(coalesce(a.c, 0)) OVER w AS BIGINT) AS ca,
             CAST(sum(coalesce(b.c, 0)) OVER w AS BIGINT) AS cb,
             CAST(sum(coalesce(a.c, 0)) OVER () AS BIGINT) AS na,
             CAST(sum(coalesce(b.c, 0)) OVER () AS BIGINT) AS nb
      FROM spine s
      LEFT JOIN a ON a.bucket = s.bucket
      LEFT JOIN b ON b.bucket = s.bucket
      WINDOW w AS (ORDER BY s.bucket
                   ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW)
    ),
    cdfs AS (
      SELECT bucket,
             CAST({rounded_div_sql('(ca * 1000000)', 'greatest(na, 1)')}
                  AS BIGINT) AS cdf_a_ppm,
             CAST({rounded_div_sql('(cb * 1000000)', 'greatest(nb, 1)')}
                  AS BIGINT) AS cdf_b_ppm
      FROM cums
    )
    SELECT bucket, cdf_a_ppm, cdf_b_ppm,
           abs(cdf_a_ppm - cdf_b_ppm) AS diff_ppm,
           CAST(max(abs(cdf_a_ppm - cdf_b_ppm)) OVER () AS BIGINT) AS ks_ppm,
           CAST(CASE WHEN max(abs(cdf_a_ppm - cdf_b_ppm)) OVER ()
                          > {_KS_FLAG_PPM}
                THEN 1 ELSE 0 END AS INT) AS drift_flag
    FROM cdfs ORDER BY bucket
    """,
    tags=("text-analysis", "governance", "drift"),
)
def quality_drift_ks(spark: SparkSession, sf_dir: str):
    """Dataset drift monitoring: the Kolmogorov-Smirnov statistic between
    two slices' quality distributions, in EXACT integer ppm — per-bucket
    histograms (20 keys, map-side combined), cumulative windows over the
    bucket spine, max |cdf_a - cdf_b|. The slices deliberately select by
    different mechanisms (even ids vs long docs) so the drift is real and
    the flag fires deterministically. This is the pre-training guardrail
    that catches a silently-shifted ingest batch before it trains."""
    from llm_data_pipeline_spark.functions.intmath import rounded_div_col

    docs = table(spark, sf_dir, "documents", scatter=True)
    scored = A.with_quality_score(docs).select(
        "doc_id",
        "n_chars",
        F.floor(
            F.round(F.col("quality_score") * 1_000_000, 0).cast("long")
            / _KS_BUCKET_MU
        )
        .cast("long")
        .alias("bucket"),
    )
    a = (
        scored.where(F.col("doc_id") % 2 == 0)
        .groupBy("bucket")
        .agg(F.count(F.lit(1)).alias("ca"))
    )
    b = (
        scored.where(F.col("n_chars") >= 300)
        .groupBy("bucket")
        .agg(F.count(F.lit(1)).alias("cb"))
    )
    spine = a.select("bucket").unionByName(b.select("bucket")).distinct()
    joined = (
        spine.join(a, "bucket", "left")
        .join(b, "bucket", "left")
        .select(
            "bucket",
            F.coalesce("ca", F.lit(0)).alias("ca"),
            F.coalesce("cb", F.lit(0)).alias("cb"),
        )
    )
    w = Window.orderBy("bucket").rowsBetween(
        Window.unboundedPreceding, Window.currentRow
    )
    wall = Window.rowsBetween(
        Window.unboundedPreceding, Window.unboundedFollowing
    )
    cums = joined.select(
        "bucket",
        F.sum("ca").over(w).alias("cum_a"),
        F.sum("cb").over(w).alias("cum_b"),
        F.sum("ca").over(wall).alias("na"),
        F.sum("cb").over(wall).alias("nb"),
    )
    one = F.lit(1).cast("long")
    cdfs = cums.select(
        "bucket",
        rounded_div_col(
            F.col("cum_a") * F.lit(1_000_000).cast("long"),
            F.greatest(F.col("na"), one),
        ).alias("cdf_a_ppm"),
        rounded_div_col(
            F.col("cum_b") * F.lit(1_000_000).cast("long"),
            F.greatest(F.col("nb"), one),
        ).alias("cdf_b_ppm"),
    )
    diff = F.abs(F.col("cdf_a_ppm") - F.col("cdf_b_ppm"))
    ks = F.max(diff).over(wall)
    return cdfs.select(
        "bucket",
        "cdf_a_ppm",
        "cdf_b_ppm",
        diff.alias("diff_ppm"),
        ks.alias("ks_ppm"),
        (ks > _KS_FLAG_PPM).cast("int").alias("drift_flag"),
    ).orderBy("bucket")


# ---------------------------------------------------------------------------
# per-language quality z-scores (two-pass exact integer moments)
# ---------------------------------------------------------------------------


@query(
    "quality_zscore_by_lang",
    oracle=f"""
    WITH {TEXT_BASE_SQL.strip()},
    scored AS (
      SELECT f.doc_id, d.lang,
             CAST(round(({_QUALITY_SCORE}) * 1000000) AS BIGINT) AS q_mu
      FROM feat f JOIN documents d USING (doc_id)
    ),
    m AS (
      SELECT lang, CAST(count(*) AS BIGINT) AS n,
             CAST({rounded_div_sql('CAST(sum(q_mu) AS BIGINT)', 'count(*)')}
                  AS BIGINT) AS mean_mu
      FROM scored GROUP BY lang
    ),
    v AS (
      SELECT s.lang,
             CAST({rounded_div_sql(
                 'CAST(sum((s.q_mu - m.mean_mu) * (s.q_mu - m.mean_mu)) AS BIGINT)',
                 'max(m.n)')} AS BIGINT) AS var_mu2
      FROM scored s JOIN m ON m.lang = s.lang GROUP BY s.lang
    ),
    p AS (
      SELECT m.lang, m.n, m.mean_mu,
             CAST(round(sqrt(v.var_mu2)) AS BIGINT) AS std_mu
      FROM m JOIN v ON v.lang = m.lang
    )
    SELECT s.doc_id, s.lang, s.q_mu, p.mean_mu, p.std_mu,
           CAST({rounded_div_sql('((s.q_mu - p.mean_mu) * 1000000)',
                                 'greatest(p.std_mu, 1)')} AS BIGINT) AS z_mu
    FROM scored s JOIN p ON p.lang = s.lang
    ORDER BY s.doc_id
    """,
    tags=("text-analysis", "quality", "calibration"),
)
def quality_zscore_by_lang(spark: SparkSession, sf_dir: str):
    """Per-language quality calibration: z-scores against each language's
    own mean/std so one global threshold stops privileging whichever
    language the raw score flatters — the standard fix before a
    cross-lingual quality cut. Two-pass exact integer moments (centered
    squares stay far inside int64; the one sqrt runs on an integer input,
    cross-engine stable) + a broadcast params join; z in micro-units."""
    from llm_data_pipeline_spark.functions.intmath import rounded_div_col

    docs = table(spark, sf_dir, "documents", scatter=True)
    scored = A.with_quality_score(docs).select(
        "doc_id",
        "lang",
        F.round(F.col("quality_score") * 1_000_000, 0)
        .cast("long")
        .alias("q_mu"),
    )
    m = scored.groupBy("lang").agg(
        F.count(F.lit(1)).alias("n"),
        rounded_div_col(F.sum("q_mu"), F.count(F.lit(1))).alias("mean_mu"),
    )
    v = (
        scored.join(F.broadcast(m), "lang")
        .groupBy("lang")
        .agg(
            rounded_div_col(
                F.sum(
                    (F.col("q_mu") - F.col("mean_mu"))
                    * (F.col("q_mu") - F.col("mean_mu"))
                ),
                F.max("n"),
            ).alias("var_mu2")
        )
    )
    p = m.join(v, "lang").select(
        "lang",
        "n",
        "mean_mu",
        F.round(F.sqrt(F.col("var_mu2").cast("double")), 0)
        .cast("long")
        .alias("std_mu"),
    )
    return (
        scored.join(F.broadcast(p), "lang")
        .select(
            "doc_id",
            "lang",
            "q_mu",
            "mean_mu",
            "std_mu",
            rounded_div_col(
                (F.col("q_mu") - F.col("mean_mu"))
                * F.lit(1_000_000).cast("long"),
                F.greatest(F.col("std_mu"), F.lit(1).cast("long")),
            ).alias("z_mu"),
        )
        .orderBy("doc_id")
    )


# ---------------------------------------------------------------------------
# round 6: taxonomy tagging + character-entropy gibberish detection
# ---------------------------------------------------------------------------

_TAXONOMY = {
    "relational": ["join", "scan", "filter", "sort", "merge", "group"],
    "execution": ["spark", "batch", "stream", "hash", "window", "vector"],
    "storage": ["table", "row", "column", "part", "key", "value"],
}


def _topic_hits_sql(topic: str) -> str:
    words = ", ".join(f"'{w}'" for w in _TAXONOMY[topic])
    return f"len(list_filter(toks, t -> list_contains([{words}], t)))"


@query(
    "keyword_taxonomy_tagging",
    oracle=f"""
    WITH toksrc AS (
      SELECT doc_id, {TOKS} AS toks FROM documents
    ),
    hits AS (
      SELECT doc_id,
             CAST({_topic_hits_sql('relational')} AS BIGINT) AS n_relational,
             CAST({_topic_hits_sql('execution')} AS BIGINT) AS n_execution,
             CAST({_topic_hits_sql('storage')} AS BIGINT) AS n_storage
      FROM toksrc
    )
    SELECT doc_id, n_relational, n_execution, n_storage,
           CASE WHEN n_relational = 0 AND n_execution = 0 AND n_storage = 0
                THEN 'none'
                WHEN n_execution > n_relational AND n_execution > n_storage
                THEN 'execution'
                WHEN n_relational >= n_execution AND n_relational > n_storage
                THEN 'relational'
                WHEN n_relational >= n_execution AND n_relational = n_storage
                THEN 'relational'
                ELSE 'storage' END AS top_topic
    FROM hits
    ORDER BY doc_id
    """,
    tags=("text", "taxonomy", "governance"),
)
def keyword_taxonomy_tagging(spark: SparkSession, sf_dir: str):
    """Keyword-taxonomy topic tagging — the domain-mix classifier every
    pre-training curation run carries (FlashText-style dictionary match,
    here a broadcast literal list per topic): per doc, occurrence counts
    against three topic lexicons and the argmax topic with a fixed
    alphabetical tie order (relational >= execution > storage resolves
    ties deterministically; all-zero -> 'none'). The whole operator is a
    narrow map (higher-order filter per topic) — zero shuffles before
    the presentation sort; lexicons ride the plan as literals. Oracle
    replays tokenization, the three lexicon counts, and the tie cascade."""
    docs = table(spark, sf_dir, "documents", scatter=True)
    toks = F.filter(F.split(T.norm_ws(F.col("text")), " "), lambda x: x != "")

    def hits(topic: str):
        ws = _TAXONOMY[topic]
        return F.size(F.filter(toks, lambda t: t.isin(*ws))).cast("long")

    hit = docs.select(
        "doc_id",
        hits("relational").alias("n_relational"),
        hits("execution").alias("n_execution"),
        hits("storage").alias("n_storage"),
    )
    top = (
        F.when(
            (F.col("n_relational") == 0)
            & (F.col("n_execution") == 0)
            & (F.col("n_storage") == 0),
            F.lit("none"),
        )
        .when(
            (F.col("n_execution") > F.col("n_relational"))
            & (F.col("n_execution") > F.col("n_storage")),
            F.lit("execution"),
        )
        .when(
            (F.col("n_relational") >= F.col("n_execution"))
            & (F.col("n_relational") >= F.col("n_storage")),
            F.lit("relational"),
        )
        .otherwise(F.lit("storage"))
    )
    return hit.withColumn("top_topic", top).orderBy("doc_id")


_ENT_MAXCHARS = 400
_ENT_LOW_MICRO = 1_500_000  # ~1.5 nats: below = repetitive/gibberish
_ENT_REP_N = 5
_ENT_REP_OFFSET = 900_000


@query(
    "char_entropy_gibberish",
    oracle=f"""
    WITH planted AS (
      SELECT doc_id, text FROM documents
      UNION ALL
      SELECT {_ENT_REP_OFFSET} + i AS doc_id, repeat('ha', 100) AS text
      FROM range({_ENT_REP_N}) t(i)
    ),
    base AS (
      SELECT doc_id,
             substr(trim(regexp_replace(lower(coalesce(text,'')),
                         '\\s+', ' ', 'g')), 1, {_ENT_MAXCHARS}) AS t
      FROM planted
    ),
    chars AS (
      SELECT doc_id, unnest(string_split(t, '')) AS ch
      FROM base WHERE length(t) > 0
    ),
    counts AS (
      SELECT doc_id, ch, count(*) AS c FROM chars GROUP BY doc_id, ch
    ),
    tot AS (SELECT doc_id, sum(c) AS n, count(*) AS n_distinct
            FROM counts GROUP BY doc_id),
    terms AS (
      SELECT c.doc_id,
             CAST(round(1000000.0 * (c.c / t.n) * ln(t.n / c.c))
                  AS BIGINT) AS term
      FROM counts c JOIN tot t USING (doc_id)
    )
    SELECT t.doc_id, CAST(t.n AS BIGINT) AS n_chars_used,
           CAST(t.n_distinct AS BIGINT) AS n_distinct_chars,
           CAST(sum(term) AS BIGINT) AS entropy_micro_nats,
           sum(term) < {_ENT_LOW_MICRO} AS is_repetitive
    FROM terms JOIN tot t USING (doc_id)
    GROUP BY t.doc_id, t.n, t.n_distinct
    ORDER BY t.doc_id
    """,
    tags=("text", "quality", "entropy"),
)
def char_entropy_gibberish(spark: SparkSession, sf_dir: str):
    """Character-entropy gibberish detection — the cheap quality signal
    that catches repetitive spam (keyboard mashing, repeated-token pages)
    language-ID and stopword ratios miss. Shannon entropy over the first
    {_ENT_MAXCHARS} normalized chars in INTEGER MICRO-NATS: each char's
    term round(1e6 * (c/n) * ln(n/c)) is quantized BEFORE the sum, so the
    total is an exact BIGINT in both engines (int/int division and ln of
    identical doubles are cross-engine safe; double SUM order is not —
    the repo's standard determinism contract). The fixture plants
    {_ENT_REP_N} 'hahaha...' docs that must flag is_repetitive (entropy
    ~0.69 nats < the {_ENT_LOW_MICRO} micro-nat threshold). Shape: one
    explode + two aggregates, bounded by {_ENT_MAXCHARS} chars/doc."""
    docs = table(spark, sf_dir, "documents", scatter=True).select(
        "doc_id", "text"
    )
    planted = spark.range(_ENT_REP_N).select(
        (F.col("id") + _ENT_REP_OFFSET).alias("doc_id"),
        F.lit("ha" * 100).alias("text"),
    )
    base = docs.unionByName(planted).select(
        "doc_id",
        F.substring(T.norm_ws(F.col("text")), 1, _ENT_MAXCHARS).alias("t"),
    ).where(F.length("t") > 0)
    chars = base.select("doc_id", F.explode(F.split("t", "")).alias("ch"))
    counts = chars.groupBy("doc_id", "ch").agg(F.count("*").alias("c"))
    tot = counts.groupBy("doc_id").agg(
        F.sum("c").alias("n"), F.count("*").alias("n_distinct")
    )
    terms = counts.join(tot, "doc_id").select(
        "doc_id",
        F.round(
            F.lit(1_000_000.0)
            * (F.col("c") / F.col("n"))
            * F.log(F.col("n") / F.col("c")),
            0,
        )
        .cast("long")
        .alias("term"),
    )
    return (
        terms.groupBy("doc_id")
        .agg(F.sum("term").cast("long").alias("entropy_micro_nats"))
        .join(tot, "doc_id")
        .select(
            "doc_id",
            F.col("n").cast("long").alias("n_chars_used"),
            F.col("n_distinct").cast("long").alias("n_distinct_chars"),
            "entropy_micro_nats",
            (F.col("entropy_micro_nats") < _ENT_LOW_MICRO).alias(
                "is_repetitive"
            ),
        )
        .orderBy("doc_id")
    )


_WCP_CAP = 20      # fingerprints in more docs than this are stop-fps
_WCP_MIN_SHARED = 5
_WCP_BASE_OFF = 700_000
_WCP_VAR_OFF = 710_000
_WCP_NPAIRS = 10


def _wcp_planted_sql() -> str:
    """10 planted near-dup pairs over PRIVATE per-pair vocabularies
    ('pv{i}_{j%7}' words): the synthetic corpus is a word salad over one
    tiny vocabulary, so its 8-char grams are corpus-wide boilerplate that
    the stop-fp cap removes — only genuinely rare shared fingerprints
    (the planted pairs') survive, which is exactly the operator's
    discrimination claim."""
    word = "'pv' || i::VARCHAR || '_' || (j % 7)::VARCHAR"
    return f"""
    planted AS (
      SELECT {_WCP_BASE_OFF} + i AS doc_id,
             array_to_string(list_transform(range(30),
                 j -> {word}), ' ') AS text
      FROM range({_WCP_NPAIRS}) t(i)
      UNION ALL
      SELECT {_WCP_VAR_OFF} + i AS doc_id,
             array_to_string(list_transform(range(30),
                 j -> CASE WHEN j = 15 THEN 'pvx' ELSE {word} END), ' ')
               AS text
      FROM range({_WCP_NPAIRS}) t(i)
    ),
    allw AS (
      SELECT doc_id, text FROM documents
      UNION ALL SELECT doc_id, text FROM planted
    )"""


@query(
    "winnow_candidate_pairs",
    oracle=f"""
WITH {_wcp_planted_sql().strip()},
codes AS (
  SELECT doc_id,
         list_transform(list_filter(string_split_regex(coalesce(text, ''), ''),
                                    c -> c <> ''),
                        c -> unicode(c)) AS cs
  FROM allw
), hashed AS (
  SELECT doc_id, CASE
    WHEN len(cs) = 0 THEN CAST([] AS BIGINT[])
    WHEN len(cs) < 8 THEN [list_reduce(list_prepend(CAST(0 AS BIGINT), cs),
                                       (a, b) -> (a * {A.WINNOW_BASE} + b) % {A.WINNOW_MOD})]
    ELSE list_transform(range(len(cs) - 7),
           i -> list_reduce(list_prepend(CAST(0 AS BIGINT), list_slice(cs, i + 1, i + 8)),
                            (a, b) -> (a * {A.WINNOW_BASE} + b) % {A.WINNOW_MOD}))
  END AS hs FROM codes
), minima AS (
  SELECT doc_id, CASE
    WHEN len(hs) = 0 THEN CAST([] AS BIGINT[])
    WHEN len(hs) <= 4 THEN [list_min(hs)]
    ELSE list_transform(range(len(hs) - 3), i -> list_min(list_slice(hs, i + 1, i + 4)))
  END AS ms FROM hashed
), fps AS (
  SELECT doc_id, unnest(list_distinct(ms)) AS fp FROM minima
), rare AS (
  SELECT fp FROM fps GROUP BY fp
  HAVING count(*) BETWEEN 2 AND {_WCP_CAP}
), ff AS (
  SELECT f.doc_id, f.fp FROM fps f SEMI JOIN rare r ON f.fp = r.fp
)
SELECT a.doc_id AS u, b.doc_id AS v,
       CAST(count(*) AS BIGINT) AS n_shared_fp
FROM ff a JOIN ff b ON a.fp = b.fp AND a.doc_id < b.doc_id
GROUP BY a.doc_id, b.doc_id
HAVING count(*) >= {_WCP_MIN_SHARED}
ORDER BY u, v
""",
    tags=("text-analysis", "fingerprint", "dedup"),
)
def winnow_candidate_pairs(spark: SparkSession, sf_dir: str):
    """Fingerprint-index near-dup candidates — the winnowing scheme used
    the way MOSS uses it: docs sharing >= {_WCP_MIN_SHARED} RARE
    fingerprints (fingerprints present in more than {_WCP_CAP} docs are
    stop-fps — corpus boilerplate with no discrimination, dropped by the
    same count-prefilter-then-join shape as the LSH bucket cap, and the
    cap is observable via lsh_band_stats' twin accounting here being the
    rare-CTE bound). The fixture plants {_WCP_NPAIRS} pairs over private
    vocabularies (one word edited) that must surface with high shared
    counts while the word-salad corpus's universal grams cap away. A
    third candidate mechanism beside shingle-Jaccard and MinHash bands —
    robust to local edits by the winnowing guarantee."""
    docs = table(spark, sf_dir, "documents", scatter=True).select(
        "doc_id", "text"
    )
    idx = spark.range(_WCP_NPAIRS).select(F.col("id").alias("i"))

    def word(j):
        return F.concat(
            F.lit("pv"),
            F.col("i").cast("string"),
            F.lit("_"),
            (j % 7).cast("string"),
        )

    base = idx.select(
        (F.col("i") + _WCP_BASE_OFF).alias("doc_id"),
        F.concat_ws(
            " ",
            F.transform(F.sequence(F.lit(0), F.lit(29)), lambda j: word(j)),
        ).alias("text"),
    )
    var = idx.select(
        (F.col("i") + _WCP_VAR_OFF).alias("doc_id"),
        F.concat_ws(
            " ",
            F.transform(
                F.sequence(F.lit(0), F.lit(29)),
                lambda j: F.when(j == 15, F.lit("pvx")).otherwise(word(j)),
            ),
        ).alias("text"),
    )
    allw = docs.unionByName(base).unionByName(var)
    fp = A.add_winnow_fingerprints(allw, k=8, w=4)
    fps = fp.select(
        "doc_id", F.explode(F.array_distinct("fingerprints")).alias("fp")
    ).transform(cut_lineage, eager=False)
    rare = (
        fps.groupBy("fp")
        .agg(F.count("*").alias("nd"))
        .where((F.col("nd") >= 2) & (F.col("nd") <= _WCP_CAP))
        .select("fp")
    )
    ff = fps.join(rare, "fp", "left_semi")
    a = ff.select(F.col("fp"), F.col("doc_id").alias("u"))
    b = ff.select(F.col("fp"), F.col("doc_id").alias("v"))
    return (
        a.join(b, "fp")
        .where(F.col("u") < F.col("v"))
        .groupBy("u", "v")
        .agg(F.count("*").cast("long").alias("n_shared_fp"))
        .where(F.col("n_shared_fp") >= _WCP_MIN_SHARED)
        .coalesce(1)
        .sortWithinPartitions("u", "v")
    )
