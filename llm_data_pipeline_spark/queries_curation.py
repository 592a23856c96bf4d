"""Corpus-curation graded queries: decontamination, splitting, mixing.

All three run the production operators (operators/curation.py) and are
fully DuckDB-oracle-checked — shingles, salted hashes, window cumsums and
all — via the portable md5 hash family (functions/hashing.py).
"""

from __future__ import annotations

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F

from llm_data_pipeline_spark.functions.hashing import DUCKDB_HASH60
from llm_data_pipeline_spark.functions.intmath import rounded_div_col, rounded_div_sql
from llm_data_pipeline_spark.operators.curation import (
    decontaminate,
    mix_corpus,
    split_dataset,
)
from llm_data_pipeline_spark.queries import query, table
from llm_data_pipeline_spark.queries_dedup import AUG_SQL, _augmented
from llm_data_pipeline_spark.queries_text import TEXT_BASE_SQL as _TEXT_BASE_SQL
from llm_data_pipeline_spark.queries_text import _QUALITY_SCORE as _QSCORE
from pyspark.sql.window import Window
from llm_data_pipeline_spark.functions.checkpoint import cut_lineage

# n-gram shingles of length N over norm_ws-normalized text, as SQL.
_DECON_N = 5

_SHINGLE5_SQL = """
{name} AS (
  SELECT doc_id, unnest(shingles) AS shingle
  FROM (
    SELECT doc_id,
           CASE WHEN len(toks) < {n} THEN [array_to_string(toks, ' ')]
                ELSE list_distinct(list_transform(range(len(toks)-{n_1}),
                         i -> array_to_string(list_slice(toks, i+1, i+{n}), ' ')))
           END AS shingles
    FROM (
      SELECT doc_id,
             list_filter(string_split(trim(regexp_replace(lower(coalesce(text,'')),
                         '\\s+', ' ', 'g')), ' '), x -> x <> '') AS toks
      FROM {src}
    )
  )
)
"""


def _shingle_cte(name: str, src: str, n: int = _DECON_N) -> str:
    return _SHINGLE5_SQL.format(name=name, src=src, n=n, n_1=n - 1).strip()


@query(
    "decontaminate_vs_benchmark",
    oracle=f"""
    WITH {AUG_SQL.strip()},
    {_shingle_cte("doc_sh", "aug")},
    {_shingle_cte("bench_sh", "(SELECT doc_id, text FROM documents WHERE doc_id < 50)")},
    bench AS (SELECT DISTINCT shingle FROM bench_sh),
    per_doc AS (
      SELECT d.doc_id,
             count(*) AS n_shingles,
             sum(CASE WHEN b.shingle IS NOT NULL THEN 1 ELSE 0 END)
               AS n_contaminated
      FROM doc_sh d LEFT JOIN bench b ON b.shingle = d.shingle
      GROUP BY d.doc_id
    )
    SELECT a.doc_id,
           CAST(coalesce(p.n_shingles, 0) AS BIGINT) AS n_shingles,
           CAST(coalesce(p.n_contaminated, 0) AS BIGINT) AS n_contaminated,
           round(CASE WHEN coalesce(p.n_shingles, 0) > 0
                      THEN p.n_contaminated / p.n_shingles
                      ELSE 0.0 END, 6) AS contamination,
           (CASE WHEN coalesce(p.n_shingles, 0) > 0
                 THEN p.n_contaminated / p.n_shingles
                 ELSE 0.0 END) >= 0.2 AS contaminated
    FROM aug a LEFT JOIN per_doc p ON p.doc_id = a.doc_id
    ORDER BY a.doc_id
    """,
    tags=("curation", "decontamination"),
)
def decontaminate_vs_benchmark(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Benchmark decontamination: the corpus is the augmented doc set
    (originals + 50 near-dup variants), the 'benchmark' is docs 0..49.
    Originals 0..49 must flag as fully contaminated (they ARE the eval
    set), their variants as partially contaminated (shared 5-gram suffix),
    everything else clean — the exact leak-detection contract."""
    aug = _augmented(spark, sf_dir, scatter=True)
    bench = table(spark, sf_dir, "documents").where(F.col("doc_id") < 50).select(
        "doc_id", "text"
    )
    out = decontaminate(aug, bench, n=_DECON_N, threshold=0.2)
    return out.select(
        "doc_id",
        F.col("n_shingles").cast("long").alias("n_shingles"),
        F.col("n_contaminated").cast("long").alias("n_contaminated"),
        "contamination",
        "contaminated",
    ).orderBy("doc_id")


_SPLIT_BUCKET_SQL = DUCKDB_HASH60.format(
    s="(doc_id::VARCHAR || ':split-v1')"
) + " % 1000"


@query(
    "dataset_split_distribution",
    oracle=f"""
    WITH labeled AS (
      SELECT lang, n_chars,
             CASE WHEN {_SPLIT_BUCKET_SQL} < 900 THEN 'train'
                  WHEN {_SPLIT_BUCKET_SQL} < 950 THEN 'val'
                  ELSE 'test' END AS split
      FROM documents
    )
    SELECT split, lang,
           CAST(count(*) AS BIGINT) AS n_docs,
           CAST(sum(n_chars) AS BIGINT) AS total_chars
    FROM labeled GROUP BY split, lang ORDER BY split, lang
    """,
    tags=("curation", "split"),
)
def dataset_split_distribution(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Deterministic hash-bucket train/val/test split (stable under corpus
    growth, unlike randomSplit), summarized per (split, lang)."""
    docs = table(spark, sf_dir, "documents")
    out = split_dataset(docs, {"train": 0.9, "val": 0.05, "test": 0.05})
    return (
        out.groupBy("split", "lang")
        .agg(
            F.count("*").alias("n_docs"),
            F.sum("n_chars").alias("total_chars"),
        )
        .orderBy("split", "lang")
    )


_MIX_BUDGET = 20_000
_MIX_HASH_SQL = DUCKDB_HASH60.format(s="(doc_id::VARCHAR || ':mix-v1')")


@query(
    "corpus_mix_budget",
    oracle=f"""
    WITH tagged AS (
      SELECT source, doc_id,
             len(list_filter(string_split_regex(coalesce(text,''), '\\s+'),
                 x -> x <> '')) AS n_tokens,
             {_MIX_HASH_SQL} AS h
      FROM documents
    ),
    runs AS (
      SELECT source, doc_id, n_tokens,
             coalesce(sum(n_tokens) OVER (PARTITION BY source
                      ORDER BY h, doc_id
                      ROWS BETWEEN UNBOUNDED PRECEDING AND 1 PRECEDING), 0)
               AS run
      FROM tagged
    ),
    kept AS (
      SELECT * FROM runs
      WHERE run < ({_MIX_BUDGET} // (SELECT count(DISTINCT source) FROM documents))
    )
    SELECT source,
           CAST(count(*) AS BIGINT) AS n_docs,
           CAST(sum(n_tokens) AS BIGINT) AS tokens_kept
    FROM kept GROUP BY source ORDER BY source
    """,
    tags=("curation", "mixing", "sampling"),
)
def corpus_mix_budget(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Token-budget corpus mixing: every source contributes an equal token
    share, selected by a salted-hash reproducible shuffle with an exclusive
    running-total cutoff."""
    docs = table(spark, sf_dir, "documents")
    kept = mix_corpus(docs, token_budget=_MIX_BUDGET)
    return (
        kept.groupBy("source")
        .agg(
            F.count("*").alias("n_docs"),
            F.sum("n_tokens").alias("tokens_kept"),
        )
        .orderBy("source")
    )


# per-language sampling rates out of 10000 hash buckets; chosen to differ
# per stratum so the query exercises the map lookup, not one global rate
_STRATA_BP = {"en": 2500, "zh": 5000, "fr": 7500, "es": 5000, "de": 10000}
_STRATA_SALT = "strata42:"


@query(
    "stratified_sample_by_lang",
    oracle=f"""
    WITH tagged AS (
      SELECT lang,
             ('0x' || substr(md5('{_STRATA_SALT}' || doc_id::VARCHAR), 1, 8))::BIGINT
               % 10000 AS bucket
      FROM documents
    ),
    rated AS (
      SELECT lang, bucket,
             CASE {' '.join(f"WHEN lang = '{k}' THEN {v}" for k, v in _STRATA_BP.items())}
                  ELSE 0 END AS rate_bp
      FROM tagged
    )
    SELECT lang,
           CAST(count(*) AS BIGINT) AS n_total,
           CAST(sum(CASE WHEN bucket < rate_bp THEN 1 ELSE 0 END) AS BIGINT)
             AS n_sampled
    FROM rated GROUP BY lang ORDER BY lang
    """,
    tags=("curation", "sampling"),
)
def stratified_sample_by_lang(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Deterministic per-stratum downsampling: a salted md5 bucket per doc
    (stable under corpus growth — a doc's keep decision never changes as
    data arrives, unlike sample()/randomSplit) compared against a
    per-language rate. The hash is engine-portable, so the oracle replays
    membership exactly; zero shuffles beyond the final tiny aggregate."""
    docs = table(spark, sf_dir, "documents")
    bucket = (
        F.conv(
            F.substring(
                F.md5(F.concat(F.lit(_STRATA_SALT), F.col("doc_id").cast("string"))),
                1,
                8,
            ),
            16,
            10,
        ).cast("long")
        % 10000
    )
    rate = None
    for k, v in _STRATA_BP.items():
        cond = F.when(F.col("lang") == k, F.lit(v))
        rate = cond if rate is None else rate.when(F.col("lang") == k, F.lit(v))
    rate = rate.otherwise(F.lit(0))
    return (
        docs.select("lang", bucket.alias("bucket"), rate.alias("rate_bp"))
        .groupBy("lang")
        .agg(
            F.count(F.lit(1)).alias("n_total"),
            F.sum((F.col("bucket") < F.col("rate_bp")).cast("int"))
            .cast("long")
            .alias("n_sampled"),
        )
        .orderBy("lang")
    )


_DSIR_BUCKETS = 10_000
_DSIR_K = 100
_DSIR_TARGET_SOURCES = ("src0", "src1")
_DSIR_HASH_SQL = DUCKDB_HASH60.format(s="('dsir-v1:' || feat)")
_DSIR_TGT_PRED = " OR ".join(
    f"source = '{s}'" for s in _DSIR_TARGET_SOURCES
)


@query(
    "dsir_importance_selection",
    oracle=f"""
    WITH toked AS (
      SELECT doc_id,
             list_filter(string_split(trim(regexp_replace(lower(coalesce(text,'')),
                         '\\s+', ' ', 'g')), ' '), x -> x <> '') AS toks
      FROM documents
    ),
    feats AS (
      SELECT doc_id,
             unnest(list_concat(
               toks,
               list_transform(range(greatest(len(toks) - 1, 0)),
                              i -> toks[i+1] || ' ' || toks[i+2])
             )) AS feat
      FROM toked
    ),
    dc AS (
      SELECT doc_id, {_DSIR_HASH_SQL} % {_DSIR_BUCKETS} AS bucket,
             count(*) AS c
      FROM feats GROUP BY 1, 2
    ),
    raw AS (SELECT bucket, CAST(sum(c) AS BIGINT) AS cr FROM dc GROUP BY 1),
    tgt AS (
      SELECT bucket, CAST(sum(c) AS BIGINT) AS ct
      FROM dc JOIN documents USING (doc_id)
      WHERE {_DSIR_TGT_PRED}
      GROUP BY 1
    ),
    tot AS (
      SELECT (SELECT CAST(sum(cr) AS BIGINT) FROM raw) AS tr,
             (SELECT CAST(coalesce(sum(ct), 0) AS BIGINT) FROM tgt) AS tt
    ),
    lr AS (
      SELECT r.bucket,
             CAST(round(ln(
                 ((coalesce(t.ct, 0) + 1)::DOUBLE * (o.tr + {_DSIR_BUCKETS})::DOUBLE)
               / ((r.cr + 1)::DOUBLE * (o.tt + {_DSIR_BUCKETS})::DOUBLE)
             ) * 1000000) AS BIGINT) AS lr_micro
      FROM raw r LEFT JOIN tgt t USING (bucket), tot o
    ),
    sc AS (
      SELECT dc.doc_id,
             CAST(sum(dc.c * lr.lr_micro) AS BIGINT) AS s_micro,
             CAST(sum(dc.c) AS BIGINT) AS n_feats
      FROM dc JOIN lr USING (bucket) GROUP BY 1
    )
    SELECT d.doc_id, d.source,
           CAST(coalesce(sc.n_feats, 0) AS BIGINT) AS n_feats,
           round(coalesce(sc.s_micro, 0) / 1000000.0, 6) AS score
    FROM documents d LEFT JOIN sc ON sc.doc_id = d.doc_id
    ORDER BY coalesce(sc.s_micro, 0) DESC, d.doc_id
    LIMIT {_DSIR_K}
    """,
    tags=("curation", "selection", "dsir"),
)
def dsir_importance_selection(spark: SparkSession, sf_dir: str) -> DataFrame:
    """DSIR data selection (operators/dsir.py — Xie et al. 2023): weight
    every document by the log ratio of two hashed unigram+bigram models
    (target = sources src0/src1 vs the raw corpus), keep the top 100.
    The synthetic corpus draws every source from ONE vocabulary, so no
    lift is expected here — this query grades the weight math end to end
    (model fit = two 10k-bucket groupBys, scoring = a broadcast join,
    DuckDB-replayed via the portable hash + micro-unit quantization);
    the ranking-lift contract itself is pinned where a distinct target
    vocabulary exists: tests/test_curation.py::
    test_dsir_ranks_target_like_docs_first."""
    from llm_data_pipeline_spark.operators.dsir import dsir_select

    docs = table(spark, sf_dir, "documents")
    target = docs.where(F.col("source").isin(*_DSIR_TARGET_SOURCES)).select(
        "doc_id", "text"
    )
    return dsir_select(docs, target, k=_DSIR_K).select(
        "doc_id",
        "source",
        F.col("n_feats").cast("long").alias("n_feats"),
        F.round(F.col("score_micro") / 1e6, 6).alias("score"),
    )


_MIXT_HASH_SQL = DUCKDB_HASH60.format(s="(d.doc_id::VARCHAR || ':mix-t-v1')")


@query(
    "temperature_mixture_sample",
    oracle=f"""
    WITH d AS (SELECT doc_id, source, n_chars FROM documents),
    cs AS (SELECT source, CAST(sum(n_chars) AS BIGINT) AS chars
           FROM d GROUP BY 1),
    sq AS (SELECT source, chars,
                  CAST(round(sqrt(chars) * 1000000) AS BIGINT) AS sqm
           FROM cs),
    tot AS (SELECT CAST(sum(sqm) AS BIGINT) AS sqtot,
                   CAST(sum(chars) AS BIGINT) AS ctot
            FROM sq),
    probs AS (
      SELECT s.source,
             least(1.0, 0.5 * (s.sqm / CAST(t.sqtot AS DOUBLE))
                        * t.ctot / s.chars) AS p
      FROM sq s, tot t
    )
    SELECT d.doc_id, d.source, d.n_chars
    FROM d JOIN probs USING (source)
    WHERE {_MIXT_HASH_SQL} / 1152921504606846976.0 < p
    ORDER BY d.doc_id
    """,
    tags=("curation", "mixing", "sampling"),
)
def temperature_mixture_sample(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Alpha-temperature corpus mixing with weights DERIVED from the
    corpus (operators/curation.py:temperature_mixture, alpha=0.5 — the
    XLM/mBERT rare-source upsampling recipe): per-source char masses ->
    sqrt-flattened target shares (integer micro-unit quantized) -> a
    per-source Bernoulli keep probability realized by the salted
    portable-hash uniform. The oracle replays weight derivation and the
    per-doc keep decision exactly."""
    from llm_data_pipeline_spark.operators.curation import temperature_mixture

    docs = table(spark, sf_dir, "documents")
    return (
        temperature_mixture(docs, budget_frac=0.5, alpha=0.5)
        .select("doc_id", "source", "n_chars")
        .orderBy("doc_id")
    )


# ---------------------------------------------------------------------------
# k-anonymous metadata release (governance)
# ---------------------------------------------------------------------------

_KANON_K = 5


@query(
    "k_anonymity_release",
    oracle=f"""
    WITH g0 AS (
      SELECT lang, source, n_chars // 100 AS len_bucket,
             CAST(count(*) AS BIGINT) AS n
      FROM documents GROUP BY 1, 2, 3
    ),
    ok0 AS (SELECT lang, source, len_bucket, n, 0 AS level
            FROM g0 WHERE n >= {_KANON_K}),
    fail0 AS (SELECT * FROM g0 WHERE n < {_KANON_K}),
    g1 AS (
      SELECT lang, '*' AS source, len_bucket, CAST(sum(n) AS BIGINT) AS n
      FROM fail0 GROUP BY lang, len_bucket
    ),
    ok1 AS (SELECT lang, source, len_bucket, n, 1 AS level
            FROM g1 WHERE n >= {_KANON_K}),
    fail1 AS (SELECT * FROM g1 WHERE n < {_KANON_K}),
    g2 AS (
      SELECT '*' AS lang, '*' AS source, -1 AS len_bucket,
             CAST(sum(n) AS BIGINT) AS n, 2 AS level
      FROM fail1 HAVING sum(n) IS NOT NULL
    )
    SELECT lang, source, CAST(len_bucket AS BIGINT) AS len_bucket, n,
           CAST(level AS INT) AS level
    FROM (SELECT * FROM ok0 UNION ALL SELECT * FROM ok1
          UNION ALL SELECT * FROM g2)
    ORDER BY level, lang, source, len_bucket
    """,
    tags=("curation", "governance", "privacy"),
)
def k_anonymity_release(spark: SparkSession, sf_dir: str) -> DataFrame:
    """k-anonymous corpus-metadata release (k=5) over the quasi-identifier
    key (lang, source, 100-char length bucket) with a 2-step
    generalization ladder: failing groups generalize source to '*', then
    everything to the catch-all (operators/curation.py:k_anonymize).
    Every level-0/1 row is guaranteed >= k; each ladder step re-shuffles
    only the failing slice, bounded by the quasi-identifier domain."""
    from llm_data_pipeline_spark.operators.curation import k_anonymize

    docs = table(spark, sf_dir, "documents").select(
        "lang", "source", F.expr("n_chars div 100").alias("len_bucket")
    )
    out = k_anonymize(
        docs, quasi_cols=("lang", "source", "len_bucket"), k=_KANON_K
    )
    return out.select(
        "lang",
        "source",
        F.col("len_bucket").cast("long").alias("len_bucket"),
        F.col("n").cast("long").alias("n"),
        F.col("level").cast("int").alias("level"),
    ).orderBy("level", "lang", "source", "len_bucket")


# ---------------------------------------------------------------------------
# preference-pair construction (DPO/RM training data)
# ---------------------------------------------------------------------------

_PP_P = 5  # pairs per source group


@query(
    "preference_pair_construction",
    oracle=f"""
    WITH {_TEXT_BASE_SQL.strip()},
    scored AS (
      SELECT f.doc_id, d.source,
             CAST(round(({_QSCORE}) * 1000000) AS BIGINT) AS q_mu
      FROM feat f JOIN documents d USING (doc_id)
    ),
    ranked AS (
      SELECT *,
             row_number() OVER (PARTITION BY source
                                ORDER BY q_mu DESC, doc_id) AS r_top,
             row_number() OVER (PARTITION BY source
                                ORDER BY q_mu ASC, doc_id) AS r_bot
      FROM scored
    )
    SELECT t.source, CAST(t.r_top AS INT) AS pair_rank,
           t.doc_id AS chosen_doc_id, b.doc_id AS rejected_doc_id,
           t.q_mu AS chosen_q_mu, b.q_mu AS rejected_q_mu,
           t.q_mu - b.q_mu AS margin_mu
    FROM ranked t JOIN ranked b
      ON b.source = t.source AND b.r_bot = t.r_top
    WHERE t.r_top <= {_PP_P} AND t.doc_id <> b.doc_id
      AND t.q_mu > b.q_mu
    ORDER BY t.source, pair_rank
    """,
    tags=("curation", "preference", "training"),
)
def preference_pair_construction(spark: SparkSession, sf_dir: str) -> DataFrame:
    """DPO/reward-model pair construction: within each source group, pair
    the i-th BEST document (by quality score) with the i-th WORST
    (i <= {p}), guarding degenerate pairs (same doc, zero margin). Two
    rank windows over the same group-keyed exchange; the pair join carries
    only ids and scores. Margins in integer micro-units."""
    from llm_data_pipeline_spark.functions import analysis as A

    docs = table(spark, sf_dir, "documents", scatter=True)
    scored = A.with_quality_score(docs).select(
        "doc_id",
        "source",
        F.round(F.col("quality_score") * 1_000_000, 0)
        .cast("long")
        .alias("q_mu"),
    )
    wt = Window.partitionBy("source").orderBy(F.desc("q_mu"), F.asc("doc_id"))
    wb = Window.partitionBy("source").orderBy(F.asc("q_mu"), F.asc("doc_id"))
    ranked = scored.select(
        "*",
        F.row_number().over(wt).alias("r_top"),
        F.row_number().over(wb).alias("r_bot"),
    )
    t = ranked.select(
        "source",
        F.col("r_top").alias("pair_rank"),
        F.col("doc_id").alias("chosen_doc_id"),
        F.col("q_mu").alias("chosen_q_mu"),
    ).where(F.col("pair_rank") <= _PP_P)
    b = ranked.select(
        "source",
        F.col("r_bot").alias("pair_rank"),
        F.col("doc_id").alias("rejected_doc_id"),
        F.col("q_mu").alias("rejected_q_mu"),
    )
    return (
        t.join(b, ["source", "pair_rank"])
        .where(
            (F.col("chosen_doc_id") != F.col("rejected_doc_id"))
            & (F.col("chosen_q_mu") > F.col("rejected_q_mu"))
        )
        .select(
            "source",
            F.col("pair_rank").cast("int").alias("pair_rank"),
            "chosen_doc_id",
            "rejected_doc_id",
            "chosen_q_mu",
            "rejected_q_mu",
            (F.col("chosen_q_mu") - F.col("rejected_q_mu")).alias("margin_mu"),
        )
        .orderBy("source", "pair_rank")
    )


# ---------------------------------------------------------------------------
# chat-template rendering with loss-mask offsets (SFT data construction)
# ---------------------------------------------------------------------------

_CT_PRE = "<|system|>\\nYou are helpful.\\n<|user|>\\n"
_CT_MID = "\\n<|assistant|>\\n"
_CT_END = "<|end|>"


@query(
    "chat_template_render",
    oracle=f"""
    WITH ranked AS (
      SELECT doc_id, source, coalesce(text, '') AS text,
             row_number() OVER (PARTITION BY source ORDER BY doc_id) AS rn
      FROM documents
    ),
    conv AS (
      SELECT u.source, CAST((u.rn + 1) // 2 AS BIGINT) AS conv_id,
             u.doc_id AS user_doc_id, a.doc_id AS assistant_doc_id,
             u.text AS u_t, a.text AS a_t
      FROM ranked u JOIN ranked a
        ON a.source = u.source AND a.rn = u.rn + 1
      WHERE u.rn % 2 = 1
    ),
    rendered AS (
      SELECT source, conv_id, user_doc_id, assistant_doc_id,
             '<|system|>' || chr(10) || 'You are helpful.' || chr(10) || '<|user|>' || chr(10) || u_t || chr(10) || '<|assistant|>' || chr(10) || a_t || '<|end|>' AS r,
             CAST(37 + length(u_t) AS BIGINT) + 15
               AS mask_start,
             CAST(37 + length(u_t) AS BIGINT) + 15
               + length(a_t) AS mask_end
      FROM conv
    )
    SELECT source, conv_id, user_doc_id, assistant_doc_id,
           md5(r) AS render_md5, CAST(length(r) AS BIGINT) AS render_len,
           mask_start, mask_end
    FROM rendered ORDER BY source, conv_id
    """,
    tags=("curation", "sft", "training", "template"),
)
def chat_template_render(spark: SparkSession, sf_dir: str) -> DataFrame:
    """SFT example construction: pair consecutive docs per source into
    (user, assistant) turns, render the chat template, and emit the
    ASSISTANT LOSS-MASK character offsets — computed arithmetically from
    the part lengths (never by searching the rendered string, which
    breaks when the user text contains the template markers). A pure
    narrow map after one group-keyed pairing window; the render is
    hash-pinned (md5) against the oracle."""
    docs = table(spark, sf_dir, "documents", scatter=True).select(
        "doc_id", "source", F.coalesce(F.col("text"), F.lit("")).alias("text")
    )
    w = Window.partitionBy("source").orderBy("doc_id")
    ranked = docs.withColumn("rn", F.row_number().over(w))
    u = ranked.where(F.col("rn") % 2 == 1).select(
        "source",
        F.floor((F.col("rn") + 1) / 2).cast("long").alias("conv_id"),
        F.col("doc_id").alias("user_doc_id"),
        F.col("text").alias("ut"),
        F.col("rn").alias("_urn"),
    )
    a = ranked.select(
        "source",
        F.col("doc_id").alias("assistant_doc_id"),
        F.col("text").alias("at"),
        (F.col("rn") - 1).alias("_urn"),
    )
    pre, mid, end = (
        _CT_PRE.replace("\\n", "\n"),
        _CT_MID.replace("\\n", "\n"),
        _CT_END,
    )
    conv = u.join(a, ["source", "_urn"])
    rendered = conv.select(
        "source",
        "conv_id",
        "user_doc_id",
        "assistant_doc_id",
        F.concat(
            F.lit(pre), F.col("ut"), F.lit(mid), F.col("at"), F.lit(end)
        ).alias("r"),
        (
            F.lit(len(pre)).cast("long")
            + F.length("ut")
            + F.lit(len(mid)).cast("long")
        ).alias("mask_start"),
        (
            F.lit(len(pre)).cast("long")
            + F.length("ut")
            + F.lit(len(mid)).cast("long")
            + F.length("at")
        ).alias("mask_end"),
    )
    return rendered.select(
        "source",
        "conv_id",
        "user_doc_id",
        "assistant_doc_id",
        F.md5("r").alias("render_md5"),
        F.length("r").cast("long").alias("render_len"),
        "mask_start",
        "mask_end",
    ).orderBy("source", "conv_id")


# ---------------------------------------------------------------------------
# split-leakage audit (near/exact duplicates crossing train/val/test)
# ---------------------------------------------------------------------------


def _leak_oracle() -> str:
    from llm_data_pipeline_spark.queries_dedup import SHINGLE_SQL

    split_case = (
        f"CASE WHEN {_SPLIT_BUCKET_SQL} < 900 THEN 'train' "
        f"WHEN {_SPLIT_BUCKET_SQL} < 950 THEN 'val' ELSE 'test' END"
    )
    return f"""
    WITH {AUG_SQL.strip()},
    {SHINGLE_SQL.strip().lstrip(",")},
    labeled AS (SELECT doc_id, {split_case} AS split FROM aug),
    near AS (
      SELECT 'near' AS kind,
             least(la.split, lb.split) AS split_a,
             greatest(la.split, lb.split) AS split_b,
             CAST(count(*) AS BIGINT) AS n_pairs
      FROM jac j
      JOIN labeled la ON la.doc_id = j.u
      JOIN labeled lb ON lb.doc_id = j.v
      WHERE j.jaccard >= 0.5
      GROUP BY 2, 3
    ),
    digests AS (
      SELECT doc_id,
             md5(trim(regexp_replace(lower(coalesce(text,'')), '\\s+', ' ', 'g')))
               AS dg
      FROM aug
    ),
    exact AS (
      SELECT 'exact' AS kind,
             least(la.split, lb.split) AS split_a,
             greatest(la.split, lb.split) AS split_b,
             CAST(count(*) AS BIGINT) AS n_pairs
      FROM digests a JOIN digests b ON a.dg = b.dg AND a.doc_id < b.doc_id
      JOIN labeled la ON la.doc_id = a.doc_id
      JOIN labeled lb ON lb.doc_id = b.doc_id
      GROUP BY 2, 3
    )
    SELECT kind, split_a, split_b, n_pairs,
           CAST(CASE WHEN split_a <> split_b THEN 1 ELSE 0 END AS INT) AS is_leak
    FROM (SELECT * FROM near UNION ALL SELECT * FROM exact)
    ORDER BY kind, split_a, split_b
    """


@query(
    "split_leakage_audit",
    oracle=_leak_oracle(),
    tags=("curation", "split", "governance", "dedup"),
)
def split_leakage_audit(spark: SparkSession, sf_dir: str) -> DataFrame:
    """The audit every eval pipeline needs before trusting a held-out
    number: near-duplicate (Jaccard >= 0.5) and exact-duplicate pairs
    broken down by the split sides they land on — a cross-split pair IS
    benchmark leakage the split hash cannot see (it hashes ids, not
    content). Runs the production ppjoin pair generator and the
    production hash-bucket splitter unchanged; pair counts per
    (split_a, split_b) with a leak flag."""
    from llm_data_pipeline_spark.operators.dedup import ngram_jaccard_pairs

    aug = _augmented(spark, sf_dir, scatter=True)
    labeled = split_dataset(
        aug, {"train": 0.9, "val": 0.05, "test": 0.05}
    ).select("doc_id", "split")
    near = (
        ngram_jaccard_pairs(aug, threshold=0.5, n=3)
        .join(labeled.withColumnRenamed("split", "split_u"), F.col("u") == F.col("doc_id"))
        .drop("doc_id")
        .join(labeled.withColumnRenamed("split", "split_v"), F.col("v") == F.col("doc_id"))
        .select(
            F.lit("near").alias("kind"),
            F.least("split_u", "split_v").alias("split_a"),
            F.greatest("split_u", "split_v").alias("split_b"),
        )
    )
    norm = F.trim(
        F.regexp_replace(
            F.lower(F.coalesce(F.col("text"), F.lit(""))), r"\s+", " "
        )
    )
    digests = aug.select("doc_id", F.md5(norm).alias("dg")).join(
        labeled, "doc_id"
    )
    da = digests.select(
        F.col("dg"), F.col("doc_id").alias("u"), F.col("split").alias("split_u")
    )
    db = digests.select(
        F.col("dg"), F.col("doc_id").alias("v"), F.col("split").alias("split_v")
    )
    exact = (
        da.join(db, "dg")
        .where(F.col("u") < F.col("v"))
        .select(
            F.lit("exact").alias("kind"),
            F.least("split_u", "split_v").alias("split_a"),
            F.greatest("split_u", "split_v").alias("split_b"),
        )
    )
    return (
        near.unionByName(exact)
        .groupBy("kind", "split_a", "split_b")
        .agg(F.count(F.lit(1)).alias("n_pairs"))
        .select(
            "kind",
            "split_a",
            "split_b",
            "n_pairs",
            (F.col("split_a") != F.col("split_b")).cast("int").alias("is_leak"),
        )
        .orderBy("kind", "split_a", "split_b")
    )


_LDIV_L = 3  # required distinct sensitive values per released group


@query(
    "l_diversity_release",
    oracle=f"""
    WITH rows0 AS (
      SELECT lang, source, n_chars // 100 AS len_bucket FROM documents
    ),
    g0 AS (
      SELECT source, len_bucket, CAST(count(*) AS BIGINT) AS n,
             CAST(count(DISTINCT lang) AS BIGINT) AS n_sensitive
      FROM rows0 GROUP BY 1, 2
    ),
    ok0 AS (SELECT source, len_bucket, n, n_sensitive, 0 AS level FROM g0
            WHERE n >= {_KANON_K} AND n_sensitive >= {_LDIV_L}),
    fail0 AS (SELECT source, len_bucket FROM g0
              WHERE NOT (n >= {_KANON_K} AND n_sensitive >= {_LDIV_L})),
    r1 AS (SELECT r.* FROM rows0 r SEMI JOIN fail0 f
             ON r.source = f.source AND r.len_bucket = f.len_bucket),
    g1 AS (SELECT source, CAST(-1 AS BIGINT) AS len_bucket,
                  CAST(count(*) AS BIGINT) AS n,
                  CAST(count(DISTINCT lang) AS BIGINT) AS n_sensitive
           FROM r1 GROUP BY source),
    ok1 AS (SELECT source, len_bucket, n, n_sensitive, 1 AS level FROM g1
            WHERE n >= {_KANON_K} AND n_sensitive >= {_LDIV_L}),
    fail1 AS (SELECT source FROM g1
              WHERE NOT (n >= {_KANON_K} AND n_sensitive >= {_LDIV_L})),
    r2 AS (SELECT r.* FROM r1 r SEMI JOIN fail1 f ON r.source = f.source),
    g2 AS (SELECT '*' AS source, CAST(-1 AS BIGINT) AS len_bucket,
                  CAST(count(*) AS BIGINT) AS n,
                  CAST(count(DISTINCT lang) AS BIGINT) AS n_sensitive,
                  2 AS level
           FROM r2
           HAVING count(*) >= {_KANON_K}
              AND count(DISTINCT lang) >= {_LDIV_L})
    SELECT source, len_bucket, n, n_sensitive, CAST(level AS INT) AS level
    FROM (SELECT * FROM ok0 UNION ALL SELECT * FROM ok1
          UNION ALL SELECT * FROM g2)
    ORDER BY level, source, len_bucket
    """,
    tags=("curation", "governance", "privacy"),
)
def l_diversity_release(spark: SparkSession, sf_dir: str) -> DataFrame:
    """l-diversity on top of k-anonymity (k=5, l=3): a released
    quasi-identifier group (source, 100-char length bucket) must hold
    >= k rows AND >= l distinct values of the SENSITIVE attribute (lang)
    — k-anonymity alone still leaks the sensitive value when a group is
    homogeneous (the classic homogeneity attack). Failing groups
    generalize the length bucket away (level 1 = per-source), then the
    catch-all (level 2) — which is itself SUPPRESSED if it still fails,
    never released under-diverse. Each ladder step re-aggregates only the
    failing slice via a semi-join; the distinct-count per group is the
    only non-summable piece, which is why the ladder re-reads rows
    instead of rolling counts up."""
    base = table(spark, sf_dir, "documents").select(
        "lang", "source", F.expr("n_chars div 100").alias("len_bucket")
    )

    def agg(df, keys, bucket_lit=None):
        g = df.groupBy(*keys).agg(
            F.count(F.lit(1)).cast("long").alias("n"),
            F.countDistinct("lang").cast("long").alias("n_sensitive"),
        )
        if bucket_lit is not None:
            g = g.withColumn("len_bucket", F.lit(bucket_lit).cast("long"))
        return g

    passing = (F.col("n") >= _KANON_K) & (F.col("n_sensitive") >= _LDIV_L)
    g0 = agg(base, ["source", "len_bucket"])
    ok0 = g0.where(passing).withColumn("level", F.lit(0))
    fail0 = g0.where(~passing).select("source", "len_bucket")
    r1 = base.join(fail0, ["source", "len_bucket"], "left_semi")
    g1 = agg(r1, ["source"], bucket_lit=-1)
    ok1 = g1.where(passing).withColumn("level", F.lit(1))
    fail1 = g1.where(~passing).select("source")
    r2 = r1.join(fail1, ["source"], "left_semi")
    g2 = (
        agg(r2.withColumn("source", F.lit("*")), ["source"], bucket_lit=-1)
        .where(passing)
        .withColumn("level", F.lit(2))
    )
    cols = ["source", "len_bucket", "n", "n_sensitive", "level"]
    out = (
        ok0.select(*cols)
        .unionByName(ok1.select(*cols))
        .unionByName(g2.select(*cols))
    )
    return (
        out.select(
            "source",
            F.col("len_bucket").cast("long").alias("len_bucket"),
            "n",
            "n_sensitive",
            F.col("level").cast("int").alias("level"),
        )
        .coalesce(1)
        .sortWithinPartitions("level", "source", "len_bucket")
    )


# ---------------------------------------------------------------------------
# Priority sampling: weighted sample + unbiased subset-sum estimator
# ---------------------------------------------------------------------------

_PRIO_K = 50
_PRIO_SCALE = 1 << 30  # uniform granularity: u = h / 2^30, h in [1, 2^30]
_PRIO_HASH_SQL = DUCKDB_HASH60.format(s="(doc_id::VARCHAR || ':prio-v1')")


def _prio_oracle() -> str:

    err = rounded_div_sql(
        "((e.est_total - o.exact_total) * 1000000)", "o.exact_total"
    )
    return f"""
    WITH w AS (
      SELECT doc_id, greatest(n_chars, 1) AS w_chars,
             ({_PRIO_HASH_SQL} % {_PRIO_SCALE}) + 1 AS h
      FROM documents
    ),
    q AS (SELECT doc_id, w_chars, (w_chars * {_PRIO_SCALE}) // h AS q FROM w),
    r AS (
      SELECT doc_id, w_chars, q,
             row_number() OVER (ORDER BY q DESC, doc_id DESC) AS rank
      FROM q
    ),
    tau AS (
      SELECT coalesce(max(CASE WHEN rank = {_PRIO_K + 1} THEN q END), 0)
               AS tau
      FROM r
    ),
    tot AS (SELECT CAST(sum(greatest(n_chars, 1)) AS BIGINT) AS exact_total
            FROM documents),
    samp AS (
      SELECT r.rank, r.doc_id, r.w_chars, r.q, t.tau,
             greatest(r.w_chars, t.tau) AS est_w
      FROM r, tau t WHERE r.rank <= {_PRIO_K}
    ),
    est AS (SELECT CAST(sum(est_w) AS BIGINT) AS est_total FROM samp)
    SELECT CAST(s.rank AS BIGINT) AS rank, s.doc_id,
           CAST(s.w_chars AS BIGINT) AS w_chars,
           CAST(s.q AS BIGINT) AS q,
           CAST(s.tau AS BIGINT) AS tau,
           CAST(s.est_w AS BIGINT) AS est_w,
           e.est_total, o.exact_total,
           CAST({err} AS BIGINT) AS err_ppm
    FROM samp s, est e, tot o
    ORDER BY rank
    """


@query(
    "priority_weighted_sample",
    oracle=_prio_oracle(),
    tags=("curation", "sampling", "sketch"),
)
def priority_weighted_sample(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Priority sampling (Duffield-Lund-Thorup 2007): a weight-proportional
    sample WITHOUT replacement of k docs plus the unbiased Horvitz-
    Thompson subset-sum estimator, all in exact integer arithmetic.
    Priority q_i = floor(w_i * 2^30 / h_i) = floor(w_i / u_i) with
    u_i = h_i/2^30 the portable-hash uniform — the classic float
    formulation (w/u, or the Efraimidis-Spirakis u^(1/w) key) needs ln/pow
    whose last-ULP behavior differs across engines, so the integer form IS
    the operator, not an approximation of it. Take the k+1 largest
    priorities (TakeOrderedAndProject — per-partition top-k then merge,
    never a global sort), tau = the (k+1)-th, estimate
    w_hat_i = max(w_i, tau): E[sum w_hat] = total weight exactly, so the
    emitted err_ppm is the realized estimator error the audit watches.
    At 100 TB this is THE eval-subset builder: length-weighted doc samples
    whose token mass extrapolates unbiasedly to the corpus, k driver rows.
    Weights here = doc char length (floor 1 so zero-length docs stay
    sampleable)."""
    from llm_data_pipeline_spark.functions.hashing import portable_hash60

    docs = table(spark, sf_dir, "documents").select(
        "doc_id", F.greatest(F.col("n_chars"), F.lit(1)).alias("w_chars")
    )
    h = (
        portable_hash60(
            F.concat(F.col("doc_id").cast("string"), F.lit(":prio-v1"))
        )
        % F.lit(_PRIO_SCALE)
    ) + F.lit(1)
    pri = docs.select(
        "doc_id",
        "w_chars",
        (F.col("w_chars") * F.lit(_PRIO_SCALE)).alias("_scaled"),
        h.alias("h"),
    ).select(
        "doc_id",
        "w_chars",
        F.expr("_scaled div h").cast("long").alias("q"),
    )
    # top-(k+1) by (q desc, doc_id desc): TakeOrderedAndProject, then the
    # (k+2)-row frame is driver-tiny — single-partition window is exact.
    topk1 = pri.orderBy(F.desc("q"), F.desc("doc_id")).limit(_PRIO_K + 1)
    wname = Window.orderBy(F.desc("q"), F.desc("doc_id"))
    ranked = topk1.select(
        F.row_number().over(wname).alias("rank"), "doc_id", "w_chars", "q"
    )
    # 1-row aggregate (never empty): when the corpus has <= K docs the
    # (k+1)-th priority does not exist and tau coalesces to 0, so
    # est_w = max(w, 0) = w — "take everything" is the correct estimate,
    # not an empty result.
    tau = ranked.agg(
        F.coalesce(
            F.max(F.when(F.col("rank") == _PRIO_K + 1, F.col("q"))),
            F.lit(0).cast("long"),
        ).alias("tau")
    )
    samp = (
        ranked.where(F.col("rank") <= _PRIO_K)
        .crossJoin(F.broadcast(tau))
        .select(
            F.col("rank").cast("long").alias("rank"),
            "doc_id",
            F.col("w_chars").cast("long").alias("w_chars"),
            F.col("q").cast("long").alias("q"),
            F.col("tau").cast("long").alias("tau"),
            F.greatest("w_chars", "tau").cast("long").alias("est_w"),
        )
    )
    tot = table(spark, sf_dir, "documents").agg(
        F.sum(F.greatest(F.col("n_chars"), F.lit(1)))
        .cast("long")
        .alias("exact_total")
    )
    est = samp.agg(F.sum("est_w").cast("long").alias("est_total"))

    return (
        samp.crossJoin(F.broadcast(est))
        .crossJoin(F.broadcast(tot))
        .select(
            "rank",
            "doc_id",
            "w_chars",
            "q",
            "tau",
            "est_w",
            "est_total",
            "exact_total",
            rounded_div_col(
                (F.col("est_total") - F.col("exact_total")) * F.lit(1_000_000),
                F.col("exact_total"),
            )
            .cast("long")
            .alias("err_ppm"),
        )
        .orderBy("rank")
    )


# ---------------------------------------------------------------------------
# DoReMi-style domain reweighting (one linearized excess-loss step)
# ---------------------------------------------------------------------------

# multiplicative-update cap: one nat of excess loss doubles the factor
# ceiling (factor in [1, 2] per step, integer micro-units)
_DOREMI_CAP = 1_000_000

_LN_MICRO = "CAST(round(ln({x}) * 1000000) AS BIGINT)"


@query(
    "doremi_domain_reweight",
    oracle=f"""
    WITH toks AS (
      SELECT source,
             unnest(list_filter(string_split(trim(regexp_replace(
                 lower(coalesce(text,'')), '\\s+', ' ', 'g')), ' '),
                 x -> x <> '')) AS w
      FROM documents
    ),
    dw AS (
      SELECT source, w, CAST(count(*) AS BIGINT) AS c_dw
      FROM toks GROUP BY 1, 2
    ),
    d AS (SELECT source, CAST(sum(c_dw) AS BIGINT) AS c_d FROM dw GROUP BY 1),
    wt AS (SELECT w, CAST(sum(c_dw) AS BIGINT) AS c_w FROM dw GROUP BY 1),
    tot AS (SELECT CAST(sum(c_dw) AS BIGINT) AS t FROM dw),
    terms AS (
      SELECT dw.source,
             dw.c_dw * ({_LN_MICRO.format(x="dw.c_dw * tot.t")}
                      - {_LN_MICRO.format(x="d.c_d * wt.c_w")}) AS num
      FROM dw JOIN d USING (source) JOIN wt USING (w) CROSS JOIN tot
    ),
    klsum AS (
      SELECT source, CAST(sum(num) AS BIGINT) AS num_sum
      FROM terms GROUP BY source
    ),
    nd AS (
      SELECT source, CAST(count(*) AS BIGINT) AS n_docs
      FROM documents GROUP BY source
    ),
    kl AS (
      SELECT k.source, nd.n_docs, d.c_d AS n_tokens,
             CAST({rounded_div_sql('(d.c_d * 1000000)', 'tot.t')} AS BIGINT)
               AS base_share_ppm,
             CAST({rounded_div_sql('k.num_sum', 'd.c_d')} AS BIGINT)
               AS kl_micro_nats
      FROM klsum k JOIN d USING (source) JOIN nd USING (source)
      CROSS JOIN tot
    ),
    u AS (
      SELECT *,
             CAST({rounded_div_sql(
                 f'(base_share_ppm * (1000000 + greatest(0, least(kl_micro_nats, {_DOREMI_CAP}))))',
                 '1000000')} AS BIGINT) AS unnorm
      FROM kl
    )
    SELECT source, n_docs, n_tokens, base_share_ppm, kl_micro_nats,
           CAST({rounded_div_sql('(unnorm * 1000000)',
                                 'sum(unnorm) OVER ()')} AS BIGINT)
             AS new_weight_ppm
    FROM u ORDER BY source
    """,
    tags=("curation", "mixing", "trainprep", "calibration"),
)
def doremi_domain_reweight(spark: SparkSession, sf_dir: str) -> DataFrame:
    """One DoReMi-style domain-reweighting step (Xie et al. 2023, public):
    upweight the domains whose distribution the current mixture explains
    WORST, so the next training mix spends tokens where the model is
    furthest behind. The excess-loss signal is computed exactly instead
    of with a proxy-model training run: per domain, the per-token excess
    of the mixture LM's cross-entropy over the domain's own entropy is
    KL(domain || corpus) — the word-unigram divergence between the
    domain's token distribution and the whole-mix distribution, in
    integer micro-nats (per-word terms c_dw * (ln(c_dw*T) - ln(c_d*c_w)),
    ln on exact integer products — the established cross-engine-
    deterministic form, cf. source_mix_entropy). The update is the
    linearized multiplicative step: factor = 1 + min(KL, 1 nat), applied
    to the token-share prior and renormalized to ppm — one graded round
    of the iterate-until-stable loop (DoReMi runs ~the same step under a
    trained proxy; the relational form replaces the proxy with the exact
    unigram divergence, which is the same signal at step one).

    Scale shape: ONE explode+groupBy((source, word)) over the corpus
    (map-side combinable), then everything is vocabulary-bounded: domain
    totals broadcast (n_domains rows), the corpus word table derives from
    the already-reduced (source, word) counts (the wt join is the only
    vocabulary-sized shuffle), the weight renormalization is a window
    over n_domains rows. No smoothing constant to tune: words absent
    from a domain contribute zero to ITS divergence, and every domain
    word exists in the corpus by construction, so the log ratio is
    always finite. 20 output rows."""
    docs = table(spark, sf_dir, "documents", scatter=True).select(
        "source", "text"
    )
    toks = F.filter(
        F.split(
            F.trim(
                F.regexp_replace(
                    F.lower(F.coalesce(F.col("text"), F.lit(""))),
                    r"\s+",
                    " ",
                )
            ),
            " ",
        ),
        lambda x: x != "",
    )
    words = docs.select("source", F.explode(toks).alias("w"))
    dw = words.groupBy("source", "w").agg(
        F.count(F.lit(1)).cast("long").alias("c_dw")
    )
    # five consumers (d, wt, tot, terms' probe, and their joins) would
    # each re-derive the corpus explode+reduce — six full-text scans in
    # the plan. Eagerly pin the vocabulary-sized (source, word) table so
    # the corpus text is scanned ONCE and everything downstream is
    # vocabulary-bounded (the dedup_method_agreement pattern; lazy
    # checkpoints race multi-consumer materialization).
    dw = dw.transform(cut_lineage, eager=True)
    d = dw.groupBy("source").agg(F.sum("c_dw").cast("long").alias("c_d"))
    wt = dw.groupBy("w").agg(F.sum("c_dw").cast("long").alias("c_w"))
    tot = dw.agg(F.sum("c_dw").cast("long").alias("t"))

    def lnq(c):
        return F.round(F.log(c.cast("double")) * 1_000_000.0, 0).cast("long")

    terms = (
        dw.join(F.broadcast(d), "source")
        .join(wt, "w")
        .crossJoin(F.broadcast(tot))
        .select(
            "source",
            (
                F.col("c_dw")
                * (
                    lnq(F.col("c_dw") * F.col("t"))
                    - lnq(F.col("c_d") * F.col("c_w"))
                )
            ).alias("num"),
        )
    )
    klsum = terms.groupBy("source").agg(
        F.sum("num").cast("long").alias("num_sum")
    )
    nd = (
        table(spark, sf_dir, "documents")
        .groupBy("source")
        .agg(F.count(F.lit(1)).cast("long").alias("n_docs"))
    )
    kl = (
        klsum.join(F.broadcast(d), "source")
        .join(F.broadcast(nd), "source")
        .crossJoin(F.broadcast(tot))
        .select(
            "source",
            "n_docs",
            F.col("c_d").alias("n_tokens"),
            rounded_div_col(F.col("c_d") * F.lit(1_000_000), F.col("t"))
            .cast("long")
            .alias("base_share_ppm"),
            rounded_div_col(F.col("num_sum"), F.col("c_d"))
            .cast("long")
            .alias("kl_micro_nats"),
        )
    )
    u = kl.withColumn(
        "unnorm",
        rounded_div_col(
            F.col("base_share_ppm")
            * (
                F.lit(1_000_000)
                + F.greatest(
                    F.lit(0),
                    F.least(F.col("kl_micro_nats"), F.lit(_DOREMI_CAP)),
                )
            ),
            F.lit(1_000_000),
        ).cast("long"),
    )
    return (
        u.select(
            "source",
            "n_docs",
            "n_tokens",
            "base_share_ppm",
            "kl_micro_nats",
            rounded_div_col(
                F.col("unnorm") * F.lit(1_000_000),
                F.sum("unnorm").over(Window.partitionBy()),
            )
            .cast("long")
            .alias("new_weight_ppm"),
        )
        .coalesce(1)
        .sortWithinPartitions("source")
    )


# ---------------------------------------------------------------------------
# code-corpus curation pipeline (license -> watermark -> dedup -> length)
# ---------------------------------------------------------------------------

_CODE_DUP_MOD = 17  # re-crawl model: every 17th doc arrives again re-keyed
_CODE_DUP_OFFSET = 10_000_000
_CODE_MIN_CHARS = 120


def _code_curation_oracle() -> str:
    from llm_data_pipeline_spark.queries_heuristics import (
        _WM_Z_MICRO,
        wm_doc_sql,
    )
    from llm_data_pipeline_spark.queries_webclean import (
        license_class_case_sql,
        license_ft_sql,
        license_id_case_sql,
    )

    return f"""
    WITH corpus AS (
      SELECT doc_id, text, n_chars FROM documents
      UNION ALL
      SELECT doc_id + {_CODE_DUP_OFFSET}, text, n_chars
      FROM documents WHERE doc_id % {_CODE_DUP_MOD} = 0
    ),
    l1 AS (
      SELECT doc_id, text, n_chars, {license_ft_sql()} AS ft FROM corpus
    ),
    l2 AS (SELECT *, {license_id_case_sql('ft')} AS lid FROM l1),
    lic AS (
      SELECT doc_id, text, n_chars,
             {license_class_case_sql('lid')}
               IN ('permissive', 'unknown') AS lic_keep
      FROM l2
    ),
    wm AS (
      SELECT doc_id, (t = 0 OR z_micro <= {_WM_Z_MICRO}) AS wm_keep
      FROM {wm_doc_sql('corpus')}
    ),
    flags AS (
      SELECT l.doc_id, l.n_chars, l.lic_keep, w.wm_keep,
             (l.lic_keep AND w.wm_keep) AS surv,
             min(CASE WHEN l.lic_keep AND w.wm_keep THEN l.doc_id END)
               OVER (PARTITION BY md5(coalesce(l.text, ''))) AS first_surv
      FROM lic l JOIN wm w USING (doc_id)
    ),
    judged AS (
      SELECT lic_keep,
             (lic_keep AND wm_keep) AS k2,
             (lic_keep AND wm_keep AND doc_id = first_surv) AS k3,
             (lic_keep AND wm_keep AND doc_id = first_surv
              AND coalesce(n_chars, 0) >= {_CODE_MIN_CHARS}) AS k4
      FROM flags
    ),
    counts AS (
      SELECT CAST(count(*) AS BIGINT) AS n0,
             CAST(sum(CASE WHEN lic_keep THEN 1 ELSE 0 END) AS BIGINT) AS n1,
             CAST(sum(CASE WHEN k2 THEN 1 ELSE 0 END) AS BIGINT) AS n2,
             CAST(sum(CASE WHEN k3 THEN 1 ELSE 0 END) AS BIGINT) AS n3,
             CAST(sum(CASE WHEN k4 THEN 1 ELSE 0 END) AS BIGINT) AS n4
      FROM judged
    ),
    funnel AS (
      SELECT CAST(1 AS BIGINT) AS stage_ord, 'license' AS stage,
             n0 AS n_in, n1 AS n_kept FROM counts
      UNION ALL SELECT 2, 'watermark', n1, n2 FROM counts
      UNION ALL SELECT 3, 'exact_dedup', n2, n3 FROM counts
      UNION ALL SELECT 4, 'min_length', n3, n4 FROM counts
    )
    SELECT stage_ord, stage, n_in, n_kept,
           (n_in - n_kept) AS n_dropped,
           CAST({rounded_div_sql('((n_in - n_kept) * 1000000)', 'n_in')}
                AS BIGINT) AS drop_ppm
    FROM funnel ORDER BY stage_ord
    """


@query(
    "pipeline_code_curation",
    oracle=_code_curation_oracle(),
    tags=("curation", "pipeline", "license", "watermark", "dedup", "code"),
)
def pipeline_code_curation(spark: SparkSession, sf_dir: str) -> DataFrame:
    """The code-corpus curation pipeline end to end — the cascade a Stack
    -style code dataset runs before training, composing the round-9
    governance detectors with the dedup core: (1) LICENSE — keep only
    permissive/unlicensed files (the SAME graded cascade as
    license_header_filter, one shared definition per engine); (2)
    WATERMARK — drop files whose green-bigram z-score marks them as
    LLM-generated (shared with synthetic_watermark_detect; model output
    checked into repos is exactly what a code corpus must not train on);
    (3) EXACT DEDUP — re-crawled copies (every 17th doc re-keyed at
    +10M, the repo's standard re-ingest model) collapse to the earliest
    surviving doc_id per content hash; (4) MIN LENGTH — sub-120-char
    stubs drop. Output is the 4-row funnel (n_in/n_kept/n_dropped/
    drop_ppm per stage) — the yield report that decides whether a
    source's licensing mix is worth the crawl.

    Scale shape: ONE pass computes every per-doc flag (license regexes
    once, watermark hashing once — no stage re-derives upstream text),
    the dedup rank is a min-over-survivors window on the content hash
    (the single key-shuffle in the plan), and the funnel is one
    conditional aggregate stacked to 4 literal rows. Dedup ranking uses
    min(surviving doc_id) per hash rather than row_number so stages 1-2
    never re-execute; drop accounting is exact and per-stage
    (each stage's n_in is the previous stage's n_kept)."""
    from llm_data_pipeline_spark.queries_heuristics import (
        _WM_Z_MICRO,
        watermark_doc_frame,
    )
    from llm_data_pipeline_spark.queries_webclean import (
        license_class_col,
        license_ft_col,
        license_id_col,
    )

    from llm_data_pipeline_spark.queries import scatter as _scatter_fn

    base = table(spark, sf_dir, "documents").select(
        "doc_id", "text", "n_chars"
    )
    copies = base.where(F.col("doc_id") % _CODE_DUP_MOD == 0).select(
        (F.col("doc_id") + _CODE_DUP_OFFSET).alias("doc_id"),
        "text",
        "n_chars",
    )
    # scatter ONCE above the union (r9 rule): scattering the base before
    # deriving copies doubled the task count of the license/watermark
    # expression stage (64 tasks for the same rows)
    corpus = _scatter_fn(
        base.unionByName(copies),
        _cache_key=(sf_dir, "documents::code_curation"),
    )
    lic_keep = license_class_col(
        license_id_col(license_ft_col())
    ).isin("permissive", "unknown")
    wmf = watermark_doc_frame(corpus.withColumn("lic_keep", lic_keep))
    flags = wmf.select(
        "doc_id",
        "n_chars",
        "lic_keep",
        ((F.col("t") == 0) | (F.col("z_micro") <= _WM_Z_MICRO)).alias(
            "wm_keep"
        ),
        F.md5(F.coalesce("text", F.lit(""))).alias("h"),
    )
    surv = F.col("lic_keep") & F.col("wm_keep")
    ranked = flags.select(
        "doc_id",
        "n_chars",
        "lic_keep",
        "wm_keep",
        F.min(F.when(surv, F.col("doc_id")))
        .over(Window.partitionBy("h"))
        .alias("first_surv"),
    )
    judged = ranked.select(
        "lic_keep",
        (F.col("lic_keep") & F.col("wm_keep")).alias("k2"),
        (
            F.col("lic_keep")
            & F.col("wm_keep")
            & (F.col("doc_id") == F.col("first_surv"))
        ).alias("k3"),
        (
            F.col("lic_keep")
            & F.col("wm_keep")
            & (F.col("doc_id") == F.col("first_surv"))
            & (F.expr("coalesce(n_chars, 0)") >= _CODE_MIN_CHARS)
        ).alias("k4"),
    )
    counts = judged.agg(
        F.count(F.lit(1)).cast("long").alias("n0"),
        F.sum(F.col("lic_keep").cast("long")).cast("long").alias("n1"),
        F.sum(F.col("k2").cast("long")).cast("long").alias("n2"),
        F.sum(F.col("k3").cast("long")).cast("long").alias("n3"),
        F.sum(F.col("k4").cast("long")).cast("long").alias("n4"),
    )
    funnel = counts.selectExpr(
        "stack(4, "
        "CAST(1 AS BIGINT), 'license', n0, n1, "
        "CAST(2 AS BIGINT), 'watermark', n1, n2, "
        "CAST(3 AS BIGINT), 'exact_dedup', n2, n3, "
        "CAST(4 AS BIGINT), 'min_length', n3, n4"
        ") AS (stage_ord, stage, n_in, n_kept)"
    )
    return (
        funnel.select(
            "stage_ord",
            "stage",
            "n_in",
            "n_kept",
            (F.col("n_in") - F.col("n_kept")).alias("n_dropped"),
            rounded_div_col(
                (F.col("n_in") - F.col("n_kept")) * F.lit(1_000_000),
                F.col("n_in"),
            )
            .cast("long")
            .alias("drop_ppm"),
        )
        .coalesce(1)
        .sortWithinPartitions("stage_ord")
    )
