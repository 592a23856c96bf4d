"""Graded queries: within-document repetition / quality heuristics
(Gopher & RefinedWeb filter family) over the documents table.

Signals are exact rational arithmetic (see functions/repetition.py), so
the oracles replay them bit-identically with plain SQL over unnested
n-grams — no float-summation hazards anywhere.

Thresholds are tuned to split THIS corpus (a ~40-word vocabulary word
soup has naturally high bigram repetition): the point of the graded
query is the signal computation and the cascade shape, not Gopher's web
constants, which are documented alongside.
"""

from __future__ import annotations

from pyspark.sql import SparkSession
from pyspark.sql import functions as F

from llm_data_pipeline_spark.functions.intmath import rounded_div_sql
from llm_data_pipeline_spark.functions.repetition import add_repetition_signals
from llm_data_pipeline_spark.queries import query, table

# Gopher (web text) uses 0.20/0.18/0.16 for top-2/3/4-gram char coverage
# and ~0.15 for duplicated 5-grams; this corpus's tiny vocabulary shifts
# the distributions right, so the graded cascade uses corpus-calibrated
# cuts that actually partition the data (sf0.01: keep=190/500; each of
# top2/diversity/run rejects docs — 129/172/25. dup5 never fires on this
# synthetic corpus — random word soup has no repeated 5-grams — but stays
# in the cascade: it is the live RefinedWeb rule for real web text).
TOP2_MAX = 0.09
DUP5_MAX = 0.04
RUN_MAX = 2
DIVERSITY_MIN = 0.40

_NORM_TOKS = (
    "list_filter(string_split(trim(regexp_replace(lower(coalesce(text, '')),"
    " '\\s+', ' ', 'g')), ' '), x -> x <> '')"
)


def _grams_sql(n: int) -> str:
    return (
        f"CASE WHEN len(toks) < {n} THEN []::VARCHAR[] "
        f"ELSE list_transform(range(len(toks) - {n} + 1), "
        f"i -> array_to_string(toks[i+1:i+{n}], ' ')) END"
    )


_SIGNALS_CTE = f"""
toks AS (
  SELECT doc_id, source, {_NORM_TOKS} AS toks FROM documents
),
base AS (
  SELECT doc_id, source, toks,
         {_grams_sql(2)} AS g2,
         {_grams_sql(5)} AS g5,
         length(array_to_string(toks, ' ')) AS text_len
  FROM toks
),
counts2 AS (
  SELECT doc_id, g, count(*) AS c
  FROM (SELECT doc_id, unnest(g2) AS g FROM base)
  GROUP BY doc_id, g
),
top2 AS (
  SELECT doc_id, max(c) AS top_c FROM counts2 GROUP BY doc_id
),
topg2 AS (
  SELECT c.doc_id, t.top_c, max(c.g) AS top_g
  FROM counts2 c JOIN top2 t ON t.doc_id = c.doc_id AND c.c = t.top_c
  GROUP BY c.doc_id, t.top_c
),
idx AS (
  SELECT doc_id, unnest(list_transform(range(1, len(toks) + 1),
         j -> struct_pack(w := toks[j], i := j))) AS s
  FROM base
),
runs AS (
  SELECT doc_id, s.w AS w, s.i AS i,
         s.i - row_number() OVER (PARTITION BY doc_id, s.w ORDER BY s.i)
           AS grp
  FROM idx
),
runlen AS (
  SELECT doc_id, max(n) AS max_run
  FROM (SELECT doc_id, w, grp, count(*) AS n FROM runs GROUP BY doc_id, w, grp)
  GROUP BY doc_id
),
signals AS (
  SELECT b.doc_id, b.source,
         CASE WHEN b.text_len > 0
              THEN CAST(coalesce(t.top_c, 0) * length(coalesce(t.top_g, ''))
                        AS DOUBLE) / b.text_len
              ELSE 0.0 END AS top2_frac,
         CASE WHEN len(b.g5) > 0
              THEN CAST(len(b.g5) - len(list_distinct(b.g5)) AS DOUBLE)
                   / len(b.g5)
              ELSE 0.0 END AS dup5_frac,
         CAST(coalesce(r.max_run, 0) AS INT) AS max_run,
         CASE WHEN len(b.toks) > 0
              THEN CAST(len(list_distinct(b.toks)) AS DOUBLE) / len(b.toks)
              ELSE 0.0 END AS diversity
  FROM base b
  LEFT JOIN topg2 t ON t.doc_id = b.doc_id
  LEFT JOIN runlen r ON r.doc_id = b.doc_id
),
judged AS (
  SELECT *,
         (top2_frac <= {TOP2_MAX} AND dup5_frac <= {DUP5_MAX}
          AND max_run <= {RUN_MAX} AND diversity >= {DIVERSITY_MIN}) AS keep
  FROM signals
)
"""


@query(
    "repetition_signals",
    oracle=f"""
    WITH {_SIGNALS_CTE.strip()}
    SELECT doc_id, top2_frac, dup5_frac, max_run, diversity, keep
    FROM judged
    ORDER BY doc_id
    """,
    tags=("heuristics", "quality"),
)
def repetition_signals(spark: SparkSession, sf_dir: str):
    """Per-document repetition signals + Gopher-style keep cascade.

    One narrow codegen'd map over the scan — no shuffle, no UDF; at
    100 TB this is the same shape as the reference's clean stage
    (clean/rules.py): embarrassingly parallel per-document compute.
    """
    docs = table(spark, sf_dir, "documents", scatter=True)
    sig = add_repetition_signals(docs, "text").select(
        "doc_id", "top2_frac", "dup5_frac", "max_run", "diversity"
    )
    return sig.withColumn(
        "keep",
        (F.col("top2_frac") <= TOP2_MAX)
        & (F.col("dup5_frac") <= DUP5_MAX)
        & (F.col("max_run") <= RUN_MAX)
        & (F.col("diversity") >= DIVERSITY_MIN),
    ).orderBy("doc_id")


@query(
    "repetition_filter_by_source",
    oracle=f"""
    WITH {_SIGNALS_CTE.strip()}
    SELECT source,
           CAST(count(*) AS BIGINT) AS n_docs,
           CAST(sum(CASE WHEN keep THEN 1 ELSE 0 END) AS BIGINT) AS n_kept,
           CAST(sum(CASE WHEN keep THEN 1 ELSE 0 END) AS DOUBLE) / count(*)
             AS keep_rate
    FROM judged
    GROUP BY source
    ORDER BY source
    """,
    tags=("heuristics", "quality", "agg"),
)
def repetition_filter_by_source(spark: SparkSession, sf_dir: str):
    """Keep-rate of the repetition cascade per source — the per-corpus
    yield report a curation run emits before mixing (int/int division,
    engine-exact)."""
    docs = table(spark, sf_dir, "documents", scatter=True)
    judged = add_repetition_signals(docs, "text").select(
        "source",
        (
            (F.col("top2_frac") <= TOP2_MAX)
            & (F.col("dup5_frac") <= DUP5_MAX)
            & (F.col("max_run") <= RUN_MAX)
            & (F.col("diversity") >= DIVERSITY_MIN)
        ).alias("keep"),
    )
    return (
        judged.groupBy("source")
        .agg(
            F.count(F.lit(1)).alias("n_docs"),
            F.sum(F.col("keep").cast("int")).alias("n_kept"),
        )
        .withColumn(
            "keep_rate",
            F.col("n_kept").cast("double") / F.col("n_docs").cast("double"),
        )
        .orderBy("source")
    )


# ---------------------------------------------------------------------------
# Gopher document-quality rules (Rae et al. 2021, Table A1 — the
# non-repetition subset; repetition_signals carries the n-gram side)
# ---------------------------------------------------------------------------

_G_STOPS = ("the", "be", "to", "of", "and", "that", "have", "with")
_G_MIN_WORDS = 50          # Gopher: 50
_G_MAX_WORDS = 100_000     # Gopher: 100k
_G_MEANLEN_LO = 3_000_000  # Gopher: mean word length in [3, 10] chars
_G_MEANLEN_HI = 10_000_000
_G_ALPHA_MIN = 800_000     # Gopher: >=80% words with an alphabetic char
_G_SYMBOL_MAX = 100_000    # Gopher: symbol-to-word ratio (#/ellipsis) <=0.1
_G_STOP_MIN = 1            # Gopher uses 2-of-8; this vocabulary only
                           # carries 'the', so the graded cut is 1 (the
                           # cascade shape is the point — see file header)
_G_BULLET_MAX = 900_000    # Gopher: <=90% bullet lines
_G_ELLIPSIS_MAX = 300_000  # Gopher: <=30% ellipsis-ending lines

_G_ALPHA_RE = "[A-Za-z一-鿿]"


def _gopher_ctes() -> str:
    """The t/sig/feat CTE chain of the Gopher oracle, shared by the
    per-doc filter query and the scorer-agreement audit."""
    bullet_num = (
        "(len(list_filter(lines, l -> regexp_matches(l, '^\\s*[-*\u2022]')))"
        " * 1000000)"
    )
    ell_num = (
        "(len(list_filter(lines, l -> regexp_matches(l,"
        " '(\\.\\.\\.|\u2026)\\s*$'))) * 1000000)"
    )
    rd_mean = rounded_div_sql("(sum_chars * 1000000)", "greatest(n_words, 1)")
    rd_alpha = rounded_div_sql("(alpha_words * 1000000)", "greatest(n_words, 1)")
    rd_sym = rounded_div_sql("(symbols * 1000000)", "greatest(n_words, 1)")
    rd_bullet = rounded_div_sql(bullet_num, "greatest(len(lines), 1)")
    rd_ell = rounded_div_sql(ell_num, "greatest(len(lines), 1)")
    return f"""t AS (
      SELECT doc_id, coalesce(text, '') AS raw, {_NORM_TOKS} AS toks
      FROM documents
    ),
    sig AS (
      SELECT doc_id,
             CAST(len(toks) AS BIGINT) AS n_words,
             CAST(coalesce(list_sum(list_transform(toks, w -> length(w))), 0)
                  AS BIGINT) AS sum_chars,
             CAST(len(list_filter(toks,
                  w -> regexp_matches(w, '{_G_ALPHA_RE}'))) AS BIGINT)
               AS alpha_words,
             CAST(len(regexp_extract_all(raw, '[#\u2026]'))
                  + (length(raw) - length(replace(raw, '...', ''))) // 3
                  AS BIGINT) AS symbols,
             CAST(len(list_filter({list(_G_STOPS)},
                  s -> list_contains(toks, s))) AS BIGINT) AS stop_hits,
             list_filter(string_split(raw, chr(10)), l -> trim(l) <> '')
               AS lines
      FROM t
    ),
    feat AS (
      SELECT doc_id, n_words,
             CAST({rd_mean} AS BIGINT) AS mean_word_chars_mu,
             CAST({rd_alpha} AS BIGINT) AS alpha_word_ppm,
             CAST({rd_sym} AS BIGINT) AS symbol_word_ppm,
             stop_hits,
             CAST({rd_bullet} AS BIGINT) AS bullet_line_ppm,
             CAST({rd_ell} AS BIGINT) AS ellipsis_line_ppm
      FROM sig
    )"""


_GOPHER_KEEP_COND_SQL = f"""n_words BETWEEN {_G_MIN_WORDS} AND {_G_MAX_WORDS}
                      AND mean_word_chars_mu BETWEEN {_G_MEANLEN_LO} AND {_G_MEANLEN_HI}
                      AND alpha_word_ppm >= {_G_ALPHA_MIN}
                      AND symbol_word_ppm <= {_G_SYMBOL_MAX}
                      AND stop_hits >= {_G_STOP_MIN}
                      AND bullet_line_ppm <= {_G_BULLET_MAX}
                      AND ellipsis_line_ppm <= {_G_ELLIPSIS_MAX}"""


def _gopher_oracle() -> str:
    return f"""
    WITH {_gopher_ctes()}
    SELECT doc_id, n_words, mean_word_chars_mu, alpha_word_ppm,
           symbol_word_ppm, stop_hits, bullet_line_ppm, ellipsis_line_ppm,
           CAST(CASE WHEN {_GOPHER_KEEP_COND_SQL}
                THEN 1 ELSE 0 END AS INT) AS keep
    FROM feat ORDER BY doc_id
    """


@query(
    "gopher_doc_quality_filter",
    oracle=_gopher_oracle(),
    tags=("heuristics", "quality", "gopher"),
)
def gopher_doc_quality_filter(spark: SparkSession, sf_dir: str):
    """The Gopher document-level quality rules (word-count bounds, mean
    word length, alpha-word ratio with CJK counted as alphabetic,
    symbol-to-word ratio, stopword presence, bullet/ellipsis line ratios)
    as ONE zero-shuffle narrow map — every signal in exact integer ppm
    via rounded division, the whole cascade inside the scan stage.
    Constants are Gopher's except the stopword cut (corpus-calibrated,
    documented above)."""
    return _gopher_judged(spark, sf_dir).orderBy("doc_id")


def _gopher_judged(spark: SparkSession, sf_dir: str):
    """Per-doc Gopher signals + keep flag (shared with the scorer-
    agreement audit; no ordering applied)."""
    from llm_data_pipeline_spark.functions.intmath import rounded_div_col

    docs = table(spark, sf_dir, "documents", scatter=True)
    raw = F.coalesce(F.col("text"), F.lit(""))
    staged = docs.select(
        "doc_id",
        raw.alias("_raw"),
        F.filter(
            F.split(
                F.trim(F.regexp_replace(F.lower(raw), r"\s+", " ")), " "
            ),
            lambda x: x != "",
        ).alias("_toks"),
    ).select(
        "doc_id",
        "_raw",
        "_toks",
        F.filter(
            F.split(F.col("_raw"), "\n"), lambda l: F.trim(l) != ""
        ).alias("_lines"),
    )
    n_words = F.size("_toks").cast("long")
    one = F.greatest(n_words, F.lit(1).cast("long"))
    sum_chars = F.aggregate(
        F.transform(F.col("_toks"), F.length),
        F.lit(0).cast("long"),
        lambda a, x: a + x,
    )
    alpha_words = F.size(
        F.filter(F.col("_toks"), lambda w: w.rlike(_G_ALPHA_RE))
    ).cast("long")
    symbols = (
        F.size(F.split(F.col("_raw"), "[#…]")).cast("long")
        - 1
        + F.floor(
            (
                F.length("_raw")
                - F.length(F.replace(F.col("_raw"), F.lit("...")))
            )
            / 3
        ).cast("long")
    )
    stop_hits = F.size(
        F.filter(
            F.array(*[F.lit(s) for s in _G_STOPS]),
            lambda s: F.array_contains(F.col("_toks"), s),
        )
    ).cast("long")
    n_lines = F.greatest(F.size("_lines").cast("long"), F.lit(1).cast("long"))
    bullets = F.size(
        F.filter(F.col("_lines"), lambda l: l.rlike(r"^\s*[-*•]"))
    ).cast("long")
    ellipses = F.size(
        F.filter(F.col("_lines"), lambda l: l.rlike(r"(\.\.\.|…)\s*$"))
    ).cast("long")
    feat = staged.select(
        "doc_id",
        n_words.alias("n_words"),
        rounded_div_col(sum_chars * F.lit(1_000_000).cast("long"), one).alias(
            "mean_word_chars_mu"
        ),
        rounded_div_col(
            alpha_words * F.lit(1_000_000).cast("long"), one
        ).alias("alpha_word_ppm"),
        rounded_div_col(symbols * F.lit(1_000_000).cast("long"), one).alias(
            "symbol_word_ppm"
        ),
        stop_hits.alias("stop_hits"),
        rounded_div_col(
            bullets * F.lit(1_000_000).cast("long"), n_lines
        ).alias("bullet_line_ppm"),
        rounded_div_col(
            ellipses * F.lit(1_000_000).cast("long"), n_lines
        ).alias("ellipsis_line_ppm"),
    )
    keep = (
        F.col("n_words").between(_G_MIN_WORDS, _G_MAX_WORDS)
        & F.col("mean_word_chars_mu").between(_G_MEANLEN_LO, _G_MEANLEN_HI)
        & (F.col("alpha_word_ppm") >= _G_ALPHA_MIN)
        & (F.col("symbol_word_ppm") <= _G_SYMBOL_MAX)
        & (F.col("stop_hits") >= _G_STOP_MIN)
        & (F.col("bullet_line_ppm") <= _G_BULLET_MAX)
        & (F.col("ellipsis_line_ppm") <= _G_ELLIPSIS_MAX)
    )
    return feat.withColumn("keep", keep.cast("int"))


# ---------------------------------------------------------------------------
# Inter-judge agreement: heuristic quality keep vs Gopher keep
# ---------------------------------------------------------------------------


def _kappa_oracle() -> str:
    from llm_data_pipeline_spark.queries_text import (
        TEXT_BASE_SQL,
        _LANG_SCORE,
        _lang_case,
    )

    pe_raw = "((a + b) * (a + c) + (c + d) * (b + d))"
    po_ppm = rounded_div_sql("((a + d) * 1000000)", "n")
    pe_ppm = rounded_div_sql(f"({pe_raw} * 1000000)", "(n * n)")
    # pe_raw == n*n only when both judges are unanimous in the same
    # direction (then po == 1 necessarily): kappa is 0/0 — define it as
    # 1.0 (trivially perfect agreement) instead of dividing by zero,
    # which DuckDB NULLs and Spark overflows.
    kappa = (
        f"CASE WHEN n * n - {pe_raw} = 0 THEN 1000000 ELSE "
        + rounded_div_sql(
            f"((n * (a + d) - {pe_raw}) * 1000000)", f"(n * n - {pe_raw})"
        )
        + " END"
    )
    return f"""
    WITH {_gopher_ctes()},
    gk AS (
      SELECT doc_id,
             CASE WHEN {_GOPHER_KEEP_COND_SQL} THEN 1 ELSE 0 END AS g
      FROM feat
    ),
    {TEXT_BASE_SQL.strip().replace("base AS", "hbase AS").replace("feat AS", "hfeat AS").replace("FROM base", "FROM hbase")},
    hk AS (
      SELECT doc_id,
             CASE WHEN ({_lang_case()}) IN ('zh', 'en')
                   AND ({_LANG_SCORE}) >= 0.4 THEN 1 ELSE 0 END AS h
      FROM hfeat
    ),
    cm AS (
      SELECT CAST(count(*) AS BIGINT) AS n,
             CAST(sum(h * g) AS BIGINT) AS a,
             CAST(sum(h * (1 - g)) AS BIGINT) AS b,
             CAST(sum((1 - h) * g) AS BIGINT) AS c,
             CAST(sum((1 - h) * (1 - g)) AS BIGINT) AS d
      FROM hk JOIN gk USING (doc_id)
    )
    SELECT n, a AS both_keep, b AS heur_only, c AS gopher_only,
           d AS both_drop,
           CAST({po_ppm} AS BIGINT) AS po_ppm,
           CAST({pe_ppm} AS BIGINT) AS pe_ppm,
           CAST({kappa} AS BIGINT) AS kappa_ppm
    FROM cm
    """


@query(
    "scorer_agreement_kappa",
    oracle=_kappa_oracle(),
    tags=("heuristics", "quality", "agreement", "governance"),
)
def scorer_agreement_kappa(spark: SparkSession, sf_dir: str):
    """Cohen's kappa between the pipeline's two independent rule judges —
    the language-heuristic quality keep (lang in {zh,en} and
    lang_score >= 0.4, the graded quality_keep_decision predicate) and
    the Gopher document filter (the graded gopher_doc_quality_filter
    predicate) — chance-corrected, in exact integer ppm (the raw kappa
    algebra cleared of divisions: kappa = (n*(a+d) - pe_raw) /
    (n^2 - pe_raw)). This is the calibration table a curation run reads
    before composing filters: kappa near 1 means the second filter is
    redundant, near 0 means it cuts an independent dimension, negative
    means the judges systematically disagree. Both judges are imported
    from their graded queries, so the audit can never drift from what
    actually ships. One corpus scan per judge, a doc_id equi-join, a
    1-row aggregate — nothing collected."""
    from llm_data_pipeline_spark.operators.quality import run_quality

    docs = table(spark, sf_dir, "documents", scatter=True)
    hk = run_quality(docs).select(
        "doc_id", F.col("quality_keep").cast("int").alias("h")
    )
    gk = _gopher_judged(spark, sf_dir).select(
        "doc_id", F.col("keep").alias("g")
    )
    cm = hk.join(gk, "doc_id").agg(
        F.count(F.lit(1)).cast("long").alias("n"),
        F.sum(F.col("h") * F.col("g")).cast("long").alias("a"),
        F.sum(F.col("h") * (1 - F.col("g"))).cast("long").alias("b"),
        F.sum((1 - F.col("h")) * F.col("g")).cast("long").alias("c"),
        F.sum((1 - F.col("h")) * (1 - F.col("g"))).cast("long").alias("d"),
    )
    # exact int64 `div` arithmetic throughout: the ppm numerators scale as
    # n^2 * 1e6, which outgrows rounded_div_col's double-mediated 2^53
    # exactness window around 1e5 docs — integer division keeps the
    # oracle contract to the int64 bound (~3e6 labeled docs, documented)
    pe_raw = "((a + b) * (a + c) + (c + d) * (b + d))"
    num = f"((n * (a + d) - {pe_raw}) * 1000000)"
    den = f"(n * n - {pe_raw})"
    return cm.select(
        "n",
        F.col("a").alias("both_keep"),
        F.col("b").alias("heur_only"),
        F.col("c").alias("gopher_only"),
        F.col("d").alias("both_drop"),
        F.expr("((a + d) * 1000000 + n div 2) div n").alias("po_ppm"),
        F.expr(
            f"({pe_raw} * 1000000 + (n * n) div 2) div (n * n)"
        ).alias("pe_ppm"),
        # den == 0 iff both judges unanimous in the same direction (po = 1
        # follows): define kappa = 1.0 rather than divide by zero
        F.expr(
            f"CASE WHEN {den} = 0 THEN CAST(1000000 AS BIGINT)"
            f" WHEN {num} >= 0 THEN ({num} + {den} div 2) div {den}"
            f" ELSE -((-{num} + {den} div 2) div {den}) END"
        ).alias("kappa_ppm"),
    )


# ---------------------------------------------------------------------------
# synthetic-text watermark detection (green-list bigram family)
# ---------------------------------------------------------------------------

# green rule: a bigram (prev, cur) is "green" iff the portable 60-bit md5
# hash of "prev|cur" is 0 mod 4 -> gamma = 1/4 exactly (no float gamma).
_WM_MOD = 4
# planted watermarked generators: every 23rd doc simulates hard
# green-list sampling (delta -> inf): its emitted bigram stream is the
# green subset of its natural bigrams.
_WM_PLANT_MOD = 23
# alarm at z > 4 (~3e-5 one-sided false-positive rate under H0)
_WM_Z_MICRO = 4_000_000


def wm_doc_sql() -> str:
    """DuckDB: per-doc watermark stats over ``documents`` — subquery
    yielding (doc_id, source, planted, t, g, z_micro) with z_micro NULL
    when t = 0. The SAME green rule and z-score the graded detector uses
    (one definition per engine)."""
    return f"""(
      SELECT doc_id, source, planted,
             CASE WHEN planted
                  THEN CAST(len(list_filter(is_green, g -> g)) AS BIGINT)
                  ELSE CAST(len(is_green) AS BIGINT) END AS t,
             CAST(len(list_filter(is_green, g -> g)) AS BIGINT) AS g,
             CASE WHEN (CASE WHEN planted
                        THEN len(list_filter(is_green, g -> g))
                        ELSE len(is_green) END) > 0
               THEN CAST(round(
                 (4 * len(list_filter(is_green, g -> g))
                  - (CASE WHEN planted
                          THEN len(list_filter(is_green, g -> g))
                          ELSE len(is_green) END)) * 1000000
                 / sqrt(3 * (CASE WHEN planted
                             THEN len(list_filter(is_green, g -> g))
                             ELSE len(is_green) END))) AS BIGINT)
               ELSE NULL END AS z_micro
      FROM (
        SELECT doc_id, source, (doc_id % {_WM_PLANT_MOD} = 0) AS planted,
               list_transform(generate_series(2, len(w)),
                 i -> ('0x' || substr(md5(w[i-1] || '|' || w[i]), 1, 15))
                      ::BIGINT % {_WM_MOD} = 0) AS is_green
        FROM (SELECT doc_id, source, {_NORM_TOKS} AS w FROM documents)
      )
    )"""


def watermark_doc_frame(docs):
    """Spark: add (planted, t, g, z_micro) to a frame with (doc_id,
    text); z_micro is NULL when t = 0. zip_with over two slices, NOT
    transform-over-sequence — HOFs are CodegenFallback with no subexpr
    elimination, so element_at(w, i) in a lambda re-derives the whole
    split chain per element (measured 17.8 -> 1.6 s steady at sf0.1)."""
    from llm_data_pipeline_spark.functions.hashing import portable_hash60

    w = F.filter(
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
    with_w = docs.select(
        "*",
        (F.col("doc_id") % _WM_PLANT_MOD == 0).alias("planted"),
        w.alias("_wm_w"),
    )
    wcol = F.col("_wm_w")
    is_green = F.when(
        F.size("_wm_w") >= 2,
        F.zip_with(
            F.slice(wcol, 1, F.size("_wm_w") - 1),
            F.slice(wcol, 2, F.size("_wm_w") - 1),
            lambda a, b: portable_hash60(F.concat(a, F.lit("|"), b))
            % _WM_MOD
            == 0,
        ),
    ).otherwise(F.array().cast("array<boolean>"))
    n_green = F.size(F.filter("_ig", lambda g: g)).cast("long")
    eff = with_w.withColumn("_ig", is_green).select(
        *[c for c in docs.columns],
        "planted",
        F.when(F.col("planted"), n_green)
        .otherwise(F.size("_ig").cast("long"))
        .alias("t"),
        n_green.alias("g"),
    )
    return eff.withColumn(
        "z_micro",
        F.when(
            F.col("t") > 0,
            F.round(
                (4 * F.col("g") - F.col("t"))
                * F.lit(1_000_000)
                / F.sqrt(3 * F.col("t")),
                0,
            ).cast("long"),
        ),
    )


@query(
    "synthetic_watermark_detect",
    oracle=f"""
    WITH z AS (
      SELECT source, planted, t, g, z_micro
      FROM {wm_doc_sql()} WHERE t > 0
    )
    SELECT source, planted,
           CAST(count(*) AS BIGINT) AS n_docs,
           CAST(sum(t) AS BIGINT) AS n_pairs,
           CAST({rounded_div_sql('(sum(g) * 1000000)', 'sum(t)')} AS BIGINT)
             AS green_ppm,
           CAST({rounded_div_sql('sum(z_micro)', 'count(*)')} AS BIGINT)
             AS mean_z_micro,
           CAST(sum(CASE WHEN z_micro > {_WM_Z_MICRO} THEN 1 ELSE 0 END)
                AS BIGINT) AS n_suspect,
           CAST({rounded_div_sql(
               f'(sum(CASE WHEN z_micro > {_WM_Z_MICRO} THEN 1 ELSE 0 END)'
               ' * 1000000)', 'count(*)')} AS BIGINT) AS suspect_ppm
    FROM z GROUP BY source, planted ORDER BY source, planted
    """,
    tags=("heuristics", "quality", "watermark", "synthetic"),
)
def synthetic_watermark_detect(spark: SparkSession, sf_dir: str):
    """Detect LLM-generated text carrying a green-list watermark
    (Kirchenbauer et al. 2023, public): a watermarking generator biases
    each next token toward a pseudorandom "green list" seeded by the
    previous token, so watermarked text shows a green-bigram fraction far
    above the base rate gamma while natural text sits at gamma. Filtering
    such text out of a training corpus matters because model-generated
    text fed back into pretraining degrades the data (and the watermark
    is the one synthetic signal that is CHEAP to test at corpus scale —
    one hash per bigram, no model in the loop).

    Green rule (both engines bit-identically): bigram (prev, cur) is
    green iff md5-60("prev|cur") % 4 == 0, i.e. gamma = 1/4 exactly.
    Detector: per doc with T bigrams and G green, the one-proportion
    z-score z = (G - T/4) / sqrt(T * 1/4 * 3/4) = (4G - T) / sqrt(3T),
    reported in integer micro-units (round of a single IEEE division on
    exact-integer operands — the same cross-engine-deterministic form as
    the established ln-micro-nat queries); alarm at z > 4. Planted
    ground truth: every 23rd doc simulates a hard green-list generator
    (delta -> inf) — its emitted stream is exactly the green subset of
    its natural bigrams, so G = T and z = sqrt(3T) >> 4; natural docs
    concentrate at z ~ 0 under H0, so the (source, planted) summary
    grades both the false-positive and the detection side.

    Scale shape: ONE scan of documents(text, source, doc_id); the
    bigram hashing and green counting are per-row JVM array expressions
    (transform over sequence — zero explode, zero Python stages); the
    only shuffle is the final 40-row (source, planted) aggregate.
    Reference anchor: the reference's quality screens are per-doc scalar
    signals over the same table (quality/model.py heuristics); this adds
    the synthetic-text axis those screens lack."""
    docs = table(spark, sf_dir, "documents", scatter=True).select(
        "doc_id", "source", "text"
    )
    z = (
        watermark_doc_frame(docs)
        .where(F.col("t") > 0)
        .select("source", "planted", "t", "g", "z_micro")
    )
    agg = z.groupBy("source", "planted").agg(
        F.count(F.lit(1)).cast("long").alias("n_docs"),
        F.sum("t").cast("long").alias("n_pairs"),
        F.sum("g").cast("long").alias("g_sum"),
        F.sum("z_micro").cast("long").alias("z_sum"),
        F.sum((F.col("z_micro") > _WM_Z_MICRO).cast("long"))
        .cast("long")
        .alias("n_suspect"),
    )
    from llm_data_pipeline_spark.functions.intmath import rounded_div_col

    return (
        agg.select(
            "source",
            "planted",
            "n_docs",
            "n_pairs",
            rounded_div_col(F.col("g_sum") * 1_000_000, F.col("n_pairs"))
            .cast("long")
            .alias("green_ppm"),
            rounded_div_col(F.col("z_sum"), F.col("n_docs"))
            .cast("long")
            .alias("mean_z_micro"),
            "n_suspect",
            rounded_div_col(F.col("n_suspect") * 1_000_000, F.col("n_docs"))
            .cast("long")
            .alias("suspect_ppm"),
        )
        .coalesce(1)
        .sortWithinPartitions("source", "planted")
    )
