"""Text-analysis functions: language ID, quality scoring, token counting,
fingerprinting — all pure Column expressions (north-star extensions;
heuristic LID also serves as the fallback for the model-based quality stage).

Every function here has a line-for-line SQL twin in queries_text.py so the
DuckDB oracle exercises identical semantics.
"""

from __future__ import annotations

import pandas as pd
from pyspark.sql import Column
from pyspark.sql import functions as F

from llm_data_pipeline_spark.functions.text import (
    CJK_CLASS,
    count_matches,
    norm_ws,
)

# Small, fixed stopword profiles. Order matters: ties break toward the
# earlier language in LANG_ORDER.
STOPWORDS: dict[str, tuple[str, ...]] = {
    "en": ("the", "and", "of", "to", "in", "is", "a"),
    "es": ("el", "la", "de", "que", "y", "los", "una"),
    "de": ("der", "die", "und", "das", "ist", "ein", "nicht"),
    "fr": ("le", "et", "les", "des", "un", "une", "dans"),
}
LANG_ORDER = ("en", "es", "de", "fr")
CJK_LANG_THRESHOLD = 0.2

# BPE-ish word/number/symbol tokenization pattern (shared with the oracle).
WORDLIKE_RE = r"[A-Za-z]+|[0-9]+|[^A-Za-z0-9\s]"


def tokens(text: Column) -> Column:
    """Whitespace tokens of normalized text (empty strings filtered)."""
    return F.filter(F.split(norm_ws(text), " "), lambda x: x != "")


def whitespace_token_count(text: Column) -> Column:
    return F.size(tokens(text))


def wordlike_token_count(text: Column) -> Column:
    """Count of BPE-ish tokens (letter runs / digit runs / single symbols)."""
    return F.regexp_count(F.coalesce(text, F.lit("")), F.lit(WORDLIKE_RE))


def stopword_hits(text: Column, lang: str) -> Column:
    words = F.array(*[F.lit(w) for w in STOPWORDS[lang]])
    return F.size(F.filter(tokens(text), lambda t: F.array_contains(words, t)))


def cjk_ratio(text: Column) -> Column:
    n = F.length(text)
    return F.when(n > 0, count_matches(text, CJK_CLASS) / n).otherwise(F.lit(0.0))


def detect_language(text: Column) -> Column:
    """Deterministic n-gram/stopword language heuristic.

    CJK ratio above threshold → 'zh'; else the language with the highest
    stopword hit count (ties break in LANG_ORDER); all-zero → 'und'.
    Serves the role of the reference's fastText LID (quality/model.py) when
    no model is available — same column contract, documented heuristic.
    """
    t = F.coalesce(text, F.lit(""))
    hits = {lang: stopword_hits(t, lang) for lang in LANG_ORDER}
    return _lang_pred_from_hits(cjk_ratio(t), hits)


def language_score(text: Column) -> Column:
    """Confidence proxy: winning stopword hits / whitespace token count
    (0.0 for empty; 1.0 for CJK route)."""
    t = F.coalesce(text, F.lit(""))
    hits = {lang: stopword_hits(t, lang) for lang in LANG_ORDER}
    return _lang_score_from_hits(cjk_ratio(t), whitespace_token_count(t), hits)


def _hit_count(toks: Column, lang: str) -> Column:
    """Stopword-hit count over an already-staged token array column."""
    words = F.array(*[F.lit(w) for w in STOPWORDS[lang]])
    return F.size(F.filter(toks, lambda tok: F.array_contains(words, tok)))


def _lang_pred_from_hits(cjk: Column, hits: dict[str, Column]) -> Column:
    """The LANG_ORDER tie-break when-chain over already-computed hit counts."""
    expr = F.when(cjk > CJK_LANG_THRESHOLD, F.lit("zh"))
    for i, lang in enumerate(LANG_ORDER):
        cond = hits[lang] > 0
        for other in LANG_ORDER[i + 1 :]:
            cond = cond & (hits[lang] >= hits[other])
        for prior in LANG_ORDER[:i]:
            cond = cond & (hits[lang] > hits[prior])
        expr = expr.when(cond, F.lit(lang))
    return expr.otherwise(F.lit("und"))


def _lang_score_from_hits(
    cjk: Column, n_tok: Column, hits: dict[str, Column]
) -> Column:
    best = F.greatest(*[hits[lang] for lang in LANG_ORDER])
    return F.when(cjk > CJK_LANG_THRESHOLD, F.lit(1.0)).otherwise(
        F.when(n_tok > 0, best / n_tok).otherwise(F.lit(0.0))
    )


def with_language_heuristic(
    df,
    text_col: str = "text",
    pred_col: str = "lang_pred",
    score_col: str = "lang_score",
):
    """Append ``lang_pred``/``lang_score`` with staged intermediates.

    The Column-expression forms (detect_language / language_score) inline
    ``tokens(text)`` into every stopword counter, so one row tokenizes ~9x
    — and any downstream expression referencing lang_pred re-inlines the
    whole chain again (plan-hygiene rule 1, README). This variant stages
    the token array, the four hit counts, the token count, and the CJK
    ratio behind real projection boundaries (each staged column is
    non-cheap and referenced more than once, so CollapseProject keeps the
    boundary), then builds the outputs as cheap when-chains over staged
    columns. Values are bit-identical to the expression forms
    (tests/test_analysis.py equivalence test).
    """
    t = F.coalesce(F.col(text_col), F.lit(""))
    staged = df.withColumn("_lid_toks", tokens(t))
    staged = staged.select(
        "*",
        F.size("_lid_toks").alias("_lid_n_tok"),
        cjk_ratio(t).alias("_lid_cjk"),
        *[
            _hit_count(F.col("_lid_toks"), lang).alias(f"_lid_h_{lang}")
            for lang in LANG_ORDER
        ],
    )
    hits = {lang: F.col(f"_lid_h_{lang}") for lang in LANG_ORDER}
    cjk = F.col("_lid_cjk")
    n_tok = F.col("_lid_n_tok")
    staged = staged.select(
        "*",
        _lang_pred_from_hits(cjk, hits).alias(pred_col),
        _lang_score_from_hits(cjk, n_tok, hits).alias(score_col),
    )
    drop_cols = ["_lid_toks", "_lid_n_tok", "_lid_cjk"] + [
        f"_lid_h_{lang}" for lang in LANG_ORDER
    ]
    return staged.drop(*drop_cols)


def quality_score(text: Column) -> Column:
    """Composite 0..1 heuristic quality score.

    0.25*non_ws_ratio + 0.25*alpha_cjk_ratio + 0.25*(1 - min(punct/0.25, 1))
    + 0.25*min(4*stopword_ratio, 1) — written in this exact association
    order on both engines for bit-identical doubles.
    """
    from llm_data_pipeline_spark.functions.text import (
        alpha_cjk_ratio,
        non_ws_ratio,
        punct_ratio,
    )

    t = F.coalesce(text, F.lit(""))
    n_tok = whitespace_token_count(t)
    sw_total = None
    for lang in LANG_ORDER:
        h = stopword_hits(t, lang)
        sw_total = h if sw_total is None else sw_total + h
    sw_ratio = F.when(n_tok > 0, sw_total / n_tok).otherwise(F.lit(0.0))
    return (
        F.lit(0.25) * non_ws_ratio(t)
        + F.lit(0.25) * alpha_cjk_ratio(t)
        + F.lit(0.25) * (F.lit(1.0) - F.least(punct_ratio(t) / 0.25, F.lit(1.0)))
        + F.lit(0.25) * F.least(F.lit(4.0) * sw_ratio, F.lit(1.0))
    )


def with_quality_score(df, text_col: str = "text", out_col: str = "quality_score"):
    """Append the composite quality score with staged token/hit columns
    (same staging rationale as with_language_heuristic; identical values
    to quality_score(text) — the char-class ratios are referenced once
    each so they stay inline)."""
    from llm_data_pipeline_spark.functions.text import (
        alpha_cjk_ratio,
        non_ws_ratio,
        punct_ratio,
    )

    t = F.coalesce(F.col(text_col), F.lit(""))
    staged = df.withColumn("_qs_toks", tokens(t))
    staged = staged.select(
        "*",
        F.size("_qs_toks").alias("_qs_n_tok"),
        *[
            _hit_count(F.col("_qs_toks"), lang).alias(f"_qs_h_{lang}")
            for lang in LANG_ORDER
        ],
    )
    sw_total = None
    for lang in LANG_ORDER:
        h = F.col(f"_qs_h_{lang}")
        sw_total = h if sw_total is None else sw_total + h
    n_tok = F.col("_qs_n_tok")
    sw_ratio = F.when(n_tok > 0, sw_total / n_tok).otherwise(F.lit(0.0))
    score = (
        F.lit(0.25) * non_ws_ratio(t)
        + F.lit(0.25) * alpha_cjk_ratio(t)
        + F.lit(0.25) * (F.lit(1.0) - F.least(punct_ratio(t) / 0.25, F.lit(1.0)))
        + F.lit(0.25) * F.least(F.lit(4.0) * sw_ratio, F.lit(1.0))
    )
    return staged.withColumn(out_col, score).drop(
        "_qs_toks", "_qs_n_tok", *[f"_qs_h_{lang}" for lang in LANG_ORDER]
    )


def with_quality_ppm(df, text_col: str = "text", out_col: str = "q_ppm"):
    """Integer-ppm quality score — the BINNING form of the composite
    quality heuristic. Same four terms as quality_score (non-ws ratio,
    alpha+CJK ratio, inverted punct ratio, capped stopword ratio), each
    computed as an exact ROUNDED INTEGER DIVISION scaled to 250,000 ppm
    (rounded_div_col), summed to a BIGINT in [0, 1,000,000]. Use this —
    never floor(float_score * 10) — wherever the score feeds a bin
    boundary (deciles): the float composite is computed independently by
    Spark's codegen and DuckDB's evaluator, and a value one ULP either
    side of a decile edge floors to DIFFERENT bins across engines,
    flipping hash-checked per-bin aggregates. Integer ppm makes the edge
    exact on both. Decile = least(q_ppm div 100000, 9); the SQL twin is
    queries_text.QUALITY_DECILE_SQL."""
    from llm_data_pipeline_spark.functions.intmath import rounded_div_col
    from llm_data_pipeline_spark.functions.text import (
        ALPHA_CLASS,
        NON_WS_CLASS,
        PUNCT_CLASS,
    )

    t = F.coalesce(F.col(text_col), F.lit(""))
    staged = df.withColumn("_qp_toks", tokens(t))
    staged = staged.select(
        "*",
        F.size("_qp_toks").alias("_qp_n_tok"),
        *[
            _hit_count(F.col("_qp_toks"), lang).alias(f"_qp_h_{lang}")
            for lang in LANG_ORDER
        ],
    )
    n = F.length(t).cast("long")
    c_nws = count_matches(t, NON_WS_CLASS).cast("long")
    c_ac = (
        count_matches(t, ALPHA_CLASS) + count_matches(t, CJK_CLASS)
    ).cast("long")
    c_punct = count_matches(t, PUNCT_CLASS).cast("long")
    sw_total = None
    for lang in LANG_ORDER:
        h = F.col(f"_qp_h_{lang}")
        sw_total = h if sw_total is None else sw_total + h
    n_tok = F.col("_qp_n_tok").cast("long")
    q = F.lit(250_000).cast("long")
    t1 = F.when(n > 0, rounded_div_col(c_nws * 250_000, n)).otherwise(
        F.lit(0).cast("long")
    )
    t2 = F.when(n > 0, rounded_div_col(c_ac * 250_000, n)).otherwise(
        F.lit(0).cast("long")
    )
    t3 = F.when(
        n > 0,
        q - F.least(rounded_div_col(c_punct * 1_000_000, n), q),
    ).otherwise(q)
    t4 = F.when(
        n_tok > 0,
        F.least(rounded_div_col(sw_total.cast("long") * 1_000_000, n_tok), q),
    ).otherwise(F.lit(0).cast("long"))
    return staged.withColumn(out_col, (t1 + t2 + t3 + t4).cast("long")).drop(
        "_qp_toks", "_qp_n_tok", *[f"_qp_h_{lang}" for lang in LANG_ORDER]
    )


WINNOW_BASE = 131
WINNOW_MOD = 1_000_003


def add_winnow_fingerprints(
    df,
    text_col: str = "text",
    k: int = 8,
    w: int = 4,
    out_col: str = "fingerprints",
    strategy: str = "pandas",
):
    """Winnowing document fingerprints (rolling hash + window minima).

    The standard scheme: polynomial rolling hash over every k-char gram
    (base 131 mod 1e6+3 — products stay < 2^62, safe in BIGINT on any
    engine), then the minimum hash of every w-length window of consecutive
    gram hashes; the distinct minima are the document's fingerprint set
    (robust to local edits — the basis of plagiarism/near-dup detection).

    Two equivalent strategies (equivalence-tested):
    - 'pandas' (default): Arrow-batched numpy — k vectorized Horner steps
      over all gram positions, then w shifted np.minimum passes. Spark's
      higher-order array functions evaluate interpreted (outside codegen),
      which made the native path ~20x slower per token; this is exactly
      the "UDFs are the slow path, EXCEPT when built-ins leave codegen"
      tradeoff.
    - 'native': pure Column expressions (unrolled Horner over element_at);
      kept as the dependency-free reference implementation.
    Short texts (< k chars) hash as a single gram; empty text -> empty set.
    """
    if strategy == "pandas":
        import numpy as np
        from pyspark.sql.types import ArrayType, LongType

        @F.pandas_udf(ArrayType(LongType()))
        def _winnow(texts: pd.Series) -> pd.Series:
            B, P = WINNOW_BASE, WINNOW_MOD
            out = []
            for t in texts:
                codes = np.frombuffer(
                    (t or "").encode("utf-32-le"), dtype=np.uint32
                ).astype(np.int64)
                m = len(codes)
                if m == 0:
                    out.append([])
                    continue
                if m < k:
                    h = 0
                    for c in codes:
                        h = (h * B + int(c)) % P
                    out.append([h])
                    continue
                npos = m - k + 1
                hs = np.zeros(npos, dtype=np.int64)
                for j in range(k):
                    hs = (hs * B + codes[j : j + npos]) % P
                if len(hs) <= w:
                    mins = [int(hs.min())]
                else:
                    nwin = len(hs) - w + 1
                    mn = hs[:nwin].copy()
                    for j in range(1, w):
                        np.minimum(mn, hs[j : j + nwin], out=mn)
                    mins = mn.tolist()
                out.append(sorted(set(int(x) for x in mins)))
            return pd.Series(out)

        return df.withColumn(out_col, _winnow(F.col(text_col)))
    # split("", "") yields [""] — drop empty fragments before coding, like
    # the oracle's list_filter(c <> '')
    codes = F.transform(
        F.filter(
            F.split(F.coalesce(F.col(text_col), F.lit("")), ""),
            lambda c: c != "",
        ),
        F.ascii,
    )
    df = df.withColumn("_codes", codes).withColumn("_m", F.size("_codes"))

    def roll_agg(arr) -> F.Column:
        return F.aggregate(
            arr,
            F.lit(0).cast("long"),
            lambda a, c: (a * WINNOW_BASE + c) % WINNOW_MOD,
        )

    def gram_hash(i: F.Column) -> F.Column:
        # unrolled Horner over element_at — no per-position slice
        # allocation; mod after every step keeps intermediates < P*B
        h = F.element_at("_codes", (i + 1).cast("int")).cast("long") % WINNOW_MOD
        for j in range(1, k):
            h = (h * WINNOW_BASE + F.element_at("_codes", (i + 1 + j).cast("int"))) % WINNOW_MOD
        return h

    hashes = (
        F.when(F.col("_m") == 0, F.array().cast("array<long>"))
        .when(F.col("_m") < k, F.array(roll_agg(F.col("_codes"))))
        .otherwise(
            F.transform(F.sequence(F.lit(0), F.col("_m") - k), gram_hash)
        )
    )
    df = df.withColumn("_hs", hashes).withColumn("_t", F.size("_hs"))

    def window_min(i: F.Column) -> F.Column:
        return F.least(
            *[
                F.element_at("_hs", (i + 1 + j).cast("int"))
                for j in range(w)
            ]
        )

    minima = (
        F.when(F.col("_t") == 0, F.array().cast("array<long>"))
        .when(F.col("_t") <= w, F.array(F.array_min("_hs")))
        .otherwise(
            F.transform(F.sequence(F.lit(0), F.col("_t") - w), window_min)
        )
    )
    return (
        df.withColumn(out_col, F.array_sort(F.array_distinct(minima)))
        .drop("_codes", "_m", "_hs", "_t")
    )


def fingerprint(text: Column) -> Column:
    """Stable document fingerprint: md5 of whitespace-normalized text
    (md5 because the DuckDB oracle lacks sha1; equality-only use)."""
    return F.md5(norm_ws(F.coalesce(text, F.lit(""))))
