"""Text-cleaning heuristics as native Spark Column expressions.

Re-expresses the reference's cleaning rules (see SURVEY.md §2.2-§2.3;
reference: src/llm_data_pipeline/clean/rules.py:12-113) as pure Catalyst
expressions — zero Python UDFs, so the whole stage is whole-stage-codegen
and the parquet scan only reads the ``text`` column.

Regex-dialect note: Spark uses Java regex. ``\\w`` is ASCII `[A-Za-z0-9_]`
(same as RE2 used by the DuckDB oracle); the reference's Python `re.UNICODE`
`\\w` is wider for accented letters. We standardize on the ASCII+explicit-CJK
interpretation and verify it against the DuckDB oracle.
"""

from __future__ import annotations

from dataclasses import dataclass

from pyspark.sql import Column
from pyspark.sql import functions as F

# CJK unified ideographs range, embedded as literal characters so the same
# pattern text works in Java regex (Spark) and RE2 (DuckDB oracle).
CJK_LO = "一"
CJK_HI = "鿿"
CJK_CLASS = f"[{CJK_LO}-{CJK_HI}]"
NON_WS_CLASS = r"\S"
ALPHA_CLASS = "[A-Za-z]"
PUNCT_CLASS = f"[^\\w\\s{CJK_LO}-{CJK_HI}]"


@dataclass(frozen=True)
class CleanThresholds:
    """Retention thresholds (defaults match the reference pipeline:
    reference clean/rules.py:32-37)."""

    min_chars: int = 200
    max_chars: int = 200_000
    min_non_ws_ratio: float = 0.7
    min_alpha_cjk_ratio: float = 0.4
    max_punct_ratio: float = 0.25
    max_dup_line_ratio: float = 0.35
    min_lines_for_dup: int = 5


def basic_clean(text: Column) -> Column:
    """Normalize line endings to \\n, strip, collapse 3+ newlines to 2.

    (reference clean/rules.py:40-57 — behaviour parity, native impl.)
    """
    t = F.regexp_replace(text, "\r\n", "\n")
    t = F.regexp_replace(t, "\r", "\n")
    t = F.trim(t)
    return F.regexp_replace(t, "\n{3,}", "\n\n")


def norm_ws(text: Column) -> Column:
    """Lowercase + collapse all whitespace runs to single spaces + trim.

    Used before shingling / language heuristics (reference
    dedup/minhash.py:16-26, quality/model.py:129-132)."""
    return F.trim(F.regexp_replace(F.lower(text), r"\s+", " "))


def count_matches(text: Column, char_class: str) -> Column:
    """Count characters matching a regex character class, JVM-side.

    length(text) - length(text with matches removed); stays in codegen and
    avoids a per-row Python loop entirely.
    """
    return F.length(text) - F.length(F.regexp_replace(text, char_class, ""))


def non_ws_ratio(text: Column) -> Column:
    n = F.length(text)
    return F.when(n > 0, count_matches(text, NON_WS_CLASS) / n).otherwise(F.lit(0.0))


def alpha_cjk_ratio(text: Column) -> Column:
    n = F.length(text)
    hits = count_matches(text, ALPHA_CLASS) + count_matches(text, CJK_CLASS)
    return F.when(n > 0, hits / n).otherwise(F.lit(0.0))


def punct_ratio(text: Column) -> Column:
    n = F.length(text)
    return F.when(n > 0, count_matches(text, PUNCT_CLASS) / n).otherwise(F.lit(0.0))


def _nonblank_lines(text: Column) -> Column:
    lines = F.split(text, "\n")
    return F.filter(F.transform(lines, F.trim), lambda x: x != "")


def dup_line_ratio(text: Column, min_lines: int = 5) -> Column:
    """Fraction of non-blank lines whose (trimmed) text occurs more than once.

    0.0 when fewer than ``min_lines`` non-blank lines (reference
    clean/rules.py:72-81). Implemented with nested higher-order array
    functions — O(L^2) per document in line count, which is fine for
    real documents (L is small); pathological million-line docs should be
    length-capped upstream (max_chars does this).

    Whole-stage codegen's subexpression elimination keeps the repeated
    ``lines`` sub-expression cheap inside a single projection; callers that
    already hold a line array can use ``dup_line_ratio_from_lines``.
    """
    return dup_line_ratio_from_lines(_nonblank_lines(text), min_lines)


def dup_line_ratio_from_lines(lines: Column, min_lines: int = 5) -> Column:
    """dup_line_ratio over an already-computed non-blank-line array."""
    nl = F.size(lines)
    dup = F.size(
        F.filter(
            lines,
            lambda ln: F.size(F.filter(lines, lambda x: x == ln)) > 1,
        )
    )
    return F.when(nl < min_lines, F.lit(0.0)).otherwise(
        dup / F.greatest(nl, F.lit(1))
    )


def clean_judgment(
    text: Column, rules: CleanThresholds | None = None
) -> dict[str, Column]:
    """The full rule cascade: returns named Columns
    ``kept, drop_reason, m_non_ws, m_alpha_cjk, m_punct, m_dup_line``.

    Cascade order matters and matches the reference (clean/rules.py:84-113):
    too_short → too_long → too_sparse → low_language_signal →
    too_much_punct → dup_lines → ok. Unlike the reference we emit all four
    metric columns for every row (cheap, and keeps the schema fixed).
    """
    r = rules or CleanThresholds()
    t = F.coalesce(text, F.lit(""))
    n = F.length(t)
    m_non_ws = non_ws_ratio(t)
    m_alpha = alpha_cjk_ratio(t)
    m_punct = punct_ratio(t)
    m_dup = dup_line_ratio(t, r.min_lines_for_dup)

    reason = (
        F.when(n < r.min_chars, F.lit("too_short"))
        .when(n > r.max_chars, F.lit("too_long"))
        .when(m_non_ws < r.min_non_ws_ratio, F.lit("too_sparse"))
        .when(m_alpha < r.min_alpha_cjk_ratio, F.lit("low_language_signal"))
        .when(m_punct > r.max_punct_ratio, F.lit("too_much_punct"))
        .when(m_dup > r.max_dup_line_ratio, F.lit("dup_lines"))
        .otherwise(F.lit("ok"))
    )
    return {
        "kept": reason == "ok",
        "drop_reason": reason,
        "m_non_ws": m_non_ws,
        "m_alpha_cjk": m_alpha,
        "m_punct": m_punct,
        "m_dup_line": m_dup,
    }
