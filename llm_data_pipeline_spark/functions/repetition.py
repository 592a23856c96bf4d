"""Within-document repetition signals (Gopher / RefinedWeb-style filters).

The reference pipeline's rule cascade (clean/rules.py) measures duplicate
*lines*; large-scale corpus curation additionally filters on word n-gram
repetition (Rae et al. 2021 "Scaling Language Models" §A1.1, Penedo et
al. 2023 RefinedWeb §3.2): the fraction of a document covered by its most
common n-gram, and the fraction covered by duplicated n-grams. The
driver's synthetic documents are single-line, so these word-level signals
are the meaningful repetition axis for this corpus.

Every signal is exact rational arithmetic (int counts divided once at the
end in double) — no float summation anywhere — so DuckDB replays each
value bit-identically regardless of row order.

All expressions are native Catalyst (split/slice/sort/aggregate over
arrays): a narrow map with no shuffle, whole-stage where possible; the
only interpreted pieces are the higher-order lambdas, which stay O(words)
per document.
"""

from __future__ import annotations

from pyspark.sql import Column
from pyspark.sql import functions as F

from llm_data_pipeline_spark.functions.text import norm_ws


def words_of(text: Column) -> Column:
    """Normalized word array: lowercase, whitespace-collapsed, no empties."""
    norm = norm_ws(F.coalesce(text, F.lit("")))
    return F.filter(F.split(norm, " "), lambda x: x != "")


def word_ngrams_all(toks: Column, n: int) -> Column:
    """ALL word n-grams (space-joined, duplicates kept) of a token array.

    Unlike dedup's shingle sets, repetition signals need multiplicity —
    array_distinct would erase the thing being measured. Documents shorter
    than n words yield an empty array (no gram exists, so every fraction
    below is 0 by the safe-divide convention).
    """
    return F.when(F.size(toks) < n, F.array().cast("array<string>")).otherwise(
        F.transform(
            F.sequence(F.lit(0), F.size(toks) - n),
            lambda i: F.concat_ws(" ", F.slice(toks, i + 1, n)),
        )
    )


def _frac(num: Column, den: Column) -> Column:
    """num/den as double, 0.0 when den = 0 — the single division point."""
    return F.when(den > 0, num.cast("double") / den.cast("double")).otherwise(
        F.lit(0.0)
    )


def top_gram_run(grams_sorted: Column) -> Column:
    """(count, gram) of the most frequent element of a SORTED array.

    One sequential fold over the sorted array tracking the current run and
    the best run; ties prefer the lexicographically LARGER gram (the fold
    visits grams in ascending order and `>=` lets later equals win), which
    the oracle mirrors with max(gram) over the max-count set.
    """
    init = F.struct(
        F.lit(0).cast("int").alias("run"),
        F.lit(None).cast("string").alias("prev"),
        F.lit(0).cast("int").alias("best"),
        F.lit("").alias("best_gram"),
    )

    def step(acc, g):
        run = F.when(acc["prev"].isNotNull() & (acc["prev"] == g), acc["run"] + 1).otherwise(
            F.lit(1)
        )
        improved = run >= acc["best"]
        return F.struct(
            run.alias("run"),
            g.alias("prev"),
            F.when(improved, run).otherwise(acc["best"]).alias("best"),
            F.when(improved, g).otherwise(acc["best_gram"]).alias("best_gram"),
        )

    return F.aggregate(
        grams_sorted,
        init,
        step,
        lambda acc: F.struct(acc["best"].alias("count"), acc["best_gram"].alias("gram")),
    )


def top_gram_char_fraction(text: Column, n: int) -> Column:
    """Fraction of normalized-text characters covered by the single most
    common word n-gram: count * len(gram) / len(join(words)).

    Gopher filters documents where this exceeds 0.20/0.18/0.16 for
    n=2/3/4. Overlapping occurrences are counted independently (as in the
    original formulation) so the value can exceed 1 for degenerate docs —
    callers threshold, not normalize.
    """
    toks = words_of(text)
    top = top_gram_run(F.array_sort(word_ngrams_all(toks, n)))
    text_len = F.length(F.array_join(toks, " "))
    return _frac(top["count"] * F.length(top["gram"]), text_len)


def duplicate_gram_fraction(text: Column, n: int) -> Column:
    """Fraction of a document's word n-grams that are repeats of an
    earlier occurrence: (total - distinct) / total.

    The RefinedWeb "duplicated n-gram" family (n = 5..10); exact and
    multiplicity-aware, 0.0 for documents shorter than n words.
    """
    grams = word_ngrams_all(words_of(text), n)
    return _frac(F.size(grams) - F.size(F.array_distinct(grams)), F.size(grams))


def max_word_run(text: Column) -> Column:
    """Longest run of the SAME word repeated consecutively (int, 0 for
    empty docs) — catches 'buy buy buy buy' spam that set-based dedup
    signals miss entirely."""
    toks = words_of(text)
    init = F.struct(
        F.lit(0).cast("int").alias("run"),
        F.lit(None).cast("string").alias("prev"),
        F.lit(0).cast("int").alias("best"),
    )

    def step(acc, w):
        run = F.when(acc["prev"].isNotNull() & (acc["prev"] == w), acc["run"] + 1).otherwise(
            F.lit(1)
        )
        return F.struct(
            run.alias("run"),
            w.alias("prev"),
            F.greatest(run, acc["best"]).alias("best"),
        )

    return F.aggregate(toks, init, step, lambda acc: acc["best"])


def word_diversity(text: Column) -> Column:
    """distinct words / total words (1.0 = no repetition, 0.0 = empty)."""
    toks = words_of(text)
    return _frac(F.size(F.array_distinct(toks)), F.size(toks))


def add_repetition_signals(
    df, text_col: str = "text", top_n: int = 2, dup_n: int = 5
):
    """Append all four repetition signals with the token array staged once.

    The per-column helpers above inline ``words_of(text)`` into
    higher-order lambdas, and lambda-inlined expressions re-evaluate per
    array element — O(words) tokenizations per document per signal (the
    same pathology ngram_jaccard_pairs documents). Staging ``_toks`` as a
    real column behind a projection boundary (CollapseProject keeps it: a
    non-cheap expression referenced many times is never re-inlined) makes
    every lambda fold over a bound array: one tokenization per document,
    total. Output values are bit-identical to the inline helpers.

    Appends: ``top{top_n}_frac``, ``dup{dup_n}_frac``, ``max_run``,
    ``diversity``.
    """
    staged = df.withColumn("_toks", words_of(F.col(text_col)))
    toks = F.col("_toks")

    top = top_gram_run(F.array_sort(word_ngrams_all(toks, top_n)))
    text_len = F.length(F.array_join(toks, " "))
    dup_grams = word_ngrams_all(toks, dup_n)

    init = F.struct(
        F.lit(0).cast("int").alias("run"),
        F.lit(None).cast("string").alias("prev"),
        F.lit(0).cast("int").alias("best"),
    )

    def step(acc, w):
        run = F.when(
            acc["prev"].isNotNull() & (acc["prev"] == w), acc["run"] + 1
        ).otherwise(F.lit(1))
        return F.struct(
            run.alias("run"),
            w.alias("prev"),
            F.greatest(run, acc["best"]).alias("best"),
        )

    return (
        staged.withColumn(
            f"top{top_n}_frac",
            _frac(top["count"] * F.length(top["gram"]), text_len),
        )
        .withColumn(
            f"dup{dup_n}_frac",
            _frac(
                F.size(dup_grams) - F.size(F.array_distinct(dup_grams)),
                F.size(dup_grams),
            ),
        )
        .withColumn("max_run", F.aggregate(toks, init, step, lambda a: a["best"]))
        .withColumn("diversity", _frac(F.size(F.array_distinct(toks)), F.size(toks)))
        .drop("_toks")
    )
