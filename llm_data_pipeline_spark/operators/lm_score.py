"""Corpus bigram language-model scoring (CCNet-style perplexity filter).

The public CCNet recipe (Wenzek et al. 2020) ranks web documents by the
perplexity of a language model trained on a trusted corpus and keeps the
low-perplexity head. The engine's in-corpus analog: train a word-bigram
model with add-k smoothing on the corpus itself (one distributed count
pass), then score every document by its mean log-probability — documents
made of improbable word transitions (boilerplate soup, gibberish,
keyword-stuffing) score low.

Scale shape:
- training = two groupBy counts (bigram, unigram) — the model size is
  vocabulary-bounded (Heaps' law), never corpus-bounded;
- the model rides a broadcast join (bigram table joined to exploded doc
  bigrams) — no UDF, no driver loop; at trillion-token scale swap the
  broadcast for a shuffle join on the bigram key, same plan otherwise.

Scoring: log P(w2|w1) = ln((c(w1,w2) + k) / (c(w1) + k*V)), with V the
unigram vocabulary size; unseen bigrams fall back to the same smoothed
formula with c=0 (k/(c(w1)+kV)), and unseen left-words to ln(1/V).
Mean over a doc's bigrams; single-word/empty docs score 0.0 by
convention. Determinism contract: each bigram's
log-prob is quantized to INTEGER MICRO-UNITS (round(lp*1e6) as int64)
before aggregation, the per-doc sum is an exact int64 (order-independent
— F.avg over doubles is not, since partial-aggregation order varies),
and the division back to a mean happens exactly once at the end.
"""

from __future__ import annotations

from pyspark.sql import DataFrame
from pyspark.sql import functions as F

from llm_data_pipeline_spark.functions.text import norm_ws
from llm_data_pipeline_spark.functions.checkpoint import cut_lineage

DEFAULT_SMOOTH_K = 0.1


def _doc_bigrams(df: DataFrame, text_col: str, id_col: str) -> DataFrame:
    toked = df.select(
        F.col(id_col).alias("doc_id"),
        F.filter(F.split(norm_ws(F.col(text_col)), " "), lambda x: x != "").alias(
            "_toks"
        ),
    )
    pairs = F.when(
        F.size("_toks") < 2, F.array().cast("array<struct<w1:string,w2:string>>")
    ).otherwise(
        F.zip_with(
            F.slice("_toks", 1, F.size("_toks") - 1),
            F.slice("_toks", 2, F.size("_toks") - 1),
            lambda a, b: F.struct(a.alias("w1"), b.alias("w2")),
        )
    )
    return toked.select(
        "doc_id", F.explode_outer(pairs).alias("bg")
    ).select("doc_id", F.col("bg.w1").alias("w1"), F.col("bg.w2").alias("w2"))


def add_lm_score(
    df: DataFrame,
    text_col: str = "text",
    id_col: str = "doc_id",
    smooth_k: float = DEFAULT_SMOOTH_K,
    out_col: str = "lm_logprob",
) -> DataFrame:
    """Append the mean smoothed bigram log-probability per document.

    The model is trained on ``df`` itself (self-scoring — the in-corpus
    analog of CCNet's trusted-LM ranking; to score against a reference
    corpus, train the count tables there and join them here unchanged).
    """
    bigrams = _doc_bigrams(df, text_col, id_col).transform(cut_lineage, eager=False)
    bg_counts = (
        bigrams.where(F.col("w1").isNotNull())
        .groupBy("w1", "w2")
        .agg(F.count(F.lit(1)).alias("c12"))
    )
    uni_counts = (
        bigrams.where(F.col("w1").isNotNull())
        .groupBy("w1")
        .agg(F.count(F.lit(1)).alias("c1"))
    )
    # V = distinct unigrams over the whole token stream (left words plus
    # the final token of each doc = distinct w1 ∪ w2)
    vocab_n = (
        bigrams.select(F.col("w1").alias("w"))
        .union(bigrams.select(F.col("w2").alias("w")))
        .where(F.col("w").isNotNull())
        .distinct()
        .count()
    )
    scored = (
        bigrams.join(F.broadcast(uni_counts), "w1", "left")
        .join(F.broadcast(bg_counts), ["w1", "w2"], "left")
        .withColumn(
            "_lp_micro",
            F.when(
                F.col("w1").isNull(), F.lit(None).cast("long")
            ).otherwise(
                F.round(
                    F.log(
                        (F.coalesce(F.col("c12"), F.lit(0)) + F.lit(smooth_k))
                        / (
                            F.coalesce(F.col("c1"), F.lit(0))
                            + F.lit(smooth_k) * F.lit(float(vocab_n))
                        )
                    )
                    * F.lit(1e6),
                    0,
                ).cast("long")
            ),
        )
    )
    per_doc = scored.groupBy("doc_id").agg(
        F.sum("_lp_micro").alias("_sum_micro"),
        F.count(F.col("_lp_micro")).alias("n_bigrams"),
    ).withColumn(
        out_col,
        F.when(F.col("n_bigrams") > 0,
               F.col("_sum_micro") / (F.lit(1e6) * F.col("n_bigrams")))
        .otherwise(F.lit(0.0)),
    ).drop("_sum_micro")
    return df.join(
        per_doc.select(
            F.col("doc_id").alias(id_col), out_col, "n_bigrams"
        ),
        id_col,
        "left",
    ).fillna({out_col: 0.0, "n_bigrams": 0})
