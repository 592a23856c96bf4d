"""In-engine trained logistic-regression quality classifier.

The GPT-3/LLaMA-style corpus recipe trains a linear classifier to score
raw web documents against a trusted target slice (WebText/Wikipedia-like)
and keeps high-scoring docs. The reference pipeline treats such models as
external downloads (SURVEY §2.1 S10 — out of engine scope); this operator
instead trains the classifier INSIDE the engine with plain DataFrame ops,
so the whole loop — featurize, fit, score, select — runs where the data
is. Features are hashed unigram+bigram bucket counts per document (the
DSIR featurization of Xie et al. 2023), built by ``_doc_bucket_counts``.

Training = ``iters`` full-batch gradient-descent steps on logistic loss.
Scale shape:
- the model is ``n_buckets`` weights (bounded, default 512) — the ONLY
  driver-side state; each step collects one gradient vector of at most
  ``n_buckets`` rows and broadcasts the updated weights back;
- each step is two bucket/doc-keyed aggregates over the (checkpointed)
  feature frame — no corpus-sized driver traffic, no Python UDFs;
- featurization is computed once and localCheckpoint'ed (eager=False):
  it is consumed 2x per iteration + once for final scoring, and exchange
  reuse cannot span separate collect() jobs.

Determinism contract (stronger than lm_score's micro-unit rounding): the
ENTIRE update arithmetic is exact.
- margins are int64 micro-unit sums (order-independent);
- the link function is the ALGEBRAIC sigmoid p = 1/2 + m/(2(1+|m|))
  (Elliott 1993's fast sigmoid) — only +,*,/,abs on doubles, every one
  IEEE-correctly-rounded, hence bit-identical across engines; std::exp
  vs java.lang.Math.exp differ in the last ulp, so the classic logistic
  link could flip a micro-unit rounding at a half boundary — the
  algebraic link removes the transcendental entirely;
- per-doc error is quantized to int64 micro-units before the gradient
  sum (exact), and the weight update is PURE INTEGER rounded division
  delta = round(g / (lr_inv * N)) implemented as
  ``(|g| + D//2) // D`` with D = lr_inv * N — no float touches the
  weights, so DuckDB replays the full training trajectory exactly
  (unrolled-iteration CTEs in queries_corpus.py).
"""

from __future__ import annotations

from pyspark.sql import Column, DataFrame
from pyspark.sql import functions as F

from llm_data_pipeline_spark.functions.intmath import rounded_div
from llm_data_pipeline_spark.functions.checkpoint import cut_lineage
from llm_data_pipeline_spark.functions.hashing import portable_hash60
from llm_data_pipeline_spark.functions.localframe import local_df
from llm_data_pipeline_spark.functions.text import norm_ws

DEFAULT_BUCKETS = 512
DEFAULT_SALT = "qcls-v1:"
DEFAULT_LR_INV = 2  # learning rate = 1 / lr_inv
DEFAULT_ITERS = 3
MICRO = 1_000_000


def _doc_bucket_counts(
    df: DataFrame,
    text_col: str,
    id_col: str,
    n_buckets: int,
    salt: str,
) -> DataFrame:
    """(doc_id, bucket, c): hashed unigram+bigram feature counts per doc.

    Bigrams are rendered as "w1 w2"; a unigram can never collide with a
    bigram string (bigrams always contain a space), so one hash family
    serves both feature orders.
    """
    toked = df.select(
        F.col(id_col).alias("doc_id"),
        F.filter(F.split(norm_ws(F.col(text_col)), " "), lambda x: x != "").alias(
            "_toks"
        ),
    )
    bigrams = F.when(
        F.size("_toks") < 2, F.array().cast("array<string>")
    ).otherwise(
        F.zip_with(
            F.slice("_toks", 1, F.size("_toks") - 1),
            F.slice("_toks", 2, F.size("_toks") - 1),
            lambda a, b: F.concat_ws(" ", a, b),
        )
    )
    feats = toked.select(
        "doc_id", F.explode(F.concat(F.col("_toks"), bigrams)).alias("feat")
    )
    return (
        feats.select(
            "doc_id",
            (portable_hash60(F.concat(F.lit(salt), F.col("feat"))) % n_buckets).alias(
                "bucket"
            ),
        )
        .groupBy("doc_id", "bucket")
        .agg(F.count(F.lit(1)).alias("c"))
    )


def _err_micro(margin_micro: Column, y: Column) -> Column:
    """int64 micro-units of (fast_sigmoid(margin) - y); algebraic only."""
    md = margin_micro.cast("double") / F.lit(float(MICRO))
    q = md / (F.lit(2.0) * (F.lit(1.0) + F.abs(md)))
    return F.round(
        (F.lit(0.5) + q - y.cast("double")) * F.lit(float(MICRO)), 0
    ).cast("long")


_delta = rounded_div  # exact integer round(g / denom), half away from zero


def train_quality_classifier(
    docs: DataFrame,
    label_col: str = "y",
    text_col: str = "text",
    id_col: str = "doc_id",
    n_buckets: int = DEFAULT_BUCKETS,
    salt: str = DEFAULT_SALT,
    lr_inv: int = DEFAULT_LR_INV,
    iters: int = DEFAULT_ITERS,
) -> dict[int, int]:
    """Fit bucket weights (micro-units) by full-batch GD; returns the
    bucket -> weight dict (at most ``n_buckets`` entries)."""
    spark = docs.sparkSession
    # Repartition by doc_id BEFORE the checkpoint: every iteration runs a
    # doc-keyed aggregate (margins) and a doc-keyed join (gradient), so one
    # up-front exchange replaces 2x`iters` re-shuffles of the feature frame
    # — the checkpointed RDD carries the hash partitioning across jobs.
    feats = (
        _doc_bucket_counts(docs, text_col, id_col, n_buckets, salt)
        .repartition("doc_id")
        .transform(cut_lineage, eager=False)
    )
    labels = docs.select(
        F.col(id_col).alias("doc_id"), F.col(label_col).cast("int").alias("y")
    )
    n_docs = docs.count()
    if n_docs == 0:
        return {}
    denom = lr_inv * n_docs
    w: dict[int, int] = {}
    for _ in range(iters):
        if w:
            wdf = local_df(spark, 
                sorted(w.items()), "bucket long, w long"
            )
            margins = (
                feats.join(F.broadcast(wdf), "bucket", "left")
                .groupBy("doc_id")
                .agg(F.sum(F.col("c") * F.coalesce("w", F.lit(0))).alias("m"))
            )
        else:
            margins = feats.select("doc_id").distinct().select(
                "doc_id", F.lit(0).cast("long").alias("m")
            )
        errs = margins.join(labels, "doc_id").select(
            "doc_id", _err_micro(F.col("m"), F.col("y")).alias("err")
        )
        grad = (
            feats.join(errs, "doc_id")
            .groupBy("bucket")
            .agg(F.sum(F.col("c") * F.col("err")).alias("g"))
            .collect()  # bounded by n_buckets rows
        )
        for row in grad:
            w[row["bucket"]] = w.get(row["bucket"], 0) - _delta(int(row["g"]), denom)
    return w


def quality_classifier_scores(
    docs: DataFrame,
    weights: dict[int, int],
    text_col: str = "text",
    id_col: str = "doc_id",
    n_buckets: int = DEFAULT_BUCKETS,
    salt: str = DEFAULT_SALT,
) -> DataFrame:
    """Append ``score_micro`` (int64 margin) to every row of ``docs``;
    docs with no tokens score 0 (the link's decision point)."""
    spark = docs.sparkSession
    feats = _doc_bucket_counts(docs, text_col, id_col, n_buckets, salt)
    wdf = local_df(spark, 
        sorted(weights.items()) or [(0, 0)], "bucket long, w long"
    )
    scored = (
        feats.join(F.broadcast(wdf), "bucket", "left")
        .groupBy("doc_id")
        .agg(
            F.sum(F.col("c") * F.coalesce("w", F.lit(0)))
            .cast("long")
            .alias("score_micro")
        )
    )
    return docs.join(
        scored.select(F.col("doc_id").alias(id_col), "score_micro"),
        id_col,
        "left",
    ).fillna({"score_micro": 0})
